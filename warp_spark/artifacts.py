"""The one lifecycle of every persisted artifact (dedup minhash bands,
BM25 postings, IVF-PQ codes, graph edge/wedge censuses, t-digest
sketches): stamp → ensure → publish → mutate.

- **Stamp.** An artifact's stamp is one line: its build parameters
  over :func:`table_fingerprint` of its source table (``n=<rows>
  xxh=<sum of row hashes>``), or over the stamp of the artifact it is
  built from.  Each source table is scanned once per file version
  within the process, however many artifacts derive from it.
- **Ensure.** :func:`ensure` compares the stamp with the artifact's
  completion marker and publishes a fresh build when they differ.
- **Publish.** :func:`publish_artifact` builds into a unique sibling
  scratch directory, writes the marker last inside it, and swaps the
  finished tree into place under an exclusive flock.  A build that
  reports the schema it wrote has the tree read back without a
  schema-inference job.
- **Mutate.** :func:`mutate` runs a mutation verb (append, delete,
  compact) on a published artifact: the marker holds a sentinel while the
  mutation runs, so a crash leaves a marker that matches no stamp and
  the next :func:`ensure` rebuilds; a mutation that refuses publishes a
  rebuild instead.  :func:`ensure_appended` is :func:`ensure` for an
  artifact built as a base plus an in-place append.

The pipeline modules' mutation verbs (append, delete, compact, the
wedge-census fold) run whole under the artifact's root lock
(:func:`locked_mutation`) and decide only which rows to add or remove;
every file they change goes through :func:`rewrite`.  It writes the
new rows of one table into a scratch tree, hard-links in the standing
files the change keeps (all of them for an append, the untouched
partitions for a delete, none for a compaction) and the markers of a
flat root, and swaps the table whole.  A build and a rewrite share the
scratch → swap → remember steps.

Swap-window note: POSIX cannot atomically exchange two directories from
Python (``renameat2(RENAME_EXCHANGE)`` is not exposed), so the swap is
two renames — old tree out to a unique trash name, new tree in — and
the reader-visible missing-directory window is two rename syscalls, not
a recursive ``rmtree`` of the whole old tree.  Writers serialize on the
``<path>.lock`` flock; readers stay lock-free (they re-ensure on a
missing/stale marker, the standing self-heal contract).
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from warp_spark.sources.parquet import _local_stamp, read_parquet, remember_parquet

__all__ = [
    "artifact_path",
    "table_fingerprint",
    "read_marker",
    "publish_artifact",
    "ensure",
    "mutate",
    "ensure_appended",
    "copy_artifact",
    "unique_sibling_tmp",
    "swap_artifact_dir",
    "locked_mutation",
    "rewrite",
]


def artifact_path(prefix: str, sf_dir: str) -> str:
    """Shared-tempdir location of a persisted per-dataset artifact.  The
    name keys on a hash of the absolute ``sf_dir``, so two datasets that
    share a basename never rebuild each other's artifact; the basename
    stays in the name for debugging."""
    ap = os.path.abspath(os.path.normpath(sf_dir))
    h = hashlib.sha256(ap.encode("utf-8")).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{os.path.basename(ap)}_{h}")


_FINGERPRINTS: dict = {}


def table_fingerprint(spark: SparkSession, src: str) -> str:
    """``n=<rows> xxh=<sum>`` of the parquet table at ``src``: its row
    count and the exact sum of every row's xxhash64 over all its
    columns and their null flags (xxhash64 skips a null, so without the
    flags ``(NULL, 1)`` and ``(1, NULL)`` would hash alike).  Memoized per absolute path and file version of ``src``
    (size and mtime of every file under it) within the process: the
    scan is what detects a content change, but while no file changed
    its answer cannot have either.  A source the driver cannot stat is
    scanned on every call and never cached."""
    ap = os.path.abspath(src)
    version = _local_stamp(ap)
    if version is None:
        return _fingerprint_scan(spark, src)
    hit = _FINGERPRINTS.get(ap)
    if hit is not None and hit[0] == version:
        return hit[1]
    fp = _fingerprint_scan(spark, src)
    _FINGERPRINTS[ap] = (version, fp)
    return fp


def _fingerprint_scan(spark: SparkSession, src: str) -> str:
    df = read_parquet(spark, src)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*df.columns, *[F.isnull(c) for c in df.columns]).cast("decimal(38,0)")
        ).alias("xxh"),
    ).first()
    return f"n={row['n']} xxh={row['xxh']}"


def read_marker(path: str, marker: str) -> str | None:
    """The text of the artifact's completion marker, or None."""
    try:
        with open(os.path.join(path, marker)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def _write_marker(path: str, marker: str, text: str) -> None:
    with open(os.path.join(path, marker), "w") as f:
        f.write(text + "\n")


def publish_artifact(path: str, marker: str, stamp: str, build) -> None:
    """Build a fresh artifact and swap it into place: ``build(tmp)``
    writes into a unique sibling scratch directory, the marker is written
    last inside it, then the tree replaces ``path`` under the flock.  A
    concurrent reader never sees a half-built tree and two concurrent
    builders never share a scratch tree; a build that raises leaves the
    published tree as it was.

    A build that writes one parquet tree at ``tmp`` itself returns the
    ``StructType`` it wrote (any other return value is ignored); the
    active session's read memo then holds it for the published tree's
    file version, marker included, so the first read-back infers
    nothing (warp_spark.sources.parquet)."""

    def fill(tmp: str):
        written = build(tmp)
        _write_marker(tmp, marker, stamp)
        return written

    _replace(path, "build", fill, _root_lock(path), SparkSession.getActiveSession())


def ensure(path: str, marker: str, stamp: str, build, rebuild: bool = False) -> tuple:
    """``(path, stamp)`` after publishing ``build`` unless the marker
    already reads ``stamp``; ``rebuild`` publishes regardless.  The stamp
    comes back so a dependent artifact can chain it into its own."""
    if rebuild or read_marker(path, marker) != stamp:
        publish_artifact(path, marker, stamp, build)
    return path, stamp


def mutate(path, marker, sentinel, apply, label, rebuild=None, rebuild_label=None) -> None:
    """Change the published artifact at ``path`` in place.  The marker
    reads ``sentinel`` while ``apply()`` runs and ``label`` after it
    returns true; a sentinel matches no stamp, so a mutation that raises
    leaves an artifact the next :func:`ensure` rebuilds rather than
    mutates twice.  ``apply()`` returns false when the mutation refuses
    (its preconditions do not hold); then ``rebuild`` is published under
    ``rebuild_label`` (default ``label``)."""
    _write_marker(path, marker, sentinel)
    if apply():
        _write_marker(path, marker, label)
    else:
        publish_artifact(path, marker, rebuild_label or label, rebuild)


def ensure_appended(path, marker, stamp, base, append, rebuild=None) -> str:
    """``path`` after building it as a base plus an in-place append,
    unless the marker already reads ``stamp``: ``base(tmp)`` is
    published under a label no stamp matches, then ``append()`` runs
    under the ``appending`` sentinel and the marker reads ``stamp``.
    An append that refuses publishes ``rebuild`` under ``stamp``
    instead (:func:`mutate`), so the fast path never decides what the
    artifact holds."""
    if read_marker(path, marker) != stamp:
        publish_artifact(path, marker, "base only", base)
        mutate(path, marker, "appending", append, stamp, rebuild)
    return path


def copy_artifact(src: str, dst: str) -> None:
    """Replace ``dst`` with a file-tree copy of the artifact at ``src`` —
    the starting state of a demonstration that mutates the copy."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


@contextlib.contextmanager
def _root_lock(path: str):
    """The exclusive ``<path>.lock`` flock that every writer of the
    artifact rooted at ``path`` serializes on."""
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def locked_mutation(fn):
    """Run a mutation verb ``fn(spark, path, ...)`` whole under the
    root lock of the index at ``path``: its precondition reads, its
    verification and every :func:`rewrite` it makes.  Two verbs on one
    index therefore never interleave, and two appends cannot both pass
    a precondition before either writes.  Readers stay lock-free."""

    @functools.wraps(fn)
    def wrapper(spark, path, *args, **kwargs):
        with _root_lock(path):
            return fn(spark, path, *args, **kwargs)

    return wrapper


def rewrite(
    path: str,
    rows: DataFrame,
    by: str | None = None,
    append: bool = False,
    touched: list | None = None,
) -> None:
    """Replace the parquet table at ``path`` (a sub-table of an index,
    or the root of a flat artifact) with ``rows``, which have its
    schema, plus the old files the change leaves standing:

    - ``append``: every old part file stays and the rows add files;
    - ``touched``, with ``by``: the rows replace the partitions of
      ``by`` holding these values, and every other partition stays;
    - neither: the rows are the whole new table.

    The rows are written (partitioned by ``by``) into a unique sibling
    scratch tree; rows that replace partitions are first hash-clustered
    by ``by``, one file per partition directory.  The standing files
    and the top-level markers are hard-linked in beside them, and the
    tree is swapped in whole.  The caller holds the root lock
    (:func:`locked_mutation`).  An unpartitioned table is read back
    with the schema of ``rows``, running no inference job."""
    old = os.listdir(path)
    if by is not None and not append:
        n = len(touched) if touched is not None else sum(e.startswith(f"{by}=") for e in old)
        rows = rows.repartition(max(n, 1), by)
    gone = {f"{by}={v}" for v in touched} if touched is not None else None

    def fill(tmp: str) -> StructType | None:
        w = rows.write.mode("overwrite")
        (w if by is None else w.partitionBy(by)).parquet(tmp)
        for name in old:
            if name.startswith("_") or append or (gone is not None and name not in gone):
                _link_tree(os.path.join(path, name), os.path.join(tmp, name))
        return rows.schema if by is None else None

    _replace(path, "rewrite", fill, contextlib.nullcontext(), rows.sparkSession)


def _link_tree(src: str, dst: str) -> None:
    """Hard-link the file or tree ``src`` to ``dst``, keeping whatever
    ``dst`` already holds."""
    if os.path.isdir(src):
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            _link_tree(os.path.join(src, name), os.path.join(dst, name))
    elif not os.path.exists(dst):
        os.link(src, dst)


def _replace(path: str, tag: str, fill, lock, spark: SparkSession | None) -> None:
    """Fill a unique sibling scratch tree with ``fill(tmp)``, swap it in
    for ``path`` under ``lock`` and reclaim the old tree.  A fill that
    returns the ``StructType`` of the one parquet table it wrote has the
    new tree read back with that schema (warp_spark.sources.parquet).
    A fill that raises leaves ``path`` as it was."""
    tmp = unique_sibling_tmp(path, tag=tag)
    try:
        written = fill(tmp)
        version = _local_stamp(tmp)  # a rename keeps every file's stamp
        with lock:
            trash = _swap(path, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if trash is not None:
        shutil.rmtree(trash, ignore_errors=True)
    if isinstance(written, StructType) and spark is not None:
        remember_parquet(spark, path, written, version)


def unique_sibling_tmp(path: str, tag: str = "build") -> str:
    """A fresh, uniquely-named scratch directory NEXT TO ``path`` (same
    filesystem, so the final ``rename`` is atomic), private to this
    builder: concurrent builds each get their own tree instead of
    clobbering a shared ``<path>.build``."""
    parent = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(parent, exist_ok=True)
    return tempfile.mkdtemp(
        prefix=os.path.basename(path) + f".{tag}.", dir=parent
    )


def _swap(path: str, tmp: str) -> str | None:
    """The two-rename swap itself; caller must hold the covering lock.
    Returns the trash directory to reclaim (outside the lock), if any."""
    trash = None
    if os.path.exists(path):
        # reserve a unique sibling name, then vacate it for the
        # rename (the covering flock is held, so no other writer
        # races for the name)
        trash = tempfile.mkdtemp(
            prefix=os.path.basename(path) + ".trash.",
            dir=os.path.dirname(os.path.abspath(path)) or ".",
        )
        os.rmdir(trash)
        os.rename(path, trash)
    os.rename(tmp, path)
    return trash


def swap_artifact_dir(path: str, tmp: str) -> None:
    """Atomically install the finished tree ``tmp`` as ``path`` under
    an exclusive ``<path>.lock`` flock.  The displaced old tree is
    renamed aside first (two cheap renames back-to-back) and reclaimed
    only after the lock is released, so a lock-free reader's worst case
    is a momentary ENOENT between renames — never a half-deleted or
    half-built directory."""
    with _root_lock(path):
        trash = _swap(path, tmp)
    if trash is not None:
        shutil.rmtree(trash, ignore_errors=True)
