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
- **Mutate.** :func:`mutate` changes a published artifact in place
  (append, delete, compact): the marker holds a sentinel while the
  mutation runs, so a crash leaves a marker that matches no stamp and
  the next :func:`ensure` rebuilds; a mutation that refuses publishes a
  rebuild instead.  :func:`ensure_appended` is :func:`ensure` for an
  artifact built as a base plus an in-place append.

The pipeline modules' mutation verbs and compaction finishers share the
same lock and swap (:func:`index_mutation`, :func:`swap_artifact_dir`).

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

from pyspark.sql import SparkSession
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
    "index_mutation",
    "locked_mutation",
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
    tmp = unique_sibling_tmp(path, tag="build")
    try:
        written = build(tmp)
        _write_marker(tmp, marker, stamp)
        version = _local_stamp(tmp)  # a rename keeps every file's stamp
        swap_artifact_dir(path, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if isinstance(written, StructType):
        spark = SparkSession.getActiveSession()
        if spark is not None:
            remember_parquet(spark, path, written, version)


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
def index_mutation(path: str):
    """Hold the canonical ``<path>.lock`` flock across an ENTIRE
    read-verify-write mutation of the artifact rooted at ``path`` —
    the one lock every mutation verb (append / delete / compact)
    serializes on (r13 verdict item 3: the verbs previously locked
    per-subtree inconsistently — bands under ``<path>.lock`` but
    shingles under ``<path>/shingles.lock``, postings under their own
    lock, appends under none — so two different verbs on the same
    index serialized only when they happened to pick the same lock
    file).  Holding the root lock across the whole verify+mutate span
    also closes the TOCTOU the per-swap locks left open: two
    concurrent appends could both pass the cap/no-re-append
    precondition and then both append.

    Sub-artifact swaps inside the span call
    ``swap_artifact_dir(..., locked=True)`` — they are already
    serialized by this lock, and taking their own per-subtree flock
    would add nothing (different lock file) while suggesting mutual
    exclusion that does not exist.

    Readers stay lock-free (the standing self-heal contract): the
    worst case they observe is a momentary missing sub-directory
    between the two renames of a swap."""
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def locked_mutation(fn):
    """Decorator form of :func:`index_mutation` for the mutation verbs,
    whose shared signature is ``fn(spark, path, ...)`` with ``path``
    the index root: the whole verb — precondition reads, verification
    joins, file appends, sub-artifact swaps, and the stats overwrite —
    runs under one exclusive ``<path>.lock``.  Any internal
    ``swap_artifact_dir`` call must pass ``locked=True`` (re-taking
    the same lock file on a fresh file description would
    self-deadlock)."""

    @functools.wraps(fn)
    def wrapper(spark, path, *args, **kwargs):
        with index_mutation(path):
            return fn(spark, path, *args, **kwargs)

    return wrapper


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


def swap_artifact_dir(path: str, tmp: str, locked: bool = False) -> None:
    """Atomically install the finished tree ``tmp`` as ``path`` under
    an exclusive ``<path>.lock`` flock.  The displaced old tree is
    renamed aside first (two cheap renames back-to-back) and reclaimed
    only after the lock is released, so a lock-free reader's worst case
    is a momentary ENOENT between renames — never a half-deleted or
    half-built directory.

    ``locked=True`` skips taking ``<path>.lock``: the caller asserts
    it already holds a lock covering this swap (the
    :func:`index_mutation` root lock for a sub-artifact swap inside a
    mutation verb — flock is per-open-file-description, so re-taking
    the SAME lock file here would self-deadlock, and taking a
    per-subtree lock file would serialize against nothing)."""
    if locked:
        trash = _swap(path, tmp)
    else:
        with open(path + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                trash = _swap(path, tmp)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
    if trash is not None:
        shutil.rmtree(trash, ignore_errors=True)
