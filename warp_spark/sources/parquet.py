"""Source reads that touch each file version once per session.

Reference: a step's ``exampleDataset`` runs the chain over a truncated
source (QBEStep.swift:98-116), and the app keeps that example data in
memory between edits (QBECacheStep.swift:100-140).

Spark-first mapping, per-session memos keyed by *file version*: a
stamp of ``(relpath, size, mtime_ns)`` for every file under the path,
plus the whole SQL conf (``spark.sql.parquet.binaryAsString`` and the
like change what a read returns).

- **Schema.** ``spark.read.parquet``, ``.csv`` and ``.json`` run a
  schema-inference job on every call; while the stamp holds for the
  same reader options, ``spark.read.schema(memo)`` skips it
  (``read_inferred``). A parquet directory this session just wrote
  needs no inference at all: its writer puts the schema it wrote in the
  memo under the stamp taken after its last file (``remember_parquet``).
- **Preview sample.** The first N rows of a parquet, csv or json source,
  N the largest preview size asked for so far, kept on the driver per
  (format, options, path) by ``collectAsList`` (JVM-side: no row crosses
  into Python). Each preview is a new ``LocalRelation`` over the first
  ``n`` of them: it has its own exprIds (a self-join of one source stays
  unambiguous), no other read can see it, and Catalyst's
  ``ConvertToLocalRelation`` folds projections, filters and limits over
  it at optimisation time, so such previews launch no Spark job.
- **Sample row index.** A second copy of the sample's rows carries a
  hidden ``SAMPLE_INDEX`` column, the read's
  ``monotonically_increasing_id``: it grows with the row's position in
  the sample, so the first ``n`` rows are those whose index is below
  row ``n``'s (``_Sample.bound``). A chain preview uses it to compute a
  join's output once at N and cut it down to any ``n <= N``
  (warp_spark.plans.chain); plain previews read the copy without it.
- **Prefix memo.** The last few such join outputs, kept per session
  for warp_spark.plans.chain.

Only local paths the driver can ``os.stat`` are memoized; anything else
(``hdfs:``/``s3a:`` URIs, globs, relative paths) is read as the plain
reader reads it.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Callable, Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.dataset import SAMPLE_INDEX

# prefix memos kept per session, least recently used dropped first
_PREFIXES_KEPT = 4


def _local_stamp(path: str) -> Optional[tuple]:
    """``(relpath, size, mtime_ns)`` of every file under a local absolute
    path, or None when the driver cannot stat it."""
    if path.startswith("file:"):
        path = urlparse(path).path
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for name in sorted(files):
                f = os.path.join(root, name)
                fs = os.stat(f)
                out.append((os.path.relpath(f, path), fs.st_size, fs.st_mtime_ns))
        return tuple(out)
    except OSError:  # absent, or a writer is replacing files under us
        return None


def _sql_conf(spark: SparkSession) -> str:
    # one JVM call (~0.5 ms); spark.conf.getAll is ~70x slower
    return spark._jsparkSession.sessionState().conf().getAllConfs().toString()


def read_source(
    spark: SparkSession, path: str, fmt: str = "parquet", options: Optional[dict] = None
) -> DataFrame:
    """A parquet, csv or json source; ``options`` go to the csv/json
    reader (warp_spark.sources.csv/json)."""
    if fmt == "parquet":
        return read_parquet(spark, path)
    if fmt not in ("csv", "json"):
        raise ValueError(f"unknown source format {fmt!r}")
    from warp_spark.sources import read_csv, read_json

    return (read_csv if fmt == "csv" else read_json)(spark, path, **(options or {}))


@dataclass(eq=False)  # equal only to itself: a new read is a new sample
class _Sample:
    version: tuple
    asked: int  # the N the rows were read for; the file may hold fewer
    rows: Any  # java.util.List[Row]
    schema: Any  # the JVM StructType of the rows
    indexed: Any  # the same rows, each ending in its SAMPLE_INDEX
    indexed_schema: Any

    def frame(self, spark: SparkSession, rows: Optional[int] = None,
              index: Optional[str] = None) -> DataFrame:
        """A new local relation over the first ``rows`` rows (all of
        them when None), or over all of them with their index column
        named ``index``."""
        if index is not None:
            jdf = spark._jsparkSession.createDataFrame(self.indexed, self.indexed_schema)
            return DataFrame(jdf, spark).withColumnRenamed(SAMPLE_INDEX, index)
        head = self.rows if rows is None else self.rows.subList(0, min(rows, self.rows.size()))
        return DataFrame(spark._jsparkSession.createDataFrame(head, self.schema), spark)

    def bound(self, n: int) -> Optional[int]:
        """The first ``n`` rows are those whose index is below this;
        None when the sample holds no more than ``n`` rows."""
        if n >= self.indexed.size():
            return None
        row = self.indexed.get(n)
        return row.getLong(row.length() - 1)


class _SessionReads:
    """One session's memos: schemas by (reader, path, conf), samples by
    (format, options, path), prefixes by their chain's steps."""

    def __init__(self):
        self.schemas: dict[tuple, tuple[tuple, T.StructType]] = {}
        self.samples: dict[tuple, _Sample] = {}
        self.prefixes: OrderedDict = OrderedDict()
        # one sample read at a time: a concurrent preview of the same
        # source waits for the rows instead of reading them again
        self.lock = threading.Lock()

    def read(self, key: tuple, stamp: tuple,
             read: Callable[[Optional[T.StructType]], DataFrame]) -> DataFrame:
        hit = self.schemas.get(key)
        if hit is not None and hit[0] == stamp:
            return read(hit[1])
        df = read(None)
        self.schemas[key] = (stamp, df.schema)
        return df

    def sample(self, spark, key: tuple, version: tuple, rows: int) -> _Sample:
        with self.lock:
            s = self.samples.get(key)
            if s is not None and s.version == version and s.asked >= rows:
                return s
            fmt, options, path = key
            df = read_source(spark, path, fmt, dict(options))
            jdf = df.withColumn(SAMPLE_INDEX, F.monotonically_increasing_id()).limit(rows)._jdf
            indexed = jdf.collectAsList()
            # the rows without their index, for every plain preview: a
            # collect of a local relation runs no job
            plain = spark._jsparkSession.createDataFrame(indexed, jdf.schema()).drop(SAMPLE_INDEX)
            s = self.samples[key] = _Sample(
                version, rows, plain.collectAsList(), plain.schema(), indexed, jdf.schema()
            )
            return s

    def prefix(self, key: str) -> Any:
        with self.lock:
            hit = self.prefixes.get(key)
            if hit is not None:
                self.prefixes.move_to_end(key)
            return hit

    def keep_prefix(self, key: str, value: Any) -> None:
        with self.lock:
            self.prefixes[key] = value
            self.prefixes.move_to_end(key)
            while len(self.prefixes) > _PREFIXES_KEPT:
                self.prefixes.popitem(last=False)


# weakly keyed by the session object: a session nobody holds any more
# takes its samples with it, and a stopped session's successor is a new
# object that never sees them
_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_reads(spark: SparkSession) -> _SessionReads:
    return _SESSIONS.setdefault(spark, _SessionReads())


def read_inferred(
    spark: SparkSession, key: tuple, path: str,
    read: Callable[[Optional[T.StructType]], DataFrame],
) -> DataFrame:
    """``read(None)``, which infers its schema, once per file version,
    SQL conf and reader ``key`` (format and options); ``read(schema)``
    while those hold."""
    stamp = _local_stamp(path)
    if stamp is None:
        return read(None)
    return session_reads(spark).read((*key, path, _sql_conf(spark)), stamp, read)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable: the schema
    a parquet read returns for files Spark wrote from ``dt``."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def remember_parquet(
    spark: SparkSession, path: str, schema: T.StructType, version: Optional[tuple] = None
) -> None:
    """Note that the parquet directory ``path`` was just written, without
    partition columns, from a frame of ``schema``: ``read_parquet`` of
    the same file version and SQL conf then reads it with that schema
    and runs no inference job. ``version`` is the directory's file stamp
    after its last file was written (stamped now when None); any later
    change to its files is a new version, read as before."""
    version = _local_stamp(path) if version is None else version
    if version is not None:
        key = ("parquet", path, _sql_conf(spark))
        session_reads(spark).schemas[key] = (version, _nullable(schema))


def forget_parquet(spark: SparkSession, path: str) -> None:
    """Drop the schemas the read memo holds for the parquet directory
    ``path``, under every SQL conf: its files are gone."""
    memo = session_reads(spark).schemas
    for key in list(memo):
        if key[0] == "parquet" and key[-2] == path:
            memo.pop(key, None)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version and SQL conf."""
    return read_inferred(
        spark, ("parquet",), path,
        lambda schema: (spark.read if schema is None else spark.read.schema(schema)).parquet(path),
    )


def _sample_key(path: str, fmt: str, options: Optional[dict]) -> tuple:
    return (fmt, tuple(sorted((options or {}).items())), path)


def preview_source(
    spark: SparkSession, path: str, rows: int, fmt: str = "parquet", options: Optional[dict] = None
) -> DataFrame:
    """The first ``rows`` rows of a parquet, csv or json source (read
    with ``options``), served from the session's driver-local sample of
    that file version. The rows stay the same from one preview to the
    next until the file changes."""
    stamp = _local_stamp(path)
    if stamp is None:
        return read_source(spark, path, fmt, options).limit(rows)
    key = _sample_key(path, fmt, options)
    # a new relation per preview: its own exprIds, and nothing to re-alias
    return session_reads(spark).sample(spark, key, (stamp, _sql_conf(spark)), rows).frame(spark, rows)


def current_sample(
    spark: SparkSession, path: str, rows: int, fmt: str = "parquet", options: Optional[dict] = None
) -> Optional[_Sample]:
    """The session's sample of the source's current file version if it
    was read for at least ``rows`` rows, else None. Reads nothing."""
    stamp = _local_stamp(path)
    if stamp is None:
        return None
    s = session_reads(spark).samples.get(_sample_key(path, fmt, options))
    if s is None or s.version != (stamp, _sql_conf(spark)) or s.asked < rows:
        return None
    return s
