"""Source reads that touch each file version once per session.

Reference: a step's ``exampleDataset`` runs the chain over a truncated
source (QBEStep.swift:98-116), and the app keeps that example data in
memory between edits (QBECacheStep.swift:100-140).

Spark-first mapping, two per-session memos keyed by *file version*: a
stamp of ``(relpath, size, mtime_ns)`` for every file under the path,
plus the whole SQL conf (``spark.sql.parquet.binaryAsString`` and the
like change what a read returns).

- **Schema.** ``spark.read.parquet`` runs a schema-inference job on
  every call; while the stamp holds, ``spark.read.schema(memo)`` skips it.
- **Preview sample.** The first N rows of a parquet, csv or json source,
  N the largest preview size asked for so far, kept on the driver per
  (format, options, path) by ``collectAsList`` (JVM-side: no row crosses
  into Python). Each preview is a new ``LocalRelation`` over the first
  ``n`` of them: it has its own exprIds (a self-join of one source stays
  unambiguous), no other read can see it, and Catalyst's
  ``ConvertToLocalRelation`` folds projections, filters and limits over
  it at optimisation time, so such previews launch no Spark job.

Only local paths the driver can ``os.stat`` are memoized; anything else
(``hdfs:``/``s3a:`` URIs, globs, relative paths) is read as the plain
reader reads it.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from dataclasses import dataclass
from typing import Any, Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


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


@dataclass
class _Sample:
    version: tuple
    asked: int  # the N the rows were read for; the file may hold fewer
    rows: Any  # java.util.List[Row]
    schema: Any  # the JVM StructType of the rows


class _SessionReads:
    """One session's memos: schemas by (path, conf), samples by
    (format, options, path)."""

    def __init__(self):
        self.schemas: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}
        self.samples: dict[tuple, _Sample] = {}
        # one sample read at a time: a concurrent preview of the same
        # source waits for the rows instead of reading them again
        self.lock = threading.Lock()

    def read(self, spark: SparkSession, path: str, stamp: tuple, conf: str) -> DataFrame:
        hit = self.schemas.get((path, conf))
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
        df = spark.read.parquet(path)
        self.schemas[(path, conf)] = (stamp, df.schema)
        return df

    def sample(self, spark, key: tuple, version: tuple, rows: int) -> _Sample:
        with self.lock:
            s = self.samples.get(key)
            if s is not None and s.version == version and s.asked >= rows:
                return s
            fmt, options, path = key
            jdf = read_source(spark, path, fmt, dict(options)).limit(rows)._jdf
            s = self.samples[key] = _Sample(version, rows, jdf.collectAsList(), jdf.schema())
            return s


# weakly keyed by the session object: a session nobody holds any more
# takes its samples with it, and a stopped session's successor is a new
# object that never sees them
_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session(spark: SparkSession) -> _SessionReads:
    return _SESSIONS.setdefault(spark, _SessionReads())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version and SQL conf."""
    stamp = _local_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    return _session(spark).read(spark, path, stamp, _sql_conf(spark))


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
    key = (fmt, tuple(sorted((options or {}).items())), path)
    s = _session(spark).sample(spark, key, (stamp, _sql_conf(spark)), rows)
    # a new relation per preview: its own exprIds, and nothing to re-alias
    head = s.rows.subList(0, min(rows, s.rows.size()))
    return DataFrame(spark._jsparkSession.createDataFrame(head, s.schema), spark)
