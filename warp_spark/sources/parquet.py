"""Parquet reads that touch each file version once per session.

Reference: a step's ``exampleDataset`` runs the chain over a truncated
source (QBEStep.swift:98-116), and the app keeps that example data in
memory between edits (QBECacheStep.swift:100-140).

Spark-first mapping, two per-session memos keyed by *file version*:

- **Schema.** ``spark.read.parquet`` runs a schema-inference job on
  every call. The inferred schema is kept per (path, SQL conf) with a
  stamp of ``(relpath, size, mtime_ns)`` for every file under the path;
  while the stamp holds, ``spark.read.schema(memo).parquet(path)`` skips
  that job. The whole SQL conf is part of the key, because settings such
  as ``spark.sql.parquet.binaryAsString`` change what inference returns.
- **Preview sample.** A preview reads ``limit(N)`` of a source, N the
  largest preview size asked for so far, persisted once per file version
  and tagged with a marker column whose value is unique to that sample
  (plan matching erases column names, not literals). Each preview
  selects every source column of the sample under a new alias
  (``selectExpr("`c` AS `c`", …)``), then ``limit(n)``: the
  CacheManager substitutes the cached rows, the aliases drop the marker,
  and every preview read gets its own exprIds, so a self-join of one
  source stays unambiguous. The marker keeps any other plan — a plain
  ``read.limit(N)`` included — from ever matching a sample, which is
  what keeps a stale sample out of reads of a rewritten file. A sample
  stays persisted until its file or the SQL conf changes (the next
  preview then unpersists it) or the session ends.

Only local paths the driver can ``os.stat`` are memoized; anything else
(``hdfs:``/``s3a:`` URIs, globs, relative paths) is read exactly as
``spark.read.parquet`` reads it.
"""

from __future__ import annotations

import itertools
import os
import stat
import threading
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

_MARKERS = itertools.count()
_LOCK = threading.Lock()


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


@dataclass
class _Sample:
    version: tuple
    rows: int
    columns: list[str]
    df: DataFrame


class _SessionReads:
    """One session's memos: schemas by (path, conf), samples by path."""

    def __init__(self):
        self.schemas: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}
        self.samples: dict[str, _Sample] = {}

    def read(self, spark: SparkSession, path: str, stamp: tuple, conf: str) -> DataFrame:
        hit = self.schemas.get((path, conf))
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
        df = spark.read.parquet(path)
        self.schemas[(path, conf)] = (stamp, df.schema)
        return df

    def sample(self, spark: SparkSession, path: str, version: tuple, rows: int) -> _Sample:
        # check-then-replace under the lock: two threads must not both
        # persist a sample and leave one cached with no entry to unpersist it
        with _LOCK:
            s = self.samples.get(path)
            if (
                s is not None
                and s.version == version
                and s.rows >= rows
                and s.df.storageLevel != StorageLevel.NONE  # not dropped by clearCache
            ):
                return s
            if s is not None:
                if s.version == version:
                    rows = max(rows, s.rows)
                s.df.unpersist()
            read = self.read(spark, path, *version)
            marker = next(_MARKERS)
            df = read.limit(rows).withColumn(f"__warp_sample_{marker}", F.lit(marker))
            s = self.samples[path] = _Sample(version, rows, read.columns, df.persist())
            return s


# keyed by the session object: a stopped session's successor is a new
# object, so it never sees samples persisted in the old one
_SESSIONS: dict[SparkSession, _SessionReads] = {}


def _session(spark: SparkSession) -> _SessionReads:
    return _SESSIONS.setdefault(spark, _SessionReads())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version and SQL conf."""
    stamp = _local_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    return _session(spark).read(spark, path, stamp, _sql_conf(spark))


def preview_parquet(spark: SparkSession, path: str, rows: int) -> DataFrame:
    """The first ``rows`` rows of a parquet source, served from the
    session's persisted sample of that file version. The rows stay the
    same from one preview to the next until the file changes."""
    stamp = _local_stamp(path)
    if stamp is None:
        return spark.read.parquet(path).limit(rows)
    s = _session(spark).sample(spark, path, (stamp, _sql_conf(spark)), rows)
    # re-aliasing gives this read its own exprIds (a self-join of one
    # source stays unambiguous) and drops the marker in the same step;
    # one selectExpr call is ~3x cheaper than building Columns one by one
    names = ["`" + c.replace("`", "``") + "`" for c in s.columns]
    return s.df.selectExpr(*[f"{n} AS {n}" for n in names]).limit(rows)
