"""The one replay lifecycle of every streamed catalog entry.

A streamed entry replays a finite table through a Structured Streaming
file source: stage the table as parquet files in a temp directory, open
the directory as a file stream with ``ts`` made watermarkable, build the
query, drain it through a sink, remove the directory and hand back the
sink's rows. This module owns every step of that; an entry says only
what to stage (:func:`replay_events`, :func:`replay_split`), what query
to build from the stream, and which sink drains it (:func:`memory_sink`,
:func:`foreach_batch_sink`, or any callable that drains a streaming
frame, such as ``MutableTable.merge_stream``).

Staged files carry explicit mtimes: the file stream source orders new
files by modification time, so the mtimes fix the trigger order. Names
and mtimes:

- a copy staging names its files ``part_NNN`` from ``T0`` on, one second
  apart, replayed in one trigger;
- a split staging names them ``file_NNN``, ``T0 + 100·i``, one per
  trigger in class order;
- a flushed events staging names the copies ``file_NNN`` from ``T0`` and
  the flush file after them at ``T0 + 100 + NNN``, one per trigger.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from typing import Callable, Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.sources.parquet import _nullable, read_parquet
from warp_spark.streaming.windows import read_event_stream, run_stream_to_memory

# mtime of the first staged file
T0 = 1_700_000_000

Build = Callable[[DataFrame], DataFrame]
Sink = Callable[[DataFrame], Optional[DataFrame]]


def memory_sink(output_mode: str) -> Sink:
    """Drain into a uniquely named memory sink in ``output_mode`` and
    return its rows. The sink's temp view is dropped once the rows'
    frame is taken: the frame keeps the sink's plan, so it still
    collects, and the session does not keep one view per replay."""

    def drain(stream: DataFrame) -> DataFrame:
        spark = stream.sparkSession
        name = f"replay_{uuid.uuid4().hex[:8]}"
        try:
            run_stream_to_memory(stream, name, output_mode=output_mode)
            return spark.table(name)
        finally:
            spark.catalog.dropTempView(name)

    return drain


def foreach_batch_sink(fn: Callable[[DataFrame, int], None]) -> Sink:
    """Drain through ``fn(batch_df, batch_id)``, called on every
    micro-batch; the replay returns None."""

    def drain(stream: DataFrame) -> None:
        q = stream.writeStream.foreachBatch(fn).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    return drain


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    build: Build,
    sink: Sink,
    flush: Optional[DataFrame] = None,
) -> Optional[DataFrame]:
    """Replay a byte copy of ``{sf_dir}/events.parquet`` in one trigger:
    ``sink(build(stream))``. The stream borrows the source's schema from
    the session's read memo instead of inferring it from the copy.

    ``flush``, rows of the events schema, is staged as one more file
    after the copy and the files are replayed one per trigger: a
    sentinel far past the data moves the watermark over every real row,
    so an outer join emits its unmatched rows."""
    src = f"{sf_dir}/events.parquet"
    schema = read_parquet(spark, src).schema

    def stage(root: str) -> tuple:
        if flush is None:
            _stage_copies(src, root, "part", T0)
        else:
            _stage_copies(src, root, "file", T0)
            _stage_copies(flush, root, "file", T0 + 100)
        return schema, flush is not None

    return _replay(spark, stage, build, sink)


def replay_split(
    df: DataFrame, key: Column, cols: list, build: Build, sink: Sink, n: int = 3
) -> Optional[DataFrame]:
    """Replay ``df``'s ``cols`` as ``n`` files, one per residue class
    ``0..n-1`` of ``key``, one file per trigger in class order:
    ``sink(build(stream))``. The stream reads the schema the staging
    wrote, so opening it infers nothing."""
    return _replay(
        df.sparkSession,
        lambda root: (_stage_split(df, root, key, cols, n), True),
        build,
        sink,
    )


def _replay(
    spark: SparkSession, stage: Callable[[str], tuple], build: Build, sink: Sink
) -> Optional[DataFrame]:
    """Make a temp directory, ``stage(root) -> (schema, one_per_trigger)``
    into it, open it as a watermarkable file stream, drain
    ``sink(build(stream))`` and remove the directory, whatever raised."""
    root = tempfile.mkdtemp(prefix="warp_replay_")
    try:
        schema, one_per_trigger = stage(root)
        stream = read_event_stream(
            spark, root, schema, max_files_per_trigger=1 if one_per_trigger else None
        )
        return sink(build(_watermarkable(stream)))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _watermarkable(df: DataFrame) -> DataFrame:
    """``ts`` as the TIMESTAMP a watermark takes: parquet TIMESTAMP(NANOS)
    read as a nanosecond long is cut to microseconds (the truncation
    DuckDB applies), a TIMESTAMP_NTZ is cast."""
    ts = dict(df.dtypes).get("ts")
    if ts == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _stage_copies(src: Union[str, DataFrame], root: str, prefix: str, t0: int) -> None:
    """Copy a parquet source into ``root`` as sequentially named files
    with strictly increasing mtimes, numbered on from the ``prefix``
    files already staged: file ``i`` is ``{prefix}_{i:03d}.parquet`` at
    mtime ``t0 + i``. ``src`` is a single .parquet file (the testdata
    form), a Spark-written directory of part files, or a frame, written
    first as one part file."""
    if isinstance(src, DataFrame):
        tmp = os.path.join(root, "stage")
        src.coalesce(1).write.mode("overwrite").parquet(tmp)
        _stage_copies(tmp, root, prefix, t0)
        shutil.rmtree(tmp, ignore_errors=True)
        return
    parts = (
        sorted(glob.glob(os.path.join(src, "part-*.parquet")))
        if os.path.isdir(src)
        else [src]
    )
    start = len(glob.glob(os.path.join(root, f"{prefix}_*.parquet")))
    for i, p in enumerate(parts, start):
        dst = os.path.join(root, f"{prefix}_{i:03d}.parquet")
        shutil.copy(p, dst)
        os.utime(dst, (t0 + i,) * 2)


def _stage_split(df: DataFrame, root: str, key: Column, cols: list, n: int) -> T.StructType:
    """Stage ``df`` as ``n`` files ``file_{i:03d}.parquet`` at mtime
    ``T0 + 100·i``, one per residue class ``i`` of ``key``, in ONE Spark
    job: ``partitionBy`` on the residue writes one file per class (the
    partition column is dropped, so each file carries exactly ``cols``);
    in-file order is irrelevant to every consumer (order-independent
    appends, per-row scoring). Empty classes still get their (empty)
    trigger file. Returns the schema the files were written with, as a
    parquet read returns it."""
    df.select(*cols, key.alias("__b")).repartition(1).write.mode(
        "overwrite"
    ).partitionBy("__b").parquet(f"{root}/stage")
    # rows whose key is null or outside 0..n-1 land in an unclaimed
    # __b=* dir and would vanish with the stage rmtree — every current
    # caller passes a total pmod/% key, so a stray partition is a caller
    # bug, raised before any file is claimed
    stray = [
        d
        for d in glob.glob(f"{root}/stage/__b=*")
        if os.path.basename(d) not in {f"__b={i}" for i in range(n)}
    ]
    if stray:
        shutil.rmtree(f"{root}/stage", ignore_errors=True)
        raise RuntimeError(
            f"_stage_split: key produced rows outside 0..{n - 1}: "
            f"{sorted(os.path.basename(d) for d in stray)}"
        )
    for i in range(n):
        hits = glob.glob(f"{root}/stage/__b={i}/part-*.parquet")
        tgt = f"{root}/file_{i:03d}.parquet"
        if hits:
            os.rename(hits[0], tgt)
        else:
            df.limit(0).select(*cols).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{root}/stage_empty{i}")
            os.rename(
                glob.glob(f"{root}/stage_empty{i}/part-*.parquet")[0], tgt
            )
            shutil.rmtree(f"{root}/stage_empty{i}", ignore_errors=True)
        os.utime(tgt, (T0 + 100 * i,) * 2)
    shutil.rmtree(f"{root}/stage", ignore_errors=True)
    return _nullable(df.select(*cols).schema)
