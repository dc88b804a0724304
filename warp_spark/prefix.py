"""Distributed running aggregates: the one two-phase prefix scan.

The reference computes a running aggregate over sorted rows (its rank
step) with a single sequential reducer (Transformer.swift:476-547). The
Spark form never moves the data to one task:

1. range-partition on the (group keys and) sort keys, so each
   partition holds one contiguous slice of the total order;
2. pin that partitioning once — ``repartitionByRange`` samples its
   bounds per materialization, and the row branch and the totals branch
   below must see the same row placement;
3. the running aggregate within each partition (an ordinary window);
4. add the exclusive prefix of the per-partition totals, a side table of
   at most (groups ×) partitions rows, broadcast back.

Every stage over the data is partition-parallel. The pin is a
``localCheckpoint(eager=False)``: it leaves no CacheManager entry, and
its blocks are released by the ContextCleaner when the frame is
garbage-collected (a ``persist`` would stay cached until someone
unpersisted it). Tradeoffs, accepted for that:

- the pin is not lazy. With adaptive execution on (the session
  default), building it runs the range-sampling job and the range
  shuffle's map stage (plus the map stage of every shuffle under it) —
  at least two jobs over the whole input when the frame is built, before
  any action and even if the frame is only asked for its schema. A
  ``persist`` ran them inside the first action;
- local checkpoint blocks are not replicated, so on a multi-executor
  cluster a lost executor fails the job instead of recomputing it.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _add(local: Column, off: Column) -> Column:
    # SQL running-SUM semantics: NULL only when every value so far is NULL
    return F.when(local.isNull() & off.isNull(), F.lit(None)).otherwise(
        F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0))
    )


# kind -> (aggregate, combiner over the per-partition totals, local ⊕ offset)
_KINDS = {
    "sum": (F.sum, F.sum, _add),
    "count": (F.count, F.sum, _add),
    "min": (F.min, F.min, F.least),
    "max": (F.max, F.max, F.greatest),
}


def running(
    df: DataFrame,
    order_cols: Sequence[Column],
    aggs: Mapping[str, tuple[str, Column]],
    group_cols: Sequence[str] = (),
    num_partitions: Optional[int] = None,
    count_col: Optional[str] = None,
) -> DataFrame:
    """``df`` plus one column per ``aggs`` entry ``name -> (kind,
    value)``: the inclusive running ``kind`` (sum, count, min or max) of
    ``value`` over ``order_cols`` within each ``group_cols`` group — the
    rows-frame window ``UNBOUNDED PRECEDING .. CURRENT ROW``. ``("count",
    F.lit(1))`` is the row's rank. With ``count_col``, that column holds
    the number of rows in the row's group, taken from the same totals
    side table (no separate count job).

    Callers pass a total order (sort keys unique per row) when a tied
    row's value matters; ties are split at arbitrary partition bounds.
    ``num_partitions`` defaults to ``spark.sql.shuffle.partitions``."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    pid = "__px_pid"
    keys = [*group_cols, pid]
    ranged = (
        df.repartitionByRange(n, *[F.col(g) for g in group_cols], *order_cols)
        .withColumn(pid, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    frame = (
        Window.partitionBy(*group_cols, pid)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the side-table windows run over ≤ (groups ×) partitions rows
    before = (
        Window.partitionBy(*group_cols)
        .orderBy(pid)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = ranged.groupBy(*keys).agg(
        *[_KINDS[k][0](v).alias(f"__px_t_{name}") for name, (k, v) in aggs.items()],
        F.count(F.lit(1)).alias("__px_rows"),
    )
    offsets = totals.select(
        *keys,
        *[
            _KINDS[k][1](f"__px_t_{name}").over(before).alias(f"__px_o_{name}")
            for name, (k, _) in aggs.items()
        ],
        *(
            [F.sum("__px_rows").over(Window.partitionBy(*group_cols)).alias(count_col)]
            if count_col
            else []
        ),
    )
    local = ranged.withColumns(
        {name: _KINDS[k][0](v).over(frame) for name, (k, v) in aggs.items()}
    )
    return (
        local.join(F.broadcast(offsets), keys, "left")
        .withColumns(
            {
                name: _KINDS[k][2](F.col(name), F.col(f"__px_o_{name}"))
                for name, (k, _) in aggs.items()
            }
        )
        .drop(pid, *[f"__px_o_{name}" for name in aggs])
    )


def ntile(
    df: DataFrame,
    order_cols: Sequence[Column],
    k: int,
    out: str,
) -> DataFrame:
    """Exact global ``ntile(k)`` over ``order_cols`` (a total order)
    without an un-partitioned window: the row's rank and the row count
    ``n`` come from one ``running`` scan, and the bucket is the SQL
    definition in closed form — the first ``n mod k`` buckets hold
    ``n div k + 1`` rows, the rest ``n div k``."""
    rn, n = "__nt_rn", "__nt_n"
    ranked = running(df, order_cols, {rn: ("count", F.lit(1))}, count_col=n)
    q, rem = f"({n} DIV {k})", f"({n} % {k})"
    cut = f"(({q} + 1) * {rem})"
    bucket = (
        f"CASE WHEN {rn} <= {cut} THEN ({rn} - 1) DIV ({q} + 1) + 1 "
        f"ELSE {rem} + ({rn} - 1 - {cut}) DIV greatest({q}, 1) + 1 END"
    )
    return ranked.withColumn(out, F.expr(bucket).cast("int")).drop(rn, n)
