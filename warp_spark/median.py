"""Scale-safe exact grouped medians.

The reducer tier computes exact medians as ``array_sort(collect_list)``
inside the aggregate (aggregators.py) — correct, and fine while a
group's values fit one buffer, which matches the reference's single-node
reality (MedianReducer, Function.swift:2136-2189). At 100 TB a hot group
would materialize its whole value set in one task.

``grouped_median`` computes the same exact result with NO array
materialization: one window pass ranks values within each group
(shuffle on the group key, external sort — spillable), and the two
middle ranks aggregate per group. Memory per task is O(1); the sort is
Spark's standard spill-to-disk path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp_spark.values import pack_escape, to_number

VARIANTS = ("median", "medianLow", "medianHigh", "medianPack")


def grouped_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    variant: str = "median",
    out_col: str = "median",
) -> DataFrame:
    """Exact per-group median of the numeric coercion of ``value_col``
    (non-numeric values ignored, like the reducer tier). ``variant``:
    ``median`` averages the two middle values on ties, ``medianLow`` /
    ``medianHigh`` take the lower/upper, ``medianPack`` packs both
    (reference tie semantics, Function.swift:2136-2189).

    ``group_cols`` must be non-empty: with no keys the rank window would
    run over every value on one task. An ungrouped median belongs to the
    reducer tier (aggregators.py)."""
    if variant not in VARIANTS:
        raise ValueError(f"unknown median variant {variant!r}")
    g = list(group_cols)
    if not g:
        raise ValueError(
            "grouped_median needs group_cols; an ungrouped median is a reducer "
            "(warp_spark.aggregators)"
        )
    v = to_number(F.col(value_col))
    w = Window.partitionBy(*g).orderBy(v)
    ranked = (
        df.withColumn("__mv", v)
        .filter(F.col("__mv").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy(*g)))
    )
    lo_rn = ((F.col("__cnt") + 1) / 2).cast("int")
    hi_rn = (F.col("__cnt") / 2 + 1).cast("int")
    picked = ranked.filter((F.col("__rn") == lo_rn) | (F.col("__rn") == hi_rn))
    lo = F.min(F.when(F.col("__rn") == lo_rn, F.col("__mv")))
    hi = F.max(F.when(F.col("__rn") == hi_rn, F.col("__mv")))
    agg = picked.groupBy(*g).agg(lo.alias("__lo"), hi.alias("__hi"))
    if variant == "median":
        out = (F.col("__lo") + F.col("__hi")) / 2
    elif variant == "medianLow":
        out = F.col("__lo")
    elif variant == "medianHigh":
        out = F.col("__hi")
    else:  # medianPack — integral values render without ".0"
        from warp_spark.values import integral_string

        out = F.array_join(
            F.transform(
                F.array(F.col("__lo"), F.col("__hi")),
                lambda x: pack_escape(integral_string(x)),
            ),
            ",",
        )
    return agg.select(*g, out.alias(out_col))
