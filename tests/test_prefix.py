"""The distributed prefix scan (warp_spark/prefix.py) pins its range
partitioning without leaving anything cached behind."""

from __future__ import annotations

from pyspark.sql import functions as F

from warp_spark import Aggregator, Dataset, Order
from warp_spark.sampling import deterministic_shuffle_global, token_budget_fill


def test_prefix_scans_leave_no_cache_entry(spark):
    """Each caller's pin is a local checkpoint, released with its frame:
    a ``persist`` pin would stay in the CacheManager after the action."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("g"), (F.col("id") % 7).alias("w")
    )
    ranked = Dataset(df).rank(
        {"r": Aggregator(F.col("w"), "sum")}, [Order("doc_id")], num_partitions=4
    )
    assert ranked.to_df().count() == 200
    assert deterministic_shuffle_global(df, num_partitions=4).count() == 200
    assert token_budget_fill(df, "g", "w", budget=50, num_partitions=4).count() > 0
    assert cm.numCachedEntries() == before
