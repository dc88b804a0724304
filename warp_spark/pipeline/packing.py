"""Sequence packing for LLM pretraining: concat-and-chop chunk
assignment over a document corpus.

Pretraining pipelines concatenate documents in a deterministic global
order and chop the resulting token stream into fixed-size training
chunks (context windows). The operator below computes, per document,
its global token offset and the range of chunks it lands in — entirely
as a distributed plan:

- token counts are JVM Column expressions (``text.token_count``),
- the global exclusive prefix sum reuses the two-phase distributed
  running aggregate of ``Dataset.rank`` (``prefix.running``): range
  partition on the order key → ordinary window *within* each partition
  → combine with the exclusive prefix of per-partition totals (a tiny
  N_partitions-row broadcast side table). No stage moves the full data
  to a single task, so the shape survives a 1000-executor scale-up.

The reference engine has no packing operator — this is part of the
training-data extension surface; the global running-total semantics
match its rank step (reference QBERankStep.swift:107-122) with a sum
reducer, which is exactly what ``Dataset.rank`` implements.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator
from warp_spark.dataset import Dataset, Order

from .text import token_count


def pack_chunks(
    docs: DataFrame,
    chunk_tokens: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Assign every document its place in the chopped token stream.

    Documents are ordered by ``id_col``; the token stream is the
    concatenation of their whitespace tokens; chunk ``k`` covers token
    positions ``[k*chunk_tokens, (k+1)*chunk_tokens)``.

    Returns one row per document::

        id_col, n_tokens, token_offset  (global exclusive prefix sum),
        first_chunk, last_chunk         (chunk ids touched),
        n_chunks, spans_boundary        (doc crosses a chunk edge)
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    counted = Dataset(
        docs.select(F.col(id_col), token_count(F.col(text_col)).alias("n_tokens"))
    )
    ranked = counted.rank(
        {"running_tokens": Aggregator(F.col("n_tokens"), "sum")},
        by=[Order(F.col(id_col))],
        num_partitions=num_partitions,
    ).to_df()
    off = (F.col("running_tokens") - F.col("n_tokens")).cast("long")
    first = F.floor(off / chunk_tokens).cast("long")
    last = F.floor((off + F.col("n_tokens") - 1) / chunk_tokens).cast("long")
    return (
        ranked.withColumn("token_offset", off)
        .withColumn("first_chunk", first)
        .withColumn("last_chunk", last)
        .withColumn("n_chunks", (last - first + 1).cast("long"))
        .withColumn("spans_boundary", first != last)
        .select(
            id_col,
            "n_tokens",
            "token_offset",
            "first_chunk",
            "last_chunk",
            "n_chunks",
            "spans_boundary",
        )
    )


def chunk_summary(packed: DataFrame) -> DataFrame:
    """Corpus-level packing stats from a ``pack_chunks`` result: total
    chunks, boundary-crossing document share, and mean documents per
    chunk — one aggregate, no extra pass over the text."""
    return packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("last_chunk") + 1).alias("n_chunks"),
        F.sum(F.col("spans_boundary").cast("long")).alias("boundary_docs"),
        F.round(
            F.sum("n_chunks") / (F.max("last_chunk") + 1), 6
        ).alias("avg_docs_per_chunk"),
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG/indexing layout, vs
    ``pack_chunks``' disjoint training layout): token positions
    0, stride, 2·stride, … each open a ``window``-token chunk; the final
    chunk may be short. Row-amplifying but entirely map-side — the
    per-doc chunk index sequence is built with ``sequence`` and exploded
    inside the scan's stage, so no shuffle and no Python; downstream
    embedding/indexing repartitions as it likes.

    Returns ``id_col, chunk_idx, chunk_text, chunk_tokens``.
    """
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = (
        F.floor((F.greatest(n - window, F.lit(0)) + stride - 1) / stride).cast("int") + 1
    )
    staged = docs.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"), n_chunks.alias("__nc")
    )
    return (
        staged.select(
            F.col(id_col),
            F.col("__n"),
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_idx"),
            F.col("__toks"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, window), " "
            ).alias("chunk_text"),
            F.least(F.lit(window), F.col("__n") - F.col("chunk_idx") * stride).alias(
                "chunk_tokens"
            ),
        )
    )
