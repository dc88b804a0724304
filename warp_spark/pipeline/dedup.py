"""Deduplication operators for training-data pipelines.

Five tiers, all partition-friendly:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle on
  the hash, no driver involvement.
- **MinHash + LSH**: shingle → K min-hashes → B bands → bucket-join.
  The band explode produces B rows per doc; the self-join shuffles on
  (band_idx, band_value) — bucket sizes stay small when the data has
  few near-dups, and AQE's skew-join handles pathological buckets.
- **n-gram Jaccard**: exact verification of candidate pairs (from LSH
  buckets or any bounded pairing) via array intersection/union.
- **SimHash**: 64-bit signature via an Arrow-vectorized pandas UDF;
  Hamming-band join finds near pairs.
- **embedding cosine**: see similarity.py (same kernel).

Hash choice: md5 (not xxhash64) — deterministic, available identically
in every engine, so results are differentially testable; lexicographic
min over fixed-width hex strings is a valid min-hash.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.artifacts import locked_mutation
from warp_spark.localdf import small_rows_df
from warp_spark.pipeline.text import fingerprint, tokens

DEFAULT_NUM_HASHES = 12
DEFAULT_BAND_SIZE = 2


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; short docs fall back to one
    whole-text shingle so every doc has a non-empty set.

    Built by zipping n shifted copies of the token array instead of
    indexing into it from a per-position lambda: ``slice(t, i+1, n)``
    inside a ``transform`` lambda re-evaluates the whole token tree
    (regex split of the text) once per position — O(tokens) splits per
    row, measured ~1 ms/row. The zip_with form evaluates each shifted
    copy once: n splits per row total. zip_with pads the shorter side
    with null and concat propagates it, so the tail positions with
    fewer than n tokens null out and are filtered."""
    t = tokens(text)
    sz = F.greatest(F.size(t), F.lit(1))
    grams = t
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(t, j + 1, sz),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.filter(grams, lambda g: g.isNotNull())
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(t, " "))
    )


def md5_hash_pair(s: Column) -> Column:
    """Two independent 32-bit hashes from ONE md5: (h1, h2) = the first
    and second 8 hex chars as integers. Engine-portable bit-for-bit
    (DuckDB: ``('0x'||substring(md5(s),1,8))::BIGINT``).

    Caveat: inside a HOF lambda the shared ``md5(s)`` subtree is
    evaluated once per struct field (no common-subexpression
    elimination in lambdas — see bloom_positions_from_hex in text.py
    for the staged-hex pattern). Only the non-default signature tier
    uses this in a lambda (the default tier is the Arrow UDF), so the
    2× stays off the hot path."""
    h = F.md5(s)
    return F.struct(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
    )


def xxhash_pair(s: Column) -> Column:
    """Production hash tier: xxhash64 is a codegen'd JVM intrinsic —
    faster than md5-hex, not reproducible in other engines (use for
    real runs, not differential tests)."""
    h = F.xxhash64(s)
    return F.struct(
        F.shiftrightunsigned(h, 32).alias("h1"),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("h2"),
    )


def minhash_from_pairs(pairs: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """Signature from a (h1, h2) pair array: hash k is ``h1 + k·h2``
    (Kirsch-Mitzenmacher double hashing; exact in 64-bit — values stay
    < 2^36).

    Shaped as ONE ``aggregate`` pass over the pair array (element-wise
    running min against a k-vector) rather than K independent
    ``array_min(transform(pairs, …))`` columns: in that form CollapseProject
    legally inlines the upstream hash/shingle tree into the per-k lambda
    (it is referenced once *textually*) and it then executes K times per
    row — measured 12× slowdown at K=12. ``aggregate`` evaluates its
    input exactly once no matter what gets inlined into it."""
    ks = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    init = F.array_repeat(F.lit(2**63 - 1), num_hashes)
    return F.aggregate(
        pairs,
        init,
        lambda acc, p: F.zip_with(acc, ks, lambda a, k: F.least(a, p["h1"] + k * p["h2"])),
    )


def minhash_signature(
    sh: Column, num_hashes: int = DEFAULT_NUM_HASHES, hash_pair=md5_hash_pair
) -> Column:
    """K min-hashes from a shingle array — one md5 per shingle, K
    derived hashes (see minhash_from_pairs). Convenience composition;
    inside a pipeline prefer staging ``transform(sh, hash_pair)`` as a
    column first so the hash pass is evaluated once (the naive
    K-independent-columns form duplicated the shingle tree K²× once
    bands indexed into it — measured 100+ s of plan/codegen at 500
    docs)."""
    return minhash_from_pairs(F.transform(sh, hash_pair), num_hashes)


def lsh_bands(sig: Column, num_hashes: int = DEFAULT_NUM_HASHES, band_size: int = DEFAULT_BAND_SIZE) -> Column:
    """Concatenate signature slices into band values: docs sharing any
    band value become candidate pairs. ``sig`` should be a materialized
    column (see minhash_lsh_candidates), referenced — not recomputed —
    per band."""
    n_bands = num_hashes // band_size
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.concat_ws(
            "|",
            *[F.element_at(sig, (b * band_size + j + 1).cast("int")) for j in range(band_size)],
        ),
    )


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_sig64_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched minhash signature: same math as the JVM expression
    chain (shingles → md5 (h1,h2) → min over h1+k·h2, K=12), verified
    bit-identical in tests. ~3× faster than the HOF expression tree at
    equal semantics (md5-hex through expressions is interpreter-bound);
    per-batch shingle-hash cache exploits vocabulary repetition. Used
    for the default md5 tier only — custom hash_pair functions take the
    JVM path."""
    import numpy as np

    K = DEFAULT_NUM_HASHES
    ks = np.arange(K, dtype=np.int64)
    cache: dict = {}

    def pair(sh):
        p = cache.get(sh)
        if p is None:
            hx = hashlib.md5(sh.encode()).hexdigest()
            p = (int(hx[:8], 16), int(hx[8:16], 16))
            cache[sh] = p
        return p

    def one(t):
        if t is None:
            return None
        toks = t.lower().split()
        if len(toks) >= 3:
            shs = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        else:
            shs = {" ".join(toks)}
        sig = np.full(K, 2**63 - 1, dtype=np.int64)
        for sh in shs:
            h1, h2 = pair(sh)
            np.minimum(sig, h1 + ks * h2, out=sig)
        return sig.tolist()

    return text.map(one)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Canonical-id assignment by normalized-text fingerprint: every doc
    maps to min(id) of its hash group; is_dup marks non-canonical rows.

    One hash-partitioned window — equivalent to groupBy+join-back but
    one shuffle cheaper."""
    from pyspark.sql import Window

    fp = fingerprint(F.col(text_col))
    w = Window.partitionBy("fingerprint")
    return (
        df.withColumn("fingerprint", fp)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "fingerprint", "canonical_id", "is_dup")
    )



def bucket_pair_lists(m: Column, pair) -> Column:
    """All unordered element pairs (i < j) of a collected bucket array,
    expanded JVM-side with higher-order functions — the shared kernel of
    every bucket-join near-dup finder (minhash, simhash, winnowing).
    ``pair(x, y)`` builds the emitted struct. The 1-based ``slice``
    offset and the empty-slice guard are the fiddly parts; keep them in
    exactly one place."""
    return F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.greatest(F.size(m) - i - 1, F.lit(0))),
                lambda y: pair(x, y),
            ),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    hash_pair=md5_hash_pair,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing ≥1 LSH band.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Each stage is materialized as a real column in its own projection so
    Catalyst references (not re-inlines) the previous stage's tree —
    CollapseProject keeps multi-use non-cheap aliases as-is.

    Shape: groupBy(band) → collect_list → HOF pair expansion (same as
    simhash_near_pairs), NOT a banded self-join: two shuffles total
    (band, pair-dedup), the signature pipeline evaluates once per doc by
    dataflow (the self-join needed a persist to avoid double-eval, which
    leaked a cache entry per call), and nothing is ever broadcast.
    Buckets over ``max_bucket_size`` are dropped as non-discriminative
    (quadratic pair cost, no near-dup signal); at larger corpora widen
    bands (bigger band_size) rather than raising the cap."""
    if hash_pair is md5_hash_pair and num_hashes == DEFAULT_NUM_HASHES:
        # default tier: Arrow-batched signature (bit-identical to the
        # expression chain — tested), ~2× faster; ensure the CPU-heavy
        # UDF stage gets a partition per core
        from warp_spark.skew import ensure_min_partitions

        sig = ensure_min_partitions(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col), minhash_sig64_udf(F.col(text_col)).alias("__sig")
        )
    else:
        sig = (
            df.select(F.col(id_col), shingles(F.col(text_col)).alias("__sh"))
            .select(F.col(id_col), F.transform(F.col("__sh"), hash_pair).alias("__hp"))
            .select(
                F.col(id_col),
                minhash_from_pairs(F.col("__hp"), num_hashes).alias("__sig"),
            )
        )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(lsh_bands(F.col("__sig"), num_hashes, band_size)).alias(
            "band_idx", "band_val"
        ),
    )
    buckets = banded.groupBy("band_idx", "band_val").agg(
        F.collect_list(F.col(id_col)).alias("m")
    )
    m = F.col("m")
    pair_lists = bucket_pair_lists(
        m,
        lambda x, y: F.struct(
            F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
        ),
    )
    return (
        buckets.filter(F.size(m).between(2, max_bucket_size))
        .select(F.explode(pair_lists).alias("p"))
        .select("p.*")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for the given (id_a, id_b) candidate pairs.
    jaccard = |A∩B| / |A∪B| over distinct shingle sets.

    The shingle pass runs over the whole corpus even though only docs in
    candidate pairs matter — deliberately: a semi-join prefilter on
    ``pair_df`` would re-execute the (unmaterialized) candidate
    pipeline, which itself shingles the corpus, costing more than it
    saves (measured 2×). If candidates are already MATERIALIZED
    (checkpointed between stages, the normal shape at 100 TB), pre-slim
    the corpus at the call site:
    ``df.join(pairs.select(col("id_a").alias(id)).union(...).distinct(),
    id, "semi")``."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
    j = (
        pair_df.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF tier: per-token md5 + bit voting)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens; md5-derived token hashes
    (deterministic across runs/engines). Arrow-batched; the bit voting
    is one numpy broadcast per doc instead of a 64×tokens Python loop
    (measured ~10× on 300-char docs). Token hashes are cached per batch:
    natural-language vocabulary is far smaller than the token stream, so
    md5 runs once per distinct token, not once per occurrence."""
    import numpy as np

    bit_idx = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << bit_idx).astype(np.uint64)
    cache: dict = {}

    def tok_hash(tok):
        h = cache.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = h
        return h

    def one(t):
        if t is None:
            return None
        toks = t.lower().split()
        if not toks:
            return 0
        hs = np.fromiter((tok_hash(tok) for tok in toks), dtype=np.uint64, count=len(toks))
        bits = (hs[:, None] >> bit_idx) & np.uint64(1)  # (tokens, 64)
        votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
        v = int(weights[votes > 0].sum(dtype=np.uint64))
        # to signed 64-bit
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(one)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-pairs by SimHash: band the 64-bit signature into 4×16-bit
    chunks (pigeonhole: hamming ≤ 3 guarantees a shared band; wider
    radii are caught probabilistically), bucket docs by band value, then
    filter intra-bucket pairs by exact Hamming distance.

    Shape: groupBy(band) → collect_list → HOF pair expansion, NOT a
    banded self-join. Two shuffles total (band, then pair-dedup); the
    signature UDF runs once per doc by dataflow shape (no persist
    needed), and nothing is broadcast — the earlier broadcast self-join
    held the whole banded corpus on every executor, a non-starter at
    10⁹ docs. Buckets larger than ``max_bucket_size`` are dropped: a
    band value shared by that many docs carries no near-dup signal
    (quadratic pair blowup for zero selectivity); at larger corpus
    sizes widen the bands (more bits) rather than raising the cap."""
    from warp_spark.skew import ensure_min_partitions

    # the signature UDF is the CPU-heavy stage — make sure it gets a
    # partition per core even when the source is one small parquet split
    sig = ensure_min_partitions(df.select(id_col, text_col)).select(
        F.col(id_col), simhash64(F.col(text_col)).alias("sig")
    )
    banded = sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(i), F.shiftright("sig", i * 16).bitwiseAND(F.lit(0xFFFF)))
                    for i in range(4)
                ]
            )
        ).alias("band"),
    )
    buckets = banded.groupBy("band").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sig").alias("sig"))).alias("m")
    )
    # all i<j pairs within a bucket, expanded JVM-side with HOFs
    m = F.col("m")
    pair_lists = bucket_pair_lists(
        m,
        lambda x, y: F.struct(
            F.least(x["id"], y["id"]).alias("id_a"),
            F.greatest(x["id"], y["id"]).alias("id_b"),
            F.bit_count(x["sig"].bitwiseXOR(y["sig"])).alias("hamming"),
        ),
    )
    pairs = (
        buckets.filter(F.size(m).between(2, max_bucket_size))
        .select(F.explode(pair_lists).alias("p"))
        .select("p.*")
        .filter(F.col("hamming") <= max_hamming)
        # a pair can share up to 4 bands — dedupe on the pair key
        # (hamming is functionally dependent, carried with first())
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )
    return pairs


# ---------------------------------------------------------------------------
# Canonical clustering: connected components over the near-dup graph
# ---------------------------------------------------------------------------

def _star_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    return (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to
    the minimum of its closed neighborhood."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links its smaller-or-equal neighbors (and
    itself) to the minimum of that set."""
    e = edges  # already oriented u > v
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    linked = e.join(m, "u")
    out = linked.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = m.select(F.col("u"), F.col("m").alias("v"))
    return (
        out.union(self_link)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log²) rounds in the component
    size — the scale path for high-diameter graphs, where plain
    min-label propagation needs diameter-many rounds. Same return
    contract as ``canonical_clusters``; differential-tested against it
    (and against ground truth on diameter > 20 chains) in
    tests/test_scale_ops.py."""
    import warnings

    edges = _star_edges(pairs, id_a, id_b).localCheckpoint()
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            converged = True
            break
        prev_sig = cur_sig
    if not converged:
        warnings.warn(
            f"connected_components_star: not converged after {max_iter} "
            "rounds; labels may be incomplete",
            RuntimeWarning,
            stacklevel=2,
        )
    # at the fixed point edges form depth-1 stars (node -> component min)
    labels = df.select(F.col(id_col).alias("id")).join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("label")),
        on="id",
        how="left",
    )
    return labels.select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("label"), F.col("id")).alias("canonical_id"),
        F.coalesce(F.col("label") != F.col("id"), F.lit(False)).alias("is_dup"),
    )


def canonical_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    method: str = "propagation",
) -> DataFrame:
    """Assign every document the MIN id of its connected component in
    the near-dup pair graph — the canonical-representative step that
    turns pairwise matches into dedup decisions (pairs are not
    transitive-closed: A~B, B~C must collapse A,B,C together).

    ``method="propagation"`` (default): iterative min-label propagation
    on DataFrames — each round joins labels across edges and keeps the
    element-wise minimum; labels are non-increasing integers, so an
    unchanged ``sum(label)`` proves a fixed point. Rounds needed =
    graph diameter, which for near-dup clusters is tiny (a handful);
    ``localCheckpoint`` truncates lineage so plan size stays constant
    across rounds. Warns if max_iter truncates before the fixed point.

    ``method="star"``: delegate to ``connected_components_star`` —
    O(log²) rounds regardless of diameter, the 100 TB/high-diameter
    path.
    """
    import warnings

    if method == "star":
        return connected_components_star(
            df, pairs, id_col=id_col, id_a=id_a, id_b=id_b, max_iter=max(max_iter, 50)
        )
    if method != "propagation":
        raise ValueError(f"unknown method {method!r}")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        # every iteration joins against edges — materialize ONCE, or each
        # round re-executes the whole upstream pair pipeline (LSH +
        # verify), multiplying its cost by the iteration count
        .localCheckpoint()
    )
    labels = df.select(F.col(id_col).alias("id")).withColumn("label", F.col("id"))
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        warnings.warn(
            f"canonical_clusters: min-label propagation hit max_iter="
            f"{max_iter} before the fixed point (graph diameter exceeds "
            "iterations); labels may be incomplete — use method='star' "
            "for high-diameter graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("canonical_id"),
        (F.col("label") != F.col("id")).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup — the steady-state shape of a
# production training pipeline: a new crawl slice is deduped AGAINST the
# standing corpus without re-pairing the corpus with itself.
# ---------------------------------------------------------------------------

def incremental_lsh_candidates(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Candidate (batch_id, corpus_id) near-dup pairs: batch docs
    sharing ≥1 LSH band with a corpus doc. Corpus×corpus and
    batch×batch pairs are never generated — per bucket the pair
    expansion is the new×old cross product only, so the steady-state
    cost is |batch|-proportional, not |corpus|²; the standing corpus is
    re-signatured here but at scale its signatures are a materialized
    table keyed by ``id_col`` and the first select is a parquet scan.

    Same physical shape as ``minhash_lsh_candidates`` (two shuffles:
    band groupBy, pair-dedup; nothing broadcast): the two sides union
    with a tag, the bucket groupBy collects old and new member lists
    separately (``collect_list`` drops the ``when``-nulled other side),
    and the HOF expansion crosses them JVM-side."""
    from warp_spark.skew import ensure_min_partitions

    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__new")
    ).unionByName(
        batch.select(F.col(id_col), F.col(text_col), F.lit(True).alias("__new"))
    )
    if num_hashes == DEFAULT_NUM_HASHES:
        sig = ensure_min_partitions(tagged).select(
            F.col(id_col), F.col("__new"), minhash_sig64_udf(F.col(text_col)).alias("__sig")
        )
    else:
        sig = (
            tagged.select(F.col(id_col), F.col("__new"), shingles(F.col(text_col)).alias("__sh"))
            .select(
                F.col(id_col),
                F.col("__new"),
                F.transform(F.col("__sh"), md5_hash_pair).alias("__hp"),
            )
            .select(
                F.col(id_col),
                F.col("__new"),
                minhash_from_pairs(F.col("__hp"), num_hashes).alias("__sig"),
            )
        )
    banded = sig.select(
        F.col(id_col),
        F.col("__new"),
        F.posexplode(lsh_bands(F.col("__sig"), num_hashes, band_size)).alias(
            "band_idx", "band_val"
        ),
    )
    buckets = banded.groupBy("band_idx", "band_val").agg(
        F.collect_list(F.when(F.col("__new"), F.col(id_col))).alias("new_m"),
        F.collect_list(F.when(~F.col("__new"), F.col(id_col))).alias("old_m"),
    )
    new_m, old_m = F.col("new_m"), F.col("old_m")
    pairs = F.flatten(
        F.transform(
            new_m,
            lambda x: F.transform(
                old_m, lambda y: F.struct(x.alias("batch_id"), y.alias("corpus_id"))
            ),
        )
    )
    return (
        buckets.filter(
            (F.size(new_m) >= 1)
            & (F.size(old_m) >= 1)
            & (F.size(new_m) + F.size(old_m) <= max_bucket_size)
        )
        .select(F.explode(pairs).alias("p"))
        .select("p.*")
        .distinct()
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """Dedup decision for every batch doc against the standing corpus:
    LSH candidates (batch×corpus only) → exact n-gram Jaccard ≥
    ``threshold`` → per batch doc the MIN matching corpus id. Returns
    one row per batch doc: ``id_col, dup_of (nullable), best_jaccard
    (nullable), is_dup`` — kept docs carry NULL dup_of, so the caller's
    keep-filter is ``~is_dup`` with no second pass."""
    cand = incremental_lsh_candidates(
        corpus, batch, id_col=id_col, text_col=text_col, **lsh_kwargs
    )
    sh_new = batch.select(
        F.col(id_col).alias("batch_id"), shingles(F.col(text_col)).alias("sh_a")
    )
    sh_old = corpus.select(
        F.col(id_col).alias("corpus_id"), shingles(F.col(text_col)).alias("sh_b")
    )
    verified = (
        cand.join(sh_new, "batch_id")
        .join(sh_old, "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    hits = verified.groupBy("batch_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.max(F.round("jaccard", 6)).alias("best_jaccard"),
    )
    return (
        batch.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("batch_id"), "left")
        .select(
            F.col(id_col),
            F.col("dup_of"),
            F.col("best_jaccard"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def incremental_dedup_stream(
    corpus: DataFrame,
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_corpus_bucket: int = 10_000,
) -> DataFrame:
    """Streaming form of :func:`incremental_dedup`: ``stream`` is an
    unbounded micro-batched feed of new documents, deduped against the
    STATIC standing ``corpus`` — the steady-state production shape
    where the crawl arrives continuously and the corpus index is a
    materialized artifact.

    Plan: each arriving doc is signatured MAP-SIDE (same
    md5-minhash/band path as the batch op), probed against the
    persisted corpus band index with a stream-static equi-join on
    (band_idx, band_val), verified with exact shingle Jaccard against
    the persisted corpus shingle table, and reduced to the min matching
    corpus id by an update-mode streaming aggregation.  min/max are
    duplicate-insensitive, so the multi-band pair duplicates need no
    stateful dropDuplicates — state is one row per matched batch doc,
    nothing O(corpus).

    The batch op caps candidate buckets at 10k members counting BOTH
    sides; a stream can't see its own future bucket counts, so the cap
    here is corpus-side only (oversized index buckets are dropped at
    index build).  The two formulations agree whenever no bucket
    approaches the cap — true at every tested SF (the cap exists for
    pathological-bucket protection, not semantics).

    Returns the streaming DataFrame ``(batch_id, dup_of,
    best_jaccard)`` for the caller to sink in update mode; kept docs
    simply never appear (the caller left-joins the batch slice).
    """
    def _sig(df: DataFrame, out_id: str) -> DataFrame:
        # pure-Column HOF signature path (identical values to
        # minhash_sig64_udf — differential-pinned in test_scale_ops):
        # JVM-side end to end, so the STREAM side spins up no Python
        # worker per trigger — the per-trigger fixed cost that would
        # otherwise dominate a micro-batched feed
        return (
            df.select(F.col(id_col).alias(out_id), shingles(F.col(text_col)).alias("__sh"))
            .select(out_id, F.transform(F.col("__sh"), md5_hash_pair).alias("__hp"))
            .select(out_id, minhash_from_pairs(F.col("__hp")).alias("__sig"))
        )

    bands_static = _sig(corpus, "corpus_id").select(
        "corpus_id",
        F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
    )
    bucket_sizes = bands_static.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("__n")
    )
    # Materialize both static artifacts EAGERLY, before the stream
    # starts: a lazy persist would first evaluate inside trigger 1,
    # under the sink's scoped-down shuffle parallelism, and the corpus
    # signaturing is the most expensive stage of the whole pipeline.
    # localCheckpoint also truncates the lineage so each trigger's
    # plan stays flat (same discipline as the iterative-graph tier;
    # executor-loss caveat documented there).
    index = (
        bands_static.join(bucket_sizes, ["band_idx", "band_val"])
        .filter(F.col("__n") <= max_corpus_bucket)
        .drop("__n")
        .localCheckpoint(eager=True)
    )
    # Shingle sets are verified as xxhash64 LONGS, not strings: the
    # stream carries its shingle set through the band explode and two
    # join exchanges, and 8-byte hashes cut that volume ~2.5× vs the
    # string arrays (the prefix-filter lesson: hash tokens to longs,
    # the string-side oracle is the collision certificate — intersect/
    # union SIZES are what jaccard needs, identical barring collisions).
    hashed = lambda sh: F.transform(sh, lambda t: F.xxhash64(t))  # noqa: E731
    sh_old = (
        corpus.select(
            F.col(id_col).alias("corpus_id"), shingles(F.col(text_col)).alias("__sh")
        )
        .select("corpus_id", hashed(F.col("__sh")).alias("sh_b"))
        .localCheckpoint(eager=True)
    )
    s = (
        stream.select(
            F.col(id_col).alias("batch_id"),
            shingles(F.col(text_col)).alias("__sh"),
        )
        .select(
            "batch_id",
            hashed(F.col("__sh")).alias("sh_a"),
            F.transform(F.col("__sh"), md5_hash_pair).alias("__hp"),
        )
        .select(
            "batch_id",
            "sh_a",
            minhash_from_pairs(F.col("__hp")).alias("__sig"),
        )
        .select(
            "batch_id",
            "sh_a",
            F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
        )
    )
    cand = s.join(index, ["band_idx", "band_val"]).join(sh_old, "corpus_id")
    verified = cand.withColumn(
        "jaccard",
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
    ).filter(F.col("jaccard") >= threshold)
    return verified.groupBy("batch_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.max(F.round("jaccard", 6)).alias("best_jaccard"),
    )


def persist_dedup_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_corpus_bucket: int = 10_000,
    n_buckets: int = 32,
) -> None:
    """Persist the standing-corpus near-dup index as parquet artifacts
    — the dedup leg of the persisted-index triple (vector: IVF-PQ,
    lexical: BM25 postings, dedup: THIS).  Before this, every
    incremental-dedup pass (batch or stream) re-signatured the whole
    corpus in-query; at steady state the corpus index is a
    materialized table and a probe touches ONLY these artifacts plus
    the new slice.

    Three artifacts:

    - ``bands``: (corpus_id, band_idx, band_val) — the LSH band
      postings, oversized buckets dropped at build time (the
      corpus-side cap of incremental_dedup_stream), PARTITIONED BY a
      band-value hash bucket so a small probe's bucket IN-list is
      physical partition pruning (a trickle batch of 1 doc touches at
      most bands-per-doc of the ``n_buckets`` partitions; large
      probes converge to a full scan of |corpus|·bands rows — still
      never a re-signature).
    - ``shingles``: (corpus_id, sh_b array<bigint>) — the exact-verify
      tier (xxhash64'd shingle sets, the storage-tier analogue of the
      IVF-PQ raw vectors).
    - ``stats``: 1-row (n_docs, num_hashes, band_size, n_buckets,
      max_corpus_bucket) — the probe derives its bucket modulus and
      signature shape FROM the artifact, never from hardcoded
      constants (the BM25 n_buckets lesson, applied from day one).

    Signatures use the pure-Column md5-minhash path (identical values
    to the Arrow UDF — differential-pinned in test_scale_ops), so
    persisted-then-probed results equal in-query results exactly.
    """

    # ONE corpus text scan computes BOTH tiers (r14, guide §1.2): the
    # old form ran the shingle+hash kernel three times — twice inside
    # the bands write alone (the bucket-size join's two subtrees each
    # re-derived the signatures; no exchange reuse applies across a
    # join of a frame with its own aggregate) and once more for the
    # shingle tier.  The checkpoint materializes per-doc signature +
    # shingle hashes once — the same size class as the shingles
    # artifact this function writes anyway — and every downstream job
    # (bands + sizes, shingles, the stats doc count) derives from it.
    # Expressions are unchanged, so all artifact values are identical.
    doc_rows = (
        corpus.select(
            F.col(id_col).alias("corpus_id"),
            shingles(F.col(text_col)).alias("__sh"),
        )
        .select(
            "corpus_id",
            F.transform(F.col("__sh"), md5_hash_pair).alias("__hp"),
            F.transform(F.col("__sh"), lambda t: F.xxhash64(t)).alias("sh_b"),
        )
        .select(
            "corpus_id", minhash_from_pairs(F.col("__hp")).alias("__sig"), "sh_b"
        )
        .localCheckpoint(eager=True)
    )
    bands = doc_rows.select(
        "corpus_id",
        F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
    )
    sizes = bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("__n")
    )
    kept = (
        bands.join(sizes, ["band_idx", "band_val"])
        .filter(F.col("__n") <= max_corpus_bucket)
        .select(
            "corpus_id",
            "band_idx",
            "band_val",
            F.pmod(F.xxhash64("band_val"), F.lit(n_buckets)).cast("int").alias(
                "bucket"
            ),
        )
    )
    kept.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/bands")
    doc_rows.select("corpus_id", "sh_b").write.mode("overwrite").parquet(
        f"{path}/shingles"
    )
    stats = doc_rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.lit(DEFAULT_NUM_HASHES).cast("int").alias("num_hashes"),
        F.lit(DEFAULT_BAND_SIZE).cast("int").alias("band_size"),
        F.lit(int(n_buckets)).cast("int").alias("n_buckets"),
        F.lit(int(max_corpus_bucket)).cast("long").alias("max_corpus_bucket"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def dedup_index_probe(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a new slice against the PERSISTED corpus index — no
    corpus pass: the batch is signatured map-side (pure-Column
    md5-minhash, same values as the build), its band values hash to a
    bucket IN-list that prunes the ``bands`` scan, candidates come
    from the (band_idx, band_val) equi-join, and the exact Jaccard
    verify joins the persisted ``shingles`` tier.  Returns
    (batch_id, dup_of, best_jaccard) — one row per matched batch doc,
    min-corpus-id winner, exactly incremental_dedup_stream's
    static-side semantics, so probed results equal the in-query
    incremental path (pytest-pinned)."""
    st = spark.read.parquet(f"{path}/stats").first()
    n_buckets = st["n_buckets"]
    s = (
        batch.select(
            F.col(id_col).alias("batch_id"), shingles(F.col(text_col)).alias("__sh")
        )
        .select(
            "batch_id",
            F.transform(F.col("__sh"), lambda t: F.xxhash64(t)).alias("sh_a"),
            F.transform(F.col("__sh"), md5_hash_pair).alias("__hp"),
        )
        .select(
            "batch_id",
            "sh_a",
            minhash_from_pairs(F.col("__hp")).alias("__sig"),
        )
        .select(
            "batch_id",
            "sh_a",
            F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
        )
        .localCheckpoint(eager=True)
    )
    bks = sorted(
        r["b"]
        for r in s.select(
            F.pmod(F.xxhash64("band_val"), F.lit(int(n_buckets)))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    )
    bands = (
        spark.read.parquet(f"{path}/bands")
        .filter(F.col("bucket").isin(bks))
        .select("corpus_id", "band_idx", "band_val")
    )
    sh_old = spark.read.parquet(f"{path}/shingles")
    cand = s.join(bands, ["band_idx", "band_val"]).join(sh_old, "corpus_id")
    verified = cand.withColumn(
        "jaccard",
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
    ).filter(F.col("jaccard") >= threshold)
    return verified.groupBy("batch_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.max(F.round("jaccard", 6)).alias("best_jaccard"),
    )


@locked_mutation
def append_dedup_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Absorb a new corpus slice into a persisted dedup index WITHOUT
    re-signaturing the standing corpus — the 100 TB maintenance path
    (r11 verdict item 4): a daily crawl slice is a fraction of a
    percent of the corpus, so rebuilding the whole index per slice
    re-pays the full signature scan for nothing.  Appends the slice's
    band postings into the bucket-PARTITIONED ``bands`` artifact
    (parquet append preserves the partitioning, so probe-side pruning
    keeps working), its verify-tier shingle rows into ``shingles``,
    and swaps the 1-row ``stats`` with the updated doc count — model
    parameters (num_hashes, band_size, n_buckets, cap) are carried
    over unchanged from the existing stats row.

    Cap discipline: the build drops every posting of a
    (band_idx, band_val) bucket exceeding ``max_corpus_bucket`` —
    a retraction an append cannot perform on already-persisted rows.
    So this function verifies the invariant incrementally and returns
    ``False`` (caller must full-rebuild) when it cannot guarantee
    append ≡ rebuild: (a) if the existing artifact itself dropped
    buckets at build time (detected as band rows ≠ docs × bands-per-
    doc — no stats-schema change needed), or (b) if any bucket touched
    by the slice would cross the cap combined (counted via a
    partition-PRUNED scan of exactly the slice's band-value buckets,
    never a corpus re-signature).  On ``True``, append-then-probe
    equals rebuild-then-probe EXACTLY (pytest-pinned).

    Reference analogue: MutableDataset row insertion
    (MutableData.swift:40-63) — the reference mutates standing data in
    place; here the mutation is an append of immutable files plus a
    stats swap, the Spark-native equivalent.

    Concurrency: the ENTIRE verb — precondition reads, cap check,
    file appends, stats overwrite — holds the canonical
    ``<path>.lock`` (artifacts.locked_mutation, r13 verdict item 3),
    so two appends, or an append racing a delete/compact, serialize
    instead of both passing the precondition and double-inserting."""
    st = spark.read.parquet(f"{path}/stats").first()
    n_buckets = int(st["n_buckets"])
    cap = int(st["max_corpus_bucket"])
    bands_per_doc = int(st["num_hashes"]) // int(st["band_size"])
    if (
        int(st["num_hashes"]) != DEFAULT_NUM_HASHES
        or int(st["band_size"]) != DEFAULT_BAND_SIZE
    ):
        return False  # signature shape drifted from this module's path
    try:
        old_bands = spark.read.parquet(f"{path}/bands")
        n_band_rows = old_bands.count()
    except Exception:
        return False  # unreadable/empty postings (e.g. cap dropped all)
    if n_band_rows != int(st["n_docs"]) * bands_per_doc:
        return False  # build-time cap fired: append cannot retract

    # Arrow-tier signature (minhash_sig64_udf — bit-identical to the
    # pure-Column md5 chain, differential-pinned in test_scale_ops):
    # the HOF expression tree costs ~10 s of Catalyst ANALYSIS per plan
    # regardless of row count, which would dominate a per-trigger
    # append; the UDF plan is tiny and the work is Arrow-batched.  The
    # shape guard above already pins this append to the default md5
    # tier, so the substitution is always valid here.
    # ONE slice pass computes BOTH tiers (guide §1.2: the old form
    # scanned new_docs twice — the Arrow minhash for the bands, then a
    # separate shingle pass for the verify tier — per TRIGGER in the
    # streamed ingest); the checkpoint holds per-doc signature + shingle
    # hashes and every downstream job derives from it
    doc_rows = new_docs.select(
        F.col(id_col).alias("corpus_id"),
        minhash_sig64_udf(F.col(text_col)).alias("__sig"),
        F.transform(shingles(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
            "sh_b"
        ),
    ).localCheckpoint(eager=True)
    new_bands = doc_rows.select(
        "corpus_id",
        F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
    ).withColumn(
        "bucket",
        F.pmod(F.xxhash64("band_val"), F.lit(n_buckets)).cast("int"),
    )
    # ONE job answers "which buckets are touched" AND "how many band
    # rows" (n_new derives exactly: posexplode emits bands_per_doc rows
    # per doc) — previously a distinct-collect plus a count
    pre = new_bands.agg(
        F.collect_set("bucket").alias("touched"),
        F.count(F.lit(1)).alias("n_rows"),
    ).first()
    touched = sorted(pre["touched"])
    n_new = int(pre["n_rows"]) // bands_per_doc
    if n_new == 0:
        return True  # an empty slice leaves the index as it is
    # ONE partition-pruned pass answers BOTH preconditions (fused to a
    # single Spark job — this runs per TRIGGER in the streamed ingest,
    # where per-job overhead dominates the tiny scans):
    # (a) no-re-append (r12 verdict item 3): a slice holding
    #     already-indexed ids would double their postings/shingles and
    #     inflate n_docs — a re-delivered doc's signature is a pure
    #     function of its text, so its band rows sit in exactly the
    #     buckets this slice touches, and the broadcast id-flag join
    #     catches re-delivery without a corpus scan.  (An id
    #     re-delivered with DIFFERENT text may land in other buckets —
    #     ids are immutable keys by the module's contract.)
    # (b) the cap invariant: any bucket the slice touches that would
    #     cross max_corpus_bucket combined forces a rebuild.
    new_ids = new_bands.select("corpus_id").distinct()
    old_flag = old_bands.filter(F.col("bucket").isin(touched)).join(
        F.broadcast(new_ids.select(F.col("corpus_id").alias("__nid"))),
        F.col("corpus_id") == F.col("__nid"),
        "left",
    )
    old_cnt = old_flag.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("n_old"),
        F.sum(F.when(F.col("__nid").isNotNull(), 1).otherwise(0)).alias("n_dup"),
    )
    new_cnt = new_bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    chk = (
        new_cnt.join(old_cnt, ["band_idx", "band_val"], "full")
        .agg(
            F.max(
                F.when(
                    F.col("n_new").isNotNull(),
                    F.col("n_new") + F.coalesce(F.col("n_old"), F.lit(0)),
                )
            ).alias("mx"),
            F.coalesce(F.sum("n_dup"), F.lit(0)).alias("dups"),
        )
        .first()
    )
    if chk["dups"] and int(chk["dups"]) > 0:
        return False  # slice re-delivers indexed ids: rebuild honestly
    if chk["mx"] is not None and chk["mx"] > cap:
        return False  # a combined bucket crosses the cap: rebuild

    new_bands.select("corpus_id", "band_idx", "band_val", "bucket").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{path}/bands")
    # the shingle tier was computed in the SAME slice pass as the
    # signatures (doc_rows checkpoint above) — no text re-scan
    doc_rows.select("corpus_id", "sh_b").write.mode("append").parquet(
        f"{path}/shingles"
    )
    # stats swap: carry every model parameter, bump only the doc count
    small_rows_df(
        spark,
        [
            (
                int(st["n_docs"]) + int(n_new),
                int(st["num_hashes"]),
                int(st["band_size"]),
                n_buckets,
                cap,
            )
        ],
        "n_docs long, num_hashes int, band_size int, n_buckets int, "
        "max_corpus_bucket long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return True


@locked_mutation
def delete_from_dedup_index(
    spark,
    path: str,
    del_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> bool:
    """Remove documents from a persisted dedup index WITHOUT
    re-signaturing the standing corpus — the third mutation verb of
    the index lifecycle (build/probe/append/DELETE/compact; reference
    analogue: MutableDataset row removal, MutableData.swift:40-63):
    takedowns, retention expiry, and right-to-be-forgotten requests
    are deletions against a standing index, and rebuilding 100 TB of
    signatures per takedown batch is not an option.

    ``del_docs`` must carry the documents AS INDEXED (id and text):
    the deleted docs' band signatures are recomputed (Arrow tier, the
    append leg's reasoning) and their postings removed by rewriting
    ONLY the touched bucket partitions — a partition-pruned rewrite,
    never a corpus pass.  The shingle verify tier is rewritten with
    one anti-join (an INDEX-sized columnar pass, the compaction cost
    class) and ``n_docs`` decremented exactly.

    Honest-refusal contract (returns ``False``, caller must rebuild):
    (a) signature-shape drift or a build-time cap drop, same guards as
    append_dedup_index — a capped build dropped postings a delete
    cannot reconstruct; (b) any requested doc NOT present with
    EXACTLY its indexed signature (id re-used with different text, or
    id never indexed) — verified by counting pruned postings matched
    per (corpus_id, band_idx, band_val): anything other than
    n_deleted × bands-per-doc means the delete would corrupt the
    row-count invariant that guards every future append/delete.

    On ``True``, delete-then-probe equals rebuild-on-remaining-then-
    probe EXACTLY (pytest-pinned).  The ENTIRE verb — verification,
    bands partition rewrite, shingles swap, stats decrement — holds
    the canonical ``<path>.lock`` (artifacts.locked_mutation, r13
    verdict item 3), so a delete racing an append or compact
    serializes on one lock instead of interleaving per-subtree."""
    import os
    import shutil

    from warp_spark.artifacts import unique_sibling_tmp

    st = spark.read.parquet(f"{path}/stats").first()
    n_buckets = int(st["n_buckets"])
    bands_per_doc = int(st["num_hashes"]) // int(st["band_size"])
    if (
        int(st["num_hashes"]) != DEFAULT_NUM_HASHES
        or int(st["band_size"]) != DEFAULT_BAND_SIZE
    ):
        return False  # signature shape drifted from this module's path
    try:
        old_bands = spark.read.parquet(f"{path}/bands")
        n_band_rows = old_bands.count()
    except Exception:
        return False
    if n_band_rows != int(st["n_docs"]) * bands_per_doc:
        return False  # build-time cap fired: delete cannot reconstruct

    del_bands = (
        del_docs.select(
            F.col(id_col).alias("corpus_id"),
            minhash_sig64_udf(F.col(text_col)).alias("__sig"),
        )
        .select(
            "corpus_id",
            F.posexplode(lsh_bands(F.col("__sig"))).alias("band_idx", "band_val"),
        )
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("band_val"), F.lit(n_buckets)).cast("int"),
        )
        .localCheckpoint(eager=True)
    )
    # ONE job answers both "how many distinct docs" and "which buckets
    # are touched" (previously a count + a collect over the same tiny
    # checkpointed frame — two scheduler round-trips for one answer)
    pre = del_bands.agg(
        F.countDistinct("corpus_id").alias("n_del"),
        F.collect_set("bucket").alias("touched"),
    ).first()
    n_del = int(pre["n_del"])
    if n_del == 0:
        return True
    touched = sorted(pre["touched"])
    old_pruned = old_bands.filter(F.col("bucket").isin(touched))
    matched = old_pruned.join(
        del_bands.select("corpus_id", "band_idx", "band_val"),
        ["corpus_id", "band_idx", "band_val"],
        "leftsemi",
    ).count()
    if matched != n_del * bands_per_doc:
        return False  # not indexed, or indexed under different text

    del_ids = del_bands.select("corpus_id").distinct()
    remaining = old_pruned.join(del_ids, "corpus_id", "left_anti").select(
        "corpus_id", "band_idx", "band_val", "bucket"
    )
    tmp = unique_sibling_tmp(os.path.join(path, "bands"), tag="delete")
    remaining.repartition(max(len(touched), 1), "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(tmp)
    # swap ONLY the touched bucket partitions — the verb-wide root
    # lock is already held, so no per-swap flock; a bucket whose
    # postings all belonged to deleted docs simply disappears
    # (parquet readers handle absent partitions)
    for b in touched:
        dst = os.path.join(path, "bands", f"bucket={b}")
        src = os.path.join(tmp, f"bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)

    sh_tmp = unique_sibling_tmp(os.path.join(path, "shingles"), tag="delete")
    (
        spark.read.parquet(f"{path}/shingles")
        .join(del_ids, "corpus_id", "left_anti")
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(sh_tmp)
    )
    from warp_spark.artifacts import swap_artifact_dir

    swap_artifact_dir(os.path.join(path, "shingles"), sh_tmp, locked=True)

    small_rows_df(
        spark,
        [
            (
                int(st["n_docs"]) - int(n_del),
                int(st["num_hashes"]),
                int(st["band_size"]),
                n_buckets,
                int(st["max_corpus_bucket"]),
            )
        ],
        "n_docs long, num_hashes int, band_size int, n_buckets int, "
        "max_corpus_bucket long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return True


@locked_mutation
def compact_dedup_index(spark, path: str) -> None:
    """Rewrite an append-grown dedup index into its canonical file
    layout with IDENTICAL content — the maintenance op every
    append-heavy index needs at 100 TB scale: each append adds one
    parquet file per touched bucket partition, so after K appends a
    probe's pruned scan opens O(K) small files per bucket (the classic
    small-files problem of any log-structured store; LSM stores call
    this compaction, Delta calls it OPTIMIZE).  Compaction re-clusters
    the band postings so each bucket partition holds ONE file again,
    coalesces the shingle tier, and carries stats and the staleness
    marker over unchanged — content-preserving by construction
    (read → repartition → write; no signatures recomputed), so
    probe-before == probe-after exactly (pytest-pinned) and any
    content stamp keyed on the SOURCE still matches.

    Swap discipline: the compacted tree is built in a UNIQUE sibling
    scratch dir while the whole verb holds the canonical
    ``<path>.lock`` (artifacts.locked_mutation — the lock every
    mutation verb serializes on, r13 verdict item 3), so writers
    serialize and a concurrent prober's worst case is the momentary
    two-rename window, never a half-deleted tree."""
    import os

    from warp_spark.artifacts import swap_artifact_dir, unique_sibling_tmp

    st = spark.read.parquet(f"{path}/stats")
    n_buckets = int(st.first()["n_buckets"])
    tmp = unique_sibling_tmp(path, tag="compact")
    # one task per bucket (deterministic hash routing) → one file per
    # bucket partition, the build-time layout
    spark.read.parquet(f"{path}/bands").repartition(
        n_buckets, "bucket"
    ).write.partitionBy("bucket").parquet(f"{tmp}/bands")
    spark.read.parquet(f"{path}/shingles").coalesce(8).write.parquet(
        f"{tmp}/shingles"
    )
    st.coalesce(1).write.parquet(f"{tmp}/stats")
    import shutil

    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full):  # markers and metadata travel as-is
            shutil.copy2(full, os.path.join(tmp, name))
    swap_artifact_dir(path, tmp, locked=True)


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster keep the
    HIGHEST-scoring member (ties → min id) instead of the min-id member
    — what a curation pipeline actually wants (the best copy survives,
    not the earliest-crawled one).

    ``clusters`` is a ``canonical_clusters`` result (id, canonical_id);
    ``scores`` carries ``score_col`` per id. One hash shuffle on
    ``canonical_id`` for the window — clusters are near-dup groups, so
    partitions are tiny and skew-free; no global sort, no collect."""
    from pyspark.sql.window import Window

    j = clusters.select(F.col(id_col), F.col("canonical_id")).join(scores, id_col)
    w = (
        Window.partitionBy("canonical_id")
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return j.withColumn("rep_id", F.first(F.col(id_col)).over(w)).withColumn(
        "keep", F.col(id_col) == F.col("rep_id")
    )


def containment_pairs(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup verification: shingle containment
    |A∩B| / |A| (and /|B|) for candidate pairs — catches a short doc
    embedded verbatim in a longer one, which symmetric Jaccard dilutes
    below any usable threshold (|A∩B|/|A∪B| → |A|/|B| for nested docs).
    Keeps pairs where EITHER direction reaches ``threshold``; emits the
    direction so the caller knows which side is the contained one.
    Same join shape and scale notes as ``ngram_jaccard_pairs``."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
    j = (
        pair_df.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("c_a", F.col("__i") / F.size("sh_a"))
        .withColumn("c_b", F.col("__i") / F.size("sh_b"))
    )
    return j.filter((F.col("c_a") >= threshold) | (F.col("c_b") >= threshold)).select(
        "id_a",
        "id_b",
        F.round("c_a", 6).alias("containment_a"),
        F.round("c_b", 6).alias("containment_b"),
        F.when(F.col("c_a") >= F.col("c_b"), "a_in_b").otherwise("b_in_a").alias(
            "direction"
        ),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs/PPJoin
# family — Bayardo et al. WWW'07, Xiao et al. WWW'08): unlike
# MinHash+LSH this is EXACT — every pair with token Jaccard ≥ t is
# found, no probabilistic recall
# ---------------------------------------------------------------------------

def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    elements: str = "tokens",
) -> DataFrame:
    """All document pairs with distinct-token Jaccard ≥ ``threshold``,
    found EXACTLY via prefix filtering: tokens are put in the canonical
    rarest-first global order (frequency ASC, token ASC — frequent
    tokens sort last and stay OUT of prefixes, which is what keeps the
    inverted-index buckets small); a doc's prefix is its first
    n − floor(t·n) + 1 tokens, and any qualifying pair must share a
    token in BOTH prefixes (the first common token in global order is
    provably inside each — if it weren't, the suffix alone would have
    to hold ≥ t·n common tokens and it is shorter than that). Pairs
    sharing a prefix token are then length-filtered
    (min·10⁶ ≥ round(t·10⁶)·max, an exact RATIONAL comparison so float
    noise can never drop a boundary pair) and verified with exact
    Jaccard.

    vs MinHash+LSH: LSH is O(docs·bands) with tunable recall < 1;
    prefix filtering is exact-complete with pruning that grows with t.
    Scale shape: one explode+count shuffle (global frequencies), one
    sort-collect per doc, one self-equi-join on prefix tokens (bounded
    by rare-token document frequencies), then candidates-only
    verification — no all-pairs stage anywhere. Returns
    ``id_a, id_b, jaccard`` (raw double: one int/int division).

    ``elements`` picks the set universe: ``"tokens"`` (distinct words)
    or ``"shingles"`` (distinct word 3-grams — the SAME sets MinHash
    signs, making this the exact-complete ground truth for the metric
    ``minhash_lsh_candidates`` approximates). Prefix filtering lives on
    element rarity: a tiny token vocabulary (this corpus: 31 words)
    makes token prefixes non-selective and the join near-quadratic,
    while the shingle universe is combinatorially larger and stays
    selective — prefer shingles for natural text.

    Candidates also pass the PPJoin POSITIONAL filter: a shared prefix
    element at 0-based positions (pa, pb) of the canonical orders
    bounds the overlap by ub = min(n_a − pa, n_b − pb) (the match plus
    everything after it on each side), and J ≥ t needs overlap
    ≥ t/(1+t)·(n_a+n_b) — checked as the exact rational
    ub·(10⁶ + t·10⁶) ≥ t·10⁶·(n_a+n_b). A pair survives if ANY shared
    prefix element passes (the first common one has the largest ub, so
    this equals the classic first-match check)."""
    if elements == "shingles":
        sets = shingles(F.col(text_col))
    elif elements == "tokens":
        sets = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    else:
        raise ValueError(f"elements must be 'tokens' or 'shingles', got {elements!r}")
    ex = df.select(F.col(id_col), sets.alias("__tk")).select(
        F.col(id_col), F.explode("__tk").alias("tok")
    )
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # canonical order sorts on the STRING token; everything downstream
    # (prefix join key, verification sets) runs on 8-byte xxhash64
    # tokens — the dominant shuffles carry long arrays instead of
    # string arrays (measured ~5× on the sf0.1 corpus). Jaccard over
    # hashed distinct sets equals Jaccard over token sets absent a
    # 64-bit collision, and the string-based oracle would hash-FAIL on
    # any collision — the differential certifies collision-freedom,
    # same argument as the decontamination entry.
    ordered = (
        ex.join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("cnt"), F.col("tok")))
            ).alias("__st")
        )
        .select(
            F.col(id_col),
            F.transform(
                F.col("__st"), lambda s: F.xxhash64(s["tok"])
            ).alias("sh"),
            F.size("__st").alias("n"),
        )
    )
    p_len = (F.col("n") - F.floor(F.lit(threshold) * F.col("n")) + 1).cast("int")
    # NOTE (r14): an eager localCheckpoint here was tried and measured
    # SLOWER (3.40 → 3.75 s at sf0.1) — the four consumers of `pre`
    # already share the ordered groupBy's exchange via ReusedExchange,
    # so the checkpoint only added materialization cost
    pre = ordered.withColumn("pf", F.slice(F.col("sh"), 1, p_len))
    px = pre.select(
        F.col(id_col).alias("pid"),
        F.col("n"),
        F.posexplode("pf").alias("pos", "tok"),
    )
    t_num = int(round(threshold * 1_000_000))
    a, b = px.alias("a"), px.alias("b")
    overlap_ub = F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("a.pid") < F.col("b.pid"))
        .filter(
            F.least(F.col("a.n"), F.col("b.n")) * F.lit(1_000_000)
            >= F.lit(t_num) * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .filter(
            overlap_ub * F.lit(1_000_000 + t_num)
            >= F.lit(t_num) * (F.col("a.n") + F.col("b.n"))
        )
        .select(F.col("a.pid").alias("id_a"), F.col("b.pid").alias("id_b"))
        .distinct()
    )
    ver = cand.join(
        pre.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        pre.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    j = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    return ver.select("id_a", "id_b", j.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


# ---------------------------------------------------------------------------
# Edit-distance record linkage (fuzzy join) — the string-similarity
# counterpart of the set-similarity joins above
# ---------------------------------------------------------------------------

def fuzzy_best_match(
    dirty: DataFrame,
    clean: DataFrame,
    col: str = "name",
    id_col: str = "rec_id",
    max_dist: int = 1,
    prefix: int = 3,
) -> DataFrame:
    """Resolve every ``dirty`` record to its best ``clean`` match under
    Levenshtein distance ≤ ``max_dist`` — classic record linkage
    (deduplicating user/entity tables before training joins them in).

    Candidates come from TWO equi-join blocking passes, prefix and
    suffix of length ``prefix``: a single-edit pair (the dominant
    dirty-data case) cannot disturb both ends of the string when
    ``prefix < len/2 + 1``, so one of the two block keys always agrees
    — single-edit recall is provably complete (pytested).  Multi-edit
    pairs confined to one end are also caught; arbitrary scattered
    edits need q-gram blocking (``minhash_lsh_candidates`` over char
    shingles covers that regime).

    Scale shape: two hash equi-joins on narrow (block_key, id, string)
    tuples — no all-pairs stage, no broadcast of either corpus-sized
    side; candidates dedup in the same per-dirty-id shuffle the best-
    match window needs.  Levenshtein is exact-integer in every engine,
    so the oracle surface is float-free.  Ties break (distance ASC,
    clean id ASC) for determinism.  Returns one row per dirty record
    that has a candidate: ``a_id, b_id, name_a, name_b, dist, n_cand``
    (n_cand = how many in-threshold candidates competed — the linkage
    ambiguity signal reviewers act on).
    """
    a = dirty.select(
        F.col(id_col).alias("a_id"), F.col(col).alias("name_a")
    )
    b = clean.select(
        F.col(id_col).alias("b_id"), F.col(col).alias("name_b")
    )

    def keyed(df, name_c, key_alias):
        pre = F.substring(F.col(name_c), 1, prefix)
        suf = F.substring(
            F.col(name_c), -prefix, prefix
        )
        return (
            df.withColumn(key_alias, F.explode(F.array(
                F.concat(F.lit("p:"), pre), F.concat(F.lit("s:"), suf)
            )))
        )

    cand = (
        keyed(a, "name_a", "bk")
        .join(keyed(b, "name_b", "bk"), on="bk")
        .select("a_id", "b_id", "name_a", "name_b")
        .distinct()  # a pair may meet in both the prefix and suffix block
        .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy("a_id").orderBy(F.col("dist").asc(), F.col("b_id").asc())
    nc = Window.partitionBy("a_id")
    return (
        cand.withColumn("n_cand", F.count(F.lit(1)).over(nc))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("a_id", "b_id", "name_a", "name_b", "dist", "n_cand")
    )


def duplicate_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-substring detection at token n-gram
    granularity — the distributed approximation of suffix-array exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"). A gram INSTANCE is duplicated when
    its n-token window occurs ``min_count``-or-more times corpus-wide
    (counting multiplicity, so within-document repeats count — exactly
    the spans ExactSubstr would mask). Returns one row per document
    with >= 1 gram: ``(id, total_grams, dup_grams, dup_ppm)`` where
    ``dup_ppm`` is the exact integer parts-per-million duplicated
    fraction (floor division — a rounded float rate can flip on
    .xxxxxx5 boundaries cross-engine).

    Distributed shape: positional grams (multiplicity KEPT — this is
    the one op where ``array_distinct`` would be wrong) are hashed to
    8-byte xxhash64 longs in one codegen'd transform, so text never
    shuffles; the corpus-wide gram census is a groupBy on the hash
    (map-side partial aggregation makes it skew-immune — boilerplate
    grams, the very thing this op hunts, are pre-combined per
    partition), filtered to the duplicated set BEFORE the join back, so
    the second shuffle carries only grams that matter. At 100 TB you
    would persist the exploded gram stream between the census and the
    join-back legs; here recompute is cheaper than the cache. The
    differential oracle joins on literal gram strings, certifying the
    hash path collision-free at test scale."""
    tk = "_ds_tokens"
    staged = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias(tk)
    )
    # tokens staged under an alias in their own projection (the
    # CollapseProject discipline, see text.ngram_hashes_from_tokens);
    # sequence() counts DOWN when size < n, hence the guard.
    grams_col = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col(tk), i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # total_grams comes from the TOKEN array length (len - n + 1), never
    # from size(grams_col): putting size(<the gram transform>) in the
    # same projection as the generator re-evaluates the whole hash
    # transform once per row just to count it — measured 12× on the
    # sf0.1 corpus (24.6s vs 2.1s for the identically-shaped census in
    # mask_duplicate_spans). Docs shorter than n produce a negative
    # count here, but their gram array is empty so the isNotNull filter
    # drops them before the value can surface.
    exploded = (
        staged.select(
            F.col(id_col),
            (F.size(tk).cast("long") - F.lit(n - 1)).alias("total_grams"),
            F.explode_outer(grams_col).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    dup_set = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("g", F.lit(1).alias("_dup"))
    )
    return (
        exploded.join(dup_set, "g", "left")
        .groupBy(id_col, "total_grams")
        .agg(
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("long")
            .alias("dup_grams")
        )
        .select(
            F.col(id_col),
            F.col("total_grams"),
            F.col("dup_grams"),
            F.expr("(dup_grams * 1000000) DIV total_grams").alias("dup_ppm"),
        )
    )


def mask_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """The masking half of ExactSubstr dedup (Lee et al. 2022): merge
    every corpus-duplicated n-gram instance (see
    ``duplicate_span_stats``) into MAXIMAL token regions — overlapping
    or chained spans coalesce, so the masked-token count never double
    counts — and report, per document with >= 1 duplicated instance:
    ``(id, total_tokens, n_dup_instances, n_regions, masked_tokens,
    masked_ppm)``. ``masked_ppm`` is the exact integer fraction of the
    document a masking pass would drop.

    The interval merge is the gaps-and-islands pattern, fully
    partition-parallel per document: running ``max(end)`` over the
    preceding rows flags region starts (``start > prev_max_end``), a
    running sum of the flags numbers the regions, and a per-region
    aggregate yields merged bounds — three window passes over ONE
    partitioning (doc, ordered by start), so Spark plans a single sort
    + Exchange for all of them. Census and join-back legs are shaped
    exactly like ``duplicate_span_stats`` (8-byte hashes, map-side
    partial agg, dup-set filtered before the join)."""
    tk = "_ms_tokens"
    staged = docs.select(F.col(id_col), tokens(F.col(text_col)).alias(tk))
    grams_col = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col(tk), i, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # posexplode_outer + isNotNull, not posexplode: same
    # InferFiltersFromGenerate O(len²) pathology as ngram_contamination.
    inst = (
        staged.select(
            F.col(id_col),
            F.size(tk).cast("long").alias("total_tokens"),
            F.posexplode_outer(grams_col).alias("pos", "g"),
        )
        .filter(F.col("g").isNotNull())
    )
    dup_set = (
        inst.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("g")
    )
    dupi = inst.join(dup_set, "g", "inner").select(
        F.col(id_col),
        F.col("total_tokens"),
        (F.col("pos") + 1).alias("s"),
        (F.col("pos") + n).alias("e"),
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = (
        dupi.withColumn("_pme", F.max("e").over(w_prev))
        .withColumn(
            "_nf",
            F.when(
                F.col("_pme").isNull() | (F.col("s") > F.col("_pme")), 1
            ).otherwise(0),
        )
        .withColumn("_rid", F.sum("_nf").over(w_run))
    )
    regions = flagged.groupBy(id_col, "total_tokens", "_rid").agg(
        F.min("s").alias("_rs"),
        F.max("e").alias("_re"),
        F.count(F.lit(1)).alias("_inst"),
    )
    return (
        regions.groupBy(id_col, "total_tokens")
        .agg(
            F.sum("_inst").cast("long").alias("n_dup_instances"),
            F.count(F.lit(1)).cast("long").alias("n_regions"),
            F.sum(F.col("_re") - F.col("_rs") + 1)
            .cast("long")
            .alias("masked_tokens"),
        )
        .select(
            F.col(id_col),
            F.col("total_tokens"),
            F.col("n_dup_instances"),
            F.col("n_regions"),
            F.col("masked_tokens"),
            F.expr("(masked_tokens * 1000000) DIV total_tokens").alias(
                "masked_ppm"
            ),
        )
    )


def duplication_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Corpus DUPLICATION PROFILE: cluster exact duplicates by the
    normalized-text fingerprint, then histogram the cluster sizes — per
    size: how many clusters, how many documents, how many of those are
    redundant copies, and how many characters deduplication would
    reclaim.  This is the capacity-planning report run BEFORE a 100 TB
    dedup pass: it prices the pass (dup_chars = bytes saved) and shows
    whether duplication is long-tail (many pairs) or head-heavy (few
    giant clusters — the skew case that wants the capped-bucket path).

    Two hash aggregations, both map-side-combinable; document text never
    shuffles (the fingerprint does).  Identical normalized text implies
    identical ``chars_col``, so reclaimed chars per cluster is exactly
    sum(chars) − min(chars) with no representative choice mattering.
    """
    fp = fingerprint(F.col(text_col))
    clusters = (
        df.select(F.col(id_col), F.col(chars_col), fp.alias("__fp"))
        .groupBy("__fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum(chars_col).alias("__chars"),
            F.min(chars_col).alias("__one"),
        )
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
            (F.sum("cluster_size") - F.count(F.lit(1)))
            .cast("long")
            .alias("dup_docs"),
            F.sum(F.col("__chars") - F.col("__one")).cast("long").alias("dup_chars"),
        )
        .orderBy("cluster_size")
    )
