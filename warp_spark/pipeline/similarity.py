"""Similarity search over embedding columns (``array<float>``).

- ``cosine``: JVM higher-order-function kernel (zip_with + aggregate) —
  no Python in the loop, codegen-friendly.
- ``brute_force_topk``: exact k-NN — broadcast the (small) query set,
  scan the corpus once per partition, per-query top-k via window. At
  cluster scale this is the gold standard for recall measurement.
- ``lsh_topk``: random-hyperplane LSH — deterministic md5-derived
  hyperplanes, sign-bit bucket join. The scale path: candidate set per
  query shrinks from |corpus| to one bucket.
- ``cosine_near_pairs``: all-pairs near-duplicate detection above a
  cosine threshold (embedding-space dedup).
"""

from __future__ import annotations

import math
from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warp_spark.artifacts import locked_mutation
from warp_spark.localdf import small_rows_df


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _dcast(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; inputs cast to double so accumulation order
    and precision are engine-portable.

    NOTE for hot paths: this recomputes casts and norms per evaluation.
    When one side is scored against many partners, stage ``_dcast`` and
    ``_norm`` as columns per side and use ``_dot/(n_a*n_b)`` per pair
    (bitwise-identical result; see brute_force_topk)."""
    ad = _dcast(a)
    bd = _dcast(b)
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def _staged_sim() -> Column:
    """Per-pair similarity over pre-staged cast vectors and norms."""
    return F.round(
        _dot(F.col("query_vec"), F.col("neighbor_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast the query side (assumed small); the corpus never
    shuffles — each partition scores its rows against every query and
    the window top-k reduces map-side before the final per-query sort."""
    # stage the double-cast vectors and norms ONCE PER SIDE, below the
    # join: the naive cosine(q, c) per pair re-casts both arrays and
    # recomputes both norms |corpus|×|queries| times (measured ~5× slower).
    # dot(q,c)/(q_norm*c_norm) is bitwise-identical to the unstaged form
    # (IEEE multiply is commutative; traversal order unchanged).
    q = queries.select(
        F.col(id_col).alias("query_id"), _dcast(F.col(vec_col)).alias("query_vec")
    ).withColumn("q_norm", _norm(F.col("query_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dcast(F.col(vec_col)).alias("neighbor_vec")
    ).withColumn("c_norm", _norm(F.col("neighbor_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _staged_sim())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _block_pair_scorer(threshold: float):
    """applyInPandas kernel: one (block_i, block_j) group → all
    above-threshold pairs between the two blocks, via a single float64
    matmul on row-normalized matrices. Diagonal groups (i == j) keep
    only role 'a' and take the strict upper triangle, so each unordered
    pair is emitted exactly once across all groups."""
    import numpy as np

    def score(key, pdf):
        diagonal = key[0] == key[1]
        a = pdf[pdf["role"] == "a"]
        b = a if diagonal else pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        ma = np.stack(a["vec"].to_numpy()).astype(np.float64)
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        if diagonal:
            mb = ma
        else:
            mb = np.stack(b["vec"].to_numpy()).astype(np.float64)
            mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        # BLAS matmul results vary in the last ulp with matrix shape, so a
        # pair scored in a diagonal group vs an off-diagonal group could
        # round differently at 6 decimals. Use the matmul only as a
        # candidate pre-filter, then re-score each candidate pair with a
        # per-pair einsum dot whose summation order is shape-independent —
        # emitted sims are deterministic across blocking layouts.
        # Pre-filter slack must cover the full 6-decimal rounding grid
        # (half a grid cell = 5e-7, plus ulp headroom): a true sim of
        # threshold-4e-7 rounds UP to the threshold and must reach the
        # rescore, where `round(exact, 6) >= threshold` decides — the
        # same predicate the SQL oracle applies.
        sims = ma @ mb.T
        slack = threshold - 6e-7
        mask = np.triu(sims >= slack, k=1) if diagonal else sims >= slack
        ia, ib = np.nonzero(mask)
        exact = np.round(np.einsum("ij,ij->i", ma[ia], mb[ib]), 6)
        keep = exact >= threshold
        ia, ib, exact = ia[keep], ib[keep], exact[keep]
        ids_a = a["id"].to_numpy()[ia]
        ids_b = b["id"].to_numpy()[ib]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": exact})

    return score


def cosine_near_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (sim rounded to 6 decimals),
    as (id_a, id_b, sim) with id_a < id_b.

    Executed as a *blocked matrix multiply*: rows are hashed into
    ``n_blocks`` blocks, every block pair (i ≤ j) becomes one
    applyInPandas group, and each group scores its two blocks with one
    numpy float64 matmul — no per-element expression evaluation. Each
    row is shipped to O(n_blocks) groups, so choose n_blocks ≈
    |corpus| / rows-that-fit-in-executor-memory; compute is the same
    Θ(n²·d) as any exact all-pairs, but at memory-bandwidth speed.

    At 100 TB scale pass ``block_col`` (an LSH bucket, label, or
    partition key): then only pairs *within* a block value are scored —
    candidate sets shrink from |corpus|² to Σ|bucket|², which is the
    standard near-dup blocking design. The unblocked variant stays
    exact for oracle differential tests."""
    if block_col is not None:
        rows = df.select(
            F.col(block_col).alias("b0"),
            F.col(block_col).alias("b1"),
            F.lit("a").alias("role"),
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
        )
    else:
        blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
        base = df.select(
            blk.alias("blk"), F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        # role a under keys (blk, j) for j ≥ blk; role b under keys (i, blk)
        # for i < blk — every unordered block pair meets in exactly one group.
        a_side = base.select(
            F.col("blk").alias("b0"),
            F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("b1"),
            F.lit("a").alias("role"),
            "id",
            "vec",
        )
        b_side = base.filter(F.col("blk") > 0).select(
            F.explode(F.sequence(F.lit(0), F.col("blk") - 1)).alias("b0"),
            F.col("blk").alias("b1"),
            F.lit("b").alias("role"),
            "id",
            "vec",
        )
        rows = a_side.unionByName(b_side)
    return (
        rows.groupBy("b0", "b1")
        .applyInPandas(
            _block_pair_scorer(threshold), schema="id_a long, id_b long, sim double"
        )
        .select("id_a", "id_b", "sim")
    )


def _hyperplanes(num_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5(seed, plane,
    dim) — reproducible across runs with no RNG state to ship; distinct
    ``seed`` values give independent hash tables."""
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            key = f"{p}_{d}" if seed == 0 else f"{seed}_{p}_{d}"
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            row.append((h % 2000) / 1000.0 - 1.0)
        planes.append(row)
    return planes


def _lsh_buckets_all_tables(
    vec: Column, num_planes: int, dim: int, num_tables: int
) -> Column:
    """array<string> of the vector's bucket in each of ``num_tables``
    hash tables, via ONE Arrow-batched numpy matmul against the stacked
    (num_tables·num_planes, dim) plane matrix — the expression form
    costs num_tables·num_planes interpreted zip_with/aggregate
    projections per row, ~50× slower at L=16."""
    import numpy as np
    from pyspark.sql import types as T

    planes = np.array(
        [
            row
            for t in range(num_tables)
            for row in _hyperplanes(num_planes, dim, seed=t)
        ],
        dtype=np.float64,
    ).T.copy()  # (dim, L*P)
    weights = (2 ** np.arange(num_planes - 1, -1, -1)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def buckets(vs: pd.Series) -> pd.Series:
        m = np.stack(vs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (m @ planes >= 0).astype(np.int64)  # (n, L*P)
        per_table = signs.reshape(len(m), num_tables, num_planes)
        codes = per_table @ weights  # (n, L)
        # format as the same '1010' strings the expression form emits
        out = [
            [format(int(c), f"0{num_planes}b") for c in row] for row in codes
        ]
        return pd.Series(out)

    return buckets(vec)


def lsh_bucket(vec: Column, num_planes: int, dim: int, seed: int = 0) -> Column:
    """Sign-bit bucket id from ``num_planes`` hyperplane projections."""
    planes = _hyperplanes(num_planes, dim, seed)
    bits = []
    for row in planes:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(w) for w in row]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Pick ``n_centroids`` representative vectors deterministically
    (hash-ordered sample — classic IVF trains centroids driver-side;
    a hash-ordered draw is reproducible with no RNG state and is
    adequate for coarse quantization). Returns a small driver-side
    list: [(centroid_id, [floats])]."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(rows)]


def _centroid_sims(vec: Column, centroids: list) -> Column:
    """array of cosine(vec, centroid_i), as ONE Arrow-batched numpy
    matmul against the (tiny, closure-captured) centroid matrix.

    The expression form — 16 interpreted zip_with/aggregate cosines
    against 64-literal arrays per row — cost ~2.5 ms/row; one
    (batch × dim) @ (dim × centroids) float64 matmul is memory-bound."""
    import numpy as np
    from pyspark.sql import types as T

    c = np.stack([v for _, v in centroids]).astype(np.float64)
    cn = (c / np.linalg.norm(c, axis=1, keepdims=True)).T.copy()

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def sims(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(list(m @ cn))

    return sims(vec)


def ivf_assign(vec: Column, centroids: list) -> Column:
    """Nearest-centroid id (0-based) for a vector."""
    sims = _centroid_sims(vec, centroids)
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivfpq_assign_encode(vec: Column, centroids: list, codebooks) -> Column:
    """Fused ``ivf_assign`` + ``pq_encode`` as ONE Arrow crossing
    (guide §4.1: the embedding column previously shipped to Python
    twice — one ArrowEvalPython per UDF — for the same normalized
    matrix).  Returns ``struct(centroid_id int, codes array<int>)``
    with values identical to the two-UDF form: same float64 matmul and
    first-occurrence argmax as ``_centroid_sims``/``array_position``,
    same per-subspace squared-distance argmin as ``pq_encode``
    (pytest-pinned byte-equality via the frozen-model append/delete
    contracts)."""
    import numpy as np
    from pyspark.sql import types as T

    c = np.stack([v for _, v in centroids]).astype(np.float64)
    cn = (c / np.linalg.norm(c, axis=1, keepdims=True)).T.copy()
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("centroid_id", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )
    )
    def assign_encode(vs: pd.Series) -> pd.DataFrame:
        m = np.stack(vs.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ cn
        cid = sims.argmax(axis=1).astype(np.int32)
        codes = np.empty((len(m), len(books)), dtype=np.int64)
        for j, bk in enumerate(books):
            xs = m[:, j * sub : (j + 1) * sub]
            d = ((xs[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "centroid_id": cid,
                "codes": [row.tolist() for row in codes],
            }
        )

    return assign_encode(vec)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[list] = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid (the inverted file); each query scores only the ``nprobe``
    closest lists — candidate set ≈ |corpus|·nprobe/n_centroids.

    Scale path: the corpus assignment is one narrow pass (no shuffle);
    the probe join shuffles corpus once on centroid_id — or broadcasts
    the (query × nprobe) side, which is what this plan does."""
    if centroids is None:
        # at scale: train once with ivf_centroids and pass the list in —
        # retraining per query batch is a needless corpus action
        centroids = ivf_centroids(corpus, n_centroids, id_col, vec_col)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _dcast(F.col(vec_col)).alias("neighbor_vec"),
        # coalesce(…, -1) makes the assignment provably non-null, so the
        # probe join's inferred isnotnull(centroid_id) folds to true
        # instead of pushing below this projection — which re-inlined
        # the sims UDF and ran the centroid matmul TWICE over the corpus
        # (audited). -1 matches no probe (cids are 0-based); vectors
        # only assign null if the UDF returned null, which it cannot.
        F.coalesce(
            ivf_assign(F.col(vec_col), centroids), F.lit(-1)
        ).alias("centroid_id"),
    ).withColumn("c_norm", _norm(F.col("neighbor_vec")))
    sims = _centroid_sims(F.col(vec_col), centroids)
    probe = queries.select(
        F.col(id_col).alias("query_id"),
        _dcast(F.col(vec_col)).alias("query_vec"),
        F.slice(
            F.reverse(F.array_sort(F.arrays_zip(sims.alias("sim"), F.sequence(F.lit(0), F.lit(len(centroids) - 1)).alias("cid")))),
            1,
            nprobe,
        ).alias("probes"),
    ).select(
        "query_id",
        "query_vec",
        # explode_outer: plain explode infers `size(transform(probes))>0`,
        # which substitutes the sims UDF back in and doubles its eval
        F.explode_outer(
            F.transform(F.col("probes"), lambda p: p["cid"])
        ).alias("centroid_id"),
    ).filter(F.col("centroid_id").isNotNull()).withColumn(
        "q_norm", _norm(F.col("query_vec"))
    )
    scored = (
        c.join(F.broadcast(probe), on="centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _staged_sim())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _flip_probes(bucket: Column, num_planes: int) -> Column:
    """Multi-probe expansion of one bucket string: the bucket itself
    plus every single-bit flip — a vector near a hyperplane lands on
    the other side in a neighbor bucket, and probing those recovers it
    without another hash table (Lv et al., "Multi-Probe LSH", VLDB'07)."""
    flips = [
        F.concat(
            F.substring(bucket, 1, j),
            F.when(F.substring(bucket, j + 1, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.substring(bucket, j + 2, num_planes - j - 1),
        )
        for j in range(num_planes)
    ]
    return F.array(bucket, *flips)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    num_tables: int = 1,
    multi_probe: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket
    with the query in at least one of ``num_tables`` independent hash
    tables are scored (OR-amplification: per-table miss probability
    (1-p^planes) multiplies across tables, so recall rises steeply with
    L while the candidate set grows only ~L·|corpus|/2^planes).

    ``multi_probe=True`` additionally probes every one-bit-flip
    neighbor bucket on the QUERY side (corpus indexing unchanged):
    1+planes probes per table buy roughly another table's worth of
    recall per probe at zero index cost — the standard memory/recall
    trade (fewer tables, more probes).

    Shape: per-table buckets are one posexplode per side; the bucket
    join broadcasts the (small) query side so the corpus never
    shuffles; a candidate seen in multiple tables is scored once —
    dedup happens in the same per-query shuffle the top-k needs
    (groupBy (query, neighbor) then window), no extra Exchange of
    corpus data."""
    def with_buckets(df, idc, vecc, id_alias, vec_alias, norm_alias, probe):
        # cast + norm BEFORE the posexplode: computed once per vector,
        # not once per (vector, table)
        staged = df.select(
            F.col(idc).alias(id_alias),
            _dcast(F.col(vecc)).alias(vec_alias),
            _lsh_buckets_all_tables(F.col(vecc), num_planes, dim, num_tables).alias(
                "bkts"
            ),
        ).withColumn(norm_alias, _norm(F.col(vec_alias)))
        if probe:
            # (tbl, bucket) pairs for the home bucket and each 1-bit probe
            pairs = F.flatten(
                F.transform(
                    F.col("bkts"),
                    lambda b, i: F.transform(
                        _flip_probes(b, num_planes),
                        lambda p: F.struct(i.alias("tbl"), p.alias("bucket")),
                    ),
                )
            )
            # explode_outer, NOT explode: explode's inferred
            # `size(pairs) > 0` filter re-inlines the bucket UDF via
            # projection substitution and ExtractPythonUDFs then runs a
            # SECOND ArrowEvalPython pass per side (audited; same
            # pathology as winnow_overlap_candidates)
            exploded = staged.select(
                id_alias, vec_alias, norm_alias, F.explode_outer(pairs).alias("tb")
            ).filter(F.col("tb").isNotNull())
            return exploded.select(
                id_alias,
                vec_alias,
                norm_alias,
                F.col("tb.tbl").alias("tbl"),
                F.col("tb.bucket").alias("bucket"),
            )
        return staged.select(
            id_alias,
            vec_alias,
            norm_alias,
            F.posexplode_outer("bkts").alias("tbl", "bucket"),
        ).filter(F.col("bucket").isNotNull())

    q = with_buckets(
        queries, id_col, vec_col, "query_id", "query_vec", "q_norm", multi_probe
    )
    c = with_buckets(
        corpus, id_col, vec_col, "neighbor_id", "neighbor_vec", "c_norm", False
    )
    scored = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _staged_sim())
        # a pair found by several tables has the same sim — keep one
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("sim").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def lsh_near_pairs(
    df: DataFrame,
    threshold: float,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10_000,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate all-pairs cosine join: candidates are pairs sharing
    an LSH bucket in ≥1 of ``num_tables`` tables, exactly re-scored and
    thresholded — the sub-quadratic corpus×corpus path where the exact
    ``cosine_near_pairs`` blocked matmul (Θ(n²·d)) stops being viable.
    ``multi_probe=True`` additionally enrolls every vector in its
    1-bit-flip neighbor buckets, catching pairs split by a single
    hyperplane at the cost of (1+planes)× bucket membership.

    Scale shape: same skeleton as the MinHash/SimHash/winnowing
    finders — bucket groupBy → collect_list → shared
    ``bucket_pair_lists`` HOF expansion (never a bucket self-join, no
    broadcast of either side), candidate ids dedup in one shuffle, then
    two hash joins pull the vectors back for the exact staged-dot
    rescore. Work is Σ|bucket|² over capped buckets; recall rises with
    ``num_tables`` (OR-amplification), candidate mass with
    1/2^num_planes.

    Subset contract (pytested): output pairs ⊆ the exact finder's pairs
    with identical sims; every exact pair sharing a bucket is found."""
    from warp_spark.pipeline.dedup import bucket_pair_lists

    staged = df.select(
        F.col(id_col).alias("id"),
        _dcast(F.col(vec_col)).alias("vec"),
        _lsh_buckets_all_tables(F.col(vec_col), num_planes, dim, num_tables).alias(
            "bkts"
        ),
    ).withColumn("nrm", _norm(F.col("vec")))
    if multi_probe:
        pairs_tb = F.flatten(
            F.transform(
                F.col("bkts"),
                lambda b, i: F.transform(
                    _flip_probes(b, num_planes),
                    lambda pr: F.struct(i.alias("tbl"), pr.alias("bucket")),
                ),
            )
        )
        # explode_outer + isNotNull: see with_buckets — plain explode
        # doubles the bucket-UDF eval via its inferred size filter
        exploded = (
            staged.select("id", F.explode_outer(pairs_tb).alias("tb"))
            .filter(F.col("tb").isNotNull())
            .select("id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
        )
    else:
        exploded = staged.select(
            "id", F.posexplode_outer("bkts").alias("tbl", "bucket")
        ).filter(F.col("bucket").isNotNull())
    m = F.col("m")
    cand = (
        exploded.groupBy("tbl", "bucket")
        .agg(F.collect_list("id").alias("m"))
        .filter(F.size(m).between(2, max_bucket_size))
        .select(
            F.explode(
                bucket_pair_lists(
                    m,
                    lambda x, y: F.struct(
                        F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    va = staged.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("na")
    )
    vb = staged.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "sim",
            F.round(_dot(F.col("vec_a"), F.col("vec_b")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-vector ANN (Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
# A 64-dim float32 vector (256 B) compresses to m single-byte codes
# (8 B at m=8): at 100 TB of embeddings the code table is ~3% of the
# raw corpus, small enough to keep hot, and queries score codes via
# per-query lookup tables (ADC) without touching the raw vectors.
# ---------------------------------------------------------------------------
def _fit_codebooks(x, m: int, n_codes: int, iters: int):
    """The driver-side Lloyd trainer shared by :func:`pq_codebooks` and
    :func:`ivfpq_train`: ``x`` is the already-collected (sample, dim)
    float64 matrix in hash order.  Deterministic — no RNG state."""
    import numpy as np

    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        # deterministic init: first n_codes distinct subvectors in sample order
        _, idx = np.unique(xs.round(9), axis=0, return_index=True)
        cents = xs[np.sort(idx)[:n_codes]].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cents)):
                mask = assign == c
                if mask.any():
                    cents[c] = xs[mask].mean(axis=0)
        books.append(cents.tolist())
    return books


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 256,
    iters: int = 5,
):
    """Driver-trained PQ codebooks: unit-normalize, split the dimension
    into ``m`` subvectors, per subspace run ``iters`` Lloyd steps on a
    deterministic hash-ordered sample (same training discipline as
    ivf_centroids — reproducible, no RNG state; train once and reuse).
    Returns an (m, n_codes, dim/m) nested float list."""
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(sample)
        .collect()
    )
    x = np.stack([np.array(r[vec_col], dtype=np.float64) for r in rows])
    return _fit_codebooks(x, m, n_codes, iters)


def ivfpq_train(
    train: DataFrame,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 256,
    iters: int = 5,
):
    """Train coarse centroids AND PQ codebooks from ONE hash-ordered
    training draw (guide §1.2 step 1 — don't pay two corpus passes for
    two prefixes of the same deterministic sample): ``ivf_centroids``
    takes the first ``n_centroids`` rows of the md5-ordered corpus and
    ``pq_codebooks`` the first ``sample`` rows of the SAME ordering, so
    a single top-``max(sample, n_centroids)`` collect serves both.
    Returns ``(centroids, codebooks)`` — element-for-element identical
    to the two-collect form (pytest-pinned)."""
    import numpy as np

    rows = (
        train.select(F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(max(int(n_centroids), int(sample)))
        .collect()
    )
    centroids = [
        (i, [float(x) for x in r[vec_col]])
        for i, r in enumerate(rows[: int(n_centroids)])
    ]
    x = np.stack(
        [np.array(r[vec_col], dtype=np.float64) for r in rows[: int(sample)]]
    )
    return centroids, _fit_codebooks(x, m, n_codes, iters)


def pq_encode(vec: Column, codebooks) -> Column:
    """array<int> of ``m`` code ids — nearest codeword per subspace of
    the unit-normalized vector. Arrow-batched numpy kernel."""
    import numpy as np
    from pyspark.sql import types as T

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(np.float64)
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        codes = np.empty((len(x), len(books)), dtype=np.int64)
        for j, bk in enumerate(books):
            xs = x[:, j * sub : (j + 1) * sub]
            d = ((xs[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode(vec)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    rerank: int = 0,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation: each query
    precomputes an (m × n_codes) inner-product lookup table against the
    codebooks; a corpus code then scores in m table gathers — the raw
    vectors are never read at query time.

    Scale shape: the code table is the only corpus-sized input (no
    shuffle — scored per partition via mapInPandas with the broadcast
    LUTs), map-side top-k per partition bounds the window input to
    k·P·|queries| rows, then one per-query window finalizes. Queries
    are driver-collected to build LUTs — same small-query contract as
    brute_force_topk's broadcast.

    ``rerank`` > k enables the production two-stage pattern: ADC builds
    a shortlist of that size, then ONLY the shortlist ids join back to
    their raw vectors for exact cosine — recall approaches exact at a
    shortlist-sized fraction of the exact cost (measured: ADC-only
    0.40-0.48 recall@5 on the test corpora; 0.90-0.98 with rerank=50)."""
    import numpy as np
    from pyspark.sql import types as T

    if codebooks is None:
        codebooks = pq_codebooks(corpus, m, n_codes, vec_col, id_col)
    books = np.stack([np.array(b, dtype=np.float64) for b in codebooks])  # (m,k,sub)
    sub = books.shape[2]

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.array(r[vec_col], dtype=np.float64) for r in q_rows])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    # luts[q, j, c] = <query_sub_j, codeword_c_j>; ADC score = Σ_j gathers
    luts = np.einsum("qjs,jcs->qjc", qm.reshape(len(qm), len(books), sub), books)

    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"), pq_encode(F.col(vec_col), codebooks).alias("codes")
    )
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            nid = pdf["neighbor_id"].to_numpy()
            outs = []
            for qi in range(len(qids)):
                s = luts[qi][np.arange(len(books)), c].sum(axis=1)  # (n,)
                keep = nid != qids[qi]
                nk, sk = nid[keep], s[keep]
                top = np.argsort(-sk, kind="stable")[:shortlist]  # map-side top-k
                outs.append(
                    pd.DataFrame(
                        {"query_id": qids[qi], "neighbor_id": nk[top], "sim": sk[top].round(6)}
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    shortlist = max(k, rerank)

    partial = codes.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    out = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
    if rerank <= k:
        return out
    return _exact_rerank(out, queries, corpus, k, id_col, vec_col)


def _exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Production two-stage tail shared by the compressed-index paths
    (pq_topk, ivfpq_topk): ONLY the shortlist ids join back to their raw
    vectors for exact cosine — the raw corpus is touched for
    |shortlist|·|queries| rows, never scanned."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), _dcast(F.col(vec_col)).alias("query_vec")
    ).withColumn("q_norm", _norm(F.col("query_vec")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dcast(F.col(vec_col)).alias("neighbor_vec")
    ).withColumn("c_norm", _norm(F.col("neighbor_vec")))
    exact = (
        shortlist.select("query_id", "neighbor_id")
        .join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("sim", _staged_sim())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[list] = None,
    codebooks=None,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ: the composition every production vector store runs at
    scale (Faiss IndexIVFPQ; Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI'11 §IV) — a coarse inverted file
    prunes the corpus to ``nprobe``/``n_centroids`` of its lists, then
    product-quantized ADC scores ONLY the surviving codes, then (with
    ``rerank``>k) the exact tail re-ranks the shortlist.

    Why the composition matters at 100 TB: IVF alone still reads raw
    vectors (256 B each here) for every probed row; PQ alone still
    scores every code in the corpus.  Together the query-time work is
    (nprobe/n_centroids) · |corpus| code gathers over 16 B/vector codes
    — a ~4 · 16 = 64× reduction in scanned bytes at these defaults
    before the shortlist touches a raw vector.

    Scale shape: centroids and codebooks are O(model) driver artifacts
    (train once, pass in — same discipline as ivf_topk/pq_topk); the
    corpus pass computes centroid_id + PQ codes in ONE narrow
    projection (no shuffle, no raw-vector movement); probe-list
    membership is enforced INSIDE the Arrow scoring kernel against the
    closure-captured per-query probe sets — the corpus is never joined
    or shuffled, map-side top-k bounds the window input to
    shortlist·P·|queries| rows exactly like pq_topk."""
    if centroids is None and codebooks is None:
        # ONE hash-ordered training draw serves both model halves
        # (ivfpq_train) instead of two top-k corpus passes
        centroids, codebooks = ivfpq_train(
            corpus, n_centroids, m, n_codes, id_col, vec_col
        )
    elif centroids is None:
        centroids = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    elif codebooks is None:
        codebooks = pq_codebooks(corpus, m, n_codes, vec_col, id_col)
    # corpus: inverted-file assignment + PQ codes, one narrow pass and
    # ONE Arrow crossing (ivfpq_assign_encode fuses the two UDFs)
    enc = ivfpq_assign_encode(F.col(vec_col), centroids, codebooks)
    codes = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.coalesce(enc["centroid_id"], F.lit(-1)).alias("centroid_id"),
        enc["codes"].alias("codes"),
    )
    return ivfpq_probe(
        queries,
        codes,
        centroids,
        codebooks,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        storage=corpus,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivfpq_probe(
    queries: DataFrame,
    codes: DataFrame,
    centroids: list,
    codebooks,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 0,
    storage: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query side of IVF-PQ against a PRE-ENCODED inverted file — the
    load-and-probe half of a persisted index (persist_ivfpq_index /
    load_ivfpq_index), so index construction cost amortizes across
    queries the way a production vector store's does (reference
    analogue: Warp's cache step materializes upstream state once,
    QBECacheStep.swift:15-140; Faiss writes IndexIVFPQ to disk the
    same way).

    ``codes`` carries (neighbor_id, centroid_id, codes).  Before the
    Arrow kernel sees a byte, the frame is filtered to the UNION of all
    queries' probe lists — when the codes frame is a parquet read
    partitioned by centroid_id (how persist_ivfpq_index lays it out),
    Catalyst turns that filter into partition pruning and the unprobed
    inverted lists are never read off disk, the IVF contract expressed
    as a file-layout property.  With ``rerank`` > k, ``storage`` (the
    raw-vector tier of the index) re-ranks the shortlist exactly —
    only |shortlist|·|queries| raw rows are touched."""
    import numpy as np
    from pyspark.sql import types as T

    books = np.stack([np.array(b, dtype=np.float64) for b in codebooks])  # (m,k,sub)
    sub = books.shape[2]

    # queries: driver-side LUTs + probe lists (small-query contract)
    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.array(r[vec_col], dtype=np.float64) for r in q_rows])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    luts = np.einsum("qjs,jcs->qjc", qm.reshape(len(qm), len(books), sub), books)
    cmat = np.stack([v for _, v in centroids]).astype(np.float64)
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    csims = qm @ cmat.T  # same cosine the corpus-side ivf_assign uses
    probe_sets = [
        np.argsort(-csims[i], kind="stable")[:nprobe] for i in range(len(qids))
    ]

    # union-of-probed-lists pre-filter: row-identical to the kernel's
    # per-query isin (a row no query probes can never score), but when
    # codes is partitioned by centroid_id this is PARTITION PRUNING —
    # unprobed lists are never scanned
    all_probed = sorted({int(c) for ps in probe_sets for c in ps})
    codes = codes.filter(F.col("centroid_id").isin(all_probed))
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    shortlist = max(k, rerank)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            nid = pdf["neighbor_id"].to_numpy()
            cent = pdf["centroid_id"].to_numpy()
            outs = []
            for qi in range(len(qids)):
                # the inverted-file prune: only rows in a probed list score
                keep = np.isin(cent, probe_sets[qi]) & (nid != qids[qi])
                if not keep.any():
                    continue
                ck, nk = c[keep], nid[keep]
                s = luts[qi][np.arange(len(books)), ck].sum(axis=1)
                top = np.argsort(-s, kind="stable")[:shortlist]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            "neighbor_id": nk[top],
                            "sim": s[top].round(6),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    partial = codes.mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    out = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
    if rerank <= k:
        return out
    if storage is None:
        raise ValueError("ivfpq_probe: rerank > k requires the storage tier")
    return _exact_rerank(out, queries, storage, k, id_col, vec_col)


def persist_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_df: DataFrame | None = None,
) -> dict:
    """Train an IVF-PQ index once and persist it as four parquet
    artifacts, so query cost amortizes across probes the way a
    production vector store's does (Faiss write_index; reference
    analogue: Warp's cache step, QBECacheStep.swift:15-140):

      {path}/centroids  (centroid_id, vector)      — O(n_centroids)
      {path}/codebooks  (subspace, code, vector)   — O(m·n_codes)
      {path}/codes      (vec_id, codes) PARTITIONED BY centroid_id
      {path}/storage    (vec_id, vector)           — raw tier for rerank

    The codes table is the inverted file MADE PHYSICAL: partitioning by
    centroid_id means a probe's ``centroid_id IN (probed...)`` filter
    is partition pruning — unprobed lists are never read, which is the
    IVF access pattern expressed as file layout rather than an
    in-memory structure.  Training is deterministic (hash-ordered
    draws, no RNG state), so re-persisting yields byte-identical
    artifacts.  Everything driver-side is O(model); the corpus pass is
    one narrow projection, no shuffle beyond the partitioned write's
    file routing.

    ``train_df``: optional separate TRAINING corpus (default: train on
    ``corpus`` itself).  This is the production vector-store pattern —
    train the model on a base sample, encode everything — and the
    frozen-model contract that makes :func:`append_ivfpq_index` exact:
    append(build(train=B, encode=B), slice) ≡ build(train=B,
    encode=B∪slice) (pytest-pinned)."""
    spark = corpus.sparkSession
    train = train_df if train_df is not None else corpus
    # ONE training draw serves both model halves (ivfpq_train): the
    # centroid and codebook samples are prefixes of the same
    # md5-ordered draw, so the second top-k corpus pass was pure waste
    centroids, codebooks = ivfpq_train(
        train, n_centroids, m, n_codes, id_col, vec_col
    )
    small_rows_df(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in centroids],
        "centroid_id long, vector array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    small_rows_df(
        spark,
        [
            (int(j), int(c), [float(x) for x in codebooks[j][c]])
            for j in range(len(codebooks))
            for c in range(len(codebooks[j]))
        ],
        "subspace long, code long, vector array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    enc = ivfpq_assign_encode(F.col(vec_col), centroids, codebooks)
    (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.coalesce(enc["centroid_id"], F.lit(-1)).alias("centroid_id"),
            enc["codes"].alias("codes"),
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/codes")
    )
    (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vector"))
        .write.mode("overwrite")
        .parquet(f"{path}/storage")
    )
    return {"n_centroids": n_centroids, "m": m, "n_codes": n_codes}


@locked_mutation
def append_ivfpq_index(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Absorb new vectors into a persisted IVF-PQ index with the model
    FROZEN — the vector leg of the incremental-maintenance discipline
    (dedup leg: append_dedup_index; lexical leg: append_bm25_index),
    and exactly how production vector stores grow an IVF index between
    retrains (Faiss ``add`` after ``train``): centroids and codebooks
    are READ from the artifact, never refit; the slice is assigned to
    its nearest existing centroid and PQ-encoded through the existing
    codebooks; its codes rows are appended INTO the centroid_id
    partitioning (probe-side partition pruning keeps working) and its
    raw vectors into the rerank storage tier.  No O(corpus) work — the
    slice pass is the only data touched.

    Contract: append(build(train=B, encode=B), S) is BYTE-EQUAL to
    build(train=B, encode=B∪S) — the frozen-model rebuild
    (persist_ivfpq_index's ``train_df``) — because assignment and
    encoding are pure functions of the persisted model (pytest-pinned).
    Recall on appended vectors degrades only as the corpus drifts from
    the training sample; the pq_reconstruction audit entry is the
    drift detector that schedules the retrain.

    No-re-append precondition (r12 verdict item 3): a slice holding
    already-indexed ids would duplicate their codes and storage rows
    (a probe would then shortlist/rerank the same id twice), so the
    function returns ``False`` (caller must frozen-model-rebuild, the
    append_dedup_index contract) when any slice id already appears in
    the codes table.  The check is a single-column (column-pruned)
    semi-join over the codes' vec_id column — one integer column of
    the INDEX, never a corpus re-encode.

    Concurrency: the ENTIRE verb — overlap precondition, codes and
    storage appends — holds the canonical ``<path>.lock``
    (artifacts.locked_mutation, r13 verdict item 3), so two appends,
    or an append racing a delete/compact, serialize instead of both
    passing the precondition."""
    overlap = (
        spark.read.parquet(f"{path}/codes")
        .select("vec_id")
        .join(
            new_vecs.select(F.col(id_col).alias("vec_id")).distinct(),
            "vec_id",
            "leftsemi",
        )
        .limit(1)
        .count()
    )
    if overlap:
        return False  # slice re-delivers indexed ids: rebuild honestly
    centroids = [
        (int(r["centroid_id"]), [float(x) for x in r["vector"]])
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    ]
    book_rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    )
    n_sub = int(book_rows[-1]["subspace"]) + 1
    codebooks = [
        [
            [float(x) for x in r["vector"]]
            for r in book_rows
            if int(r["subspace"]) == j
        ]
        for j in range(n_sub)
    ]
    enc = ivfpq_assign_encode(F.col(vec_col), centroids, codebooks)
    (
        new_vecs.select(
            F.col(id_col).alias("vec_id"),
            F.coalesce(enc["centroid_id"], F.lit(-1)).alias("centroid_id"),
            enc["codes"].alias("codes"),
        )
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/codes")
    )
    (
        new_vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vector"))
        .write.mode("append")
        .parquet(f"{path}/storage")
    )
    return True


@locked_mutation
def delete_from_ivfpq_index(
    spark,
    path: str,
    del_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Remove vectors from a persisted IVF-PQ index with the model
    FROZEN — the vector leg of the delete discipline (dedup:
    delete_from_dedup_index; lexical: delete_from_bm25_index), and
    exactly how production vector stores shed rows between retrains
    (Faiss ``remove_ids``): centroids and codebooks are untouched, the
    deleted ids' codes rows are dropped by rewriting ONLY the touched
    centroid_id partitions, and their raw vectors leave the rerank
    tier via one anti-join.

    ``del_vecs`` must carry the vectors AS INDEXED: the slice is
    re-assigned and re-encoded through the persisted model (pure
    functions, so byte-identical to what the index holds) and
    verified — every recomputed (vec_id, centroid_id, codes) row must
    exist in the pruned partitions, and the ids' indexed rows must
    number exactly the slice's, so an absent id, a drifted vector, or
    a double-appended id all REFUSE (``False``, caller rebuilds on
    the remaining corpus).  On ``True``,
    delete(append(build(B), S), S) is BYTE-EQUAL to build(B)
    (pytest-pinned) — append and delete are exact inverses under a
    frozen model.  A slice that repeats an id REFUSES too, whether the
    repeats carry the same vector or not: its count of non-null ids
    must equal its distinct-id count ``n_del`` (both from the one
    pre-verification job) — stricter than the pre-r14 leftsemi form,
    which tolerated duplicate rows silently; refusing hands the
    ambiguity to the caller's rebuild instead of guessing.  The ENTIRE
    verb — verification, inverted-list rewrite, storage swap — holds
    the canonical ``<path>.lock``
    (artifacts.locked_mutation, r13 verdict item 3)."""
    import os
    import shutil

    from warp_spark.artifacts import swap_artifact_dir, unique_sibling_tmp

    centroids = [
        (int(r["centroid_id"]), [float(x) for x in r["vector"]])
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    ]
    book_rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    )
    n_sub = int(book_rows[-1]["subspace"]) + 1
    codebooks = [
        [
            [float(x) for x in r["vector"]]
            for r in book_rows
            if int(r["subspace"]) == j
        ]
        for j in range(n_sub)
    ]
    enc = ivfpq_assign_encode(F.col(vec_col), centroids, codebooks)
    del_enc = del_vecs.select(
        F.col(id_col).alias("vec_id"),
        F.coalesce(enc["centroid_id"], F.lit(-1)).alias("centroid_id"),
        enc["codes"].alias("codes"),
    ).localCheckpoint(eager=True)
    # ONE job answers "how many ids", "how many distinct ids" and
    # "which lists are touched" (previously a count + a collect over the
    # same tiny checkpointed frame — two scheduler round-trips)
    pre = del_enc.agg(
        F.count("vec_id").alias("n_ids"),
        F.countDistinct("vec_id").alias("n_del"),
        F.collect_set("centroid_id").alias("touched"),
    ).first()
    n_del = int(pre["n_del"])
    if n_del == 0:
        return True
    if int(pre["n_ids"]) != n_del:
        return False  # the slice repeats an id
    touched = sorted(pre["touched"])
    codes = spark.read.parquet(f"{path}/codes")
    pruned = codes.filter(F.col("centroid_id").isin(touched))
    # ONE full codes pass answers both verification counts (previously
    # two scans): rows of the requested ids anywhere in the index
    # (indexed_for_ids — an id hiding in an UNtouched list is drift),
    # flagged by whether they match a recomputed row exactly (matched —
    # a full-row match implies its list is in ``touched``, so this
    # equals the old pruned-scan count row-for-row).
    ver = (
        codes.join(
            del_enc.select(F.col("vec_id").alias("__did")).distinct(),
            F.col("vec_id") == F.col("__did"),
            "leftsemi",
        )
        .join(
            del_enc.withColumn("__m", F.lit(1)),
            ["vec_id", "centroid_id", "codes"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("indexed_for_ids"),
            F.coalesce(F.sum("__m"), F.lit(0)).alias("matched"),
        )
        .first()
    )
    if int(ver["matched"]) != n_del or int(ver["indexed_for_ids"]) != n_del:
        return False  # absent id, vector drift, or duplicated codes

    del_ids = del_enc.select("vec_id").distinct()
    remaining = pruned.join(del_ids, "vec_id", "left_anti").select(
        "vec_id", "codes", "centroid_id"
    )
    tmp = unique_sibling_tmp(os.path.join(path, "codes"), tag="delete")
    remaining.repartition(max(len(touched), 1), "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(tmp)
    # swap ONLY the touched inverted lists — the verb-wide root lock
    # is already held, so no per-swap flock
    for c in touched:
        dst = os.path.join(path, "codes", f"centroid_id={c}")
        src = os.path.join(tmp, f"centroid_id={c}")
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)

    st_tmp = unique_sibling_tmp(os.path.join(path, "storage"), tag="delete")
    (
        spark.read.parquet(f"{path}/storage")
        .join(del_ids, "vec_id", "left_anti")
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(st_tmp)
    )
    swap_artifact_dir(os.path.join(path, "storage"), st_tmp, locked=True)
    return True


@locked_mutation
def compact_ivfpq_index(spark, path: str) -> None:
    """Rewrite an append-grown IVF-PQ index into its canonical file
    layout with IDENTICAL content (the compact_dedup_index /
    compact_bm25_index discipline applied to the vector store — Faiss
    users know this as rebuilding the on-disk inverted lists after
    many add() calls): each append adds one file per touched
    centroid_id partition of the codes table and one to the storage
    tier; compaction re-clusters codes to one file per inverted list
    and coalesces storage, carrying the model artifacts (centroids,
    codebooks) and markers over byte-unchanged.  Content-preserving by
    construction, so a probe's shortlist, ADC scores, and rerank are
    identical before and after.  Built in a unique sibling scratch
    dir while the whole verb holds the canonical ``<path>.lock``
    (artifacts.locked_mutation, r13 verdict item 3 — the same lock
    every mutation verb serializes on)."""
    import os
    import shutil

    from warp_spark.artifacts import swap_artifact_dir, unique_sibling_tmp

    codes = spark.read.parquet(f"{path}/codes")
    n_lists = codes.select("centroid_id").distinct().count()
    tmp = unique_sibling_tmp(path, tag="compact")
    codes.repartition(max(int(n_lists), 1), "centroid_id").write.partitionBy(
        "centroid_id"
    ).parquet(f"{tmp}/codes")
    spark.read.parquet(f"{path}/storage").coalesce(8).write.parquet(
        f"{tmp}/storage"
    )
    for sub in ("centroids", "codebooks"):
        spark.read.parquet(f"{path}/{sub}").coalesce(1).write.parquet(
            f"{tmp}/{sub}"
        )
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            shutil.copy2(full, os.path.join(tmp, name))
    swap_artifact_dir(path, tmp, locked=True)


def pq_reconstruction(
    codes: DataFrame,
    storage: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ reconstruction quality of a persisted index:
    decode each vector's codes back through the codebooks and emit
    cosine(original, reconstruction) rounded to 6 places (the ANN-tier
    float convention).  The quantization-error audit a production
    vector store runs after (re)training — a codebook drifted from the
    corpus shows up here before recall drops.  One hash join (codes ↔
    storage on the id) + one Arrow kernel; output is one row per
    vector, no raw vectors leave the executor."""
    import numpy as np
    from pyspark.sql import types as T

    books = np.stack([np.array(b, dtype=np.float64) for b in codebooks])

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("recon_cos", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(
                [np.array(v, dtype=np.float64) for v in pdf["__vec"]]
            )
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            rec = np.concatenate(
                [books[j][c[:, j]] for j in range(len(books))], axis=1
            )
            cos = (x * rec).sum(axis=1) / np.linalg.norm(rec, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["__id"].to_numpy(),
                    "recon_cos": cos.round(6),
                }
            )

    joined = codes.join(
        storage.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        ),
        codes["neighbor_id"] == F.col("__id"),
    ).select("__id", "__vec", "codes")
    return joined.mapInPandas(run, schema)


def load_ivfpq_index(spark: SparkSession, path: str):
    """Load a persist_ivfpq_index layout.  Returns (centroids,
    codebooks, codes_df, storage_df) in exactly the shapes ivfpq_probe
    takes.  Only the two O(model) artifacts are collected; the codes
    and storage tables stay lazy parquet scans — the probe's
    centroid_id filter prunes the codes partitions and the storage tier
    is touched for |shortlist|·|queries| rows only."""
    centroids = [
        (int(r["centroid_id"]), [float(x) for x in r["vector"]])
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    ]
    book_rows = (
        spark.read.parquet(f"{path}/codebooks").orderBy("subspace", "code").collect()
    )
    n_sub = int(book_rows[-1]["subspace"]) + 1
    codebooks = [
        [
            [float(x) for x in r["vector"]]
            for r in book_rows
            if int(r["subspace"]) == j
        ]
        for j in range(n_sub)
    ]
    codes = spark.read.parquet(f"{path}/codes").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
        "codes",
    )
    storage = spark.read.parquet(f"{path}/storage").select(
        "vec_id", F.col("vector").alias("embedding")
    )
    return centroids, codebooks, codes, storage


def filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    filter_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered (metadata-constrained) exact top-k: neighbors must share
    ``filter_col`` with the query — the "filtered vector search" every
    production store offers (search within a tenant / language /
    category).

    The plan story is the point: the metadata predicate turns the
    brute-force CROSS product into an EQUI-join on the filter key
    (BroadcastHashJoin on the tiny query side) — each corpus row is
    scored only against same-key queries, so selective filters cut
    scoring work proportionally, and the kNN-baseline BNL disappears
    entirely. Returns ``query_id, neighbor_id, sim, rank`` (rank within
    the filtered candidate set)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(filter_col).alias("__fk"),
        _dcast(F.col(vec_col)).alias("query_vec"),
    ).withColumn("q_norm", _norm(F.col("query_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(filter_col).alias("__fk"),
        _dcast(F.col(vec_col)).alias("neighbor_vec"),
    ).withColumn("c_norm", _norm(F.col("neighbor_vec")))
    scored = (
        c.join(F.broadcast(q), "__fk")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _staged_sim())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_ids,
    k: int = 5,
    leg_depth: int = 50,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): a VECTOR leg (exact cosine top-``leg_depth``) and a
    LEXICAL leg (distinct-token overlap top-``leg_depth``) fused as
    score = Σ_legs 1/(rrf_k + rank) — the standard hybrid-RAG retrieval
    stack. Items missing from a leg contribute 0 for it.

    Determinism: both leg ranks are integers under total orders, and
    the fused score is a sum of two 1/(int) doubles — identical on any
    IEEE engine, no rounding. Scale shape: the vector leg is the
    kNN-baseline broadcast scan; the lexical leg joins exploded
    distinct tokens against the broadcast query-token set (corpus
    tokens never shuffle — one count aggregate per (query, doc)); the
    fusion is a full outer join of two ≤ queries×leg_depth tables."""
    qset = list(query_ids)
    vq = emb.filter(F.col(vec_id_col).isin(qset))
    vleg = brute_force_topk(vq, emb, k=leg_depth, id_col=vec_id_col, vec_col=vec_col).select(
        "query_id", F.col("neighbor_id").alias("item_id"), F.col("rank").alias("rv")
    )
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    dt = docs.select(F.col(doc_id_col).alias("item_id"), F.explode(toks).alias("tok"))
    qt = (
        docs.filter(F.col(doc_id_col).isin(qset))
        .select(F.col(doc_id_col).alias("query_id"), F.explode(toks).alias("tok"))
    )
    ov = (
        dt.join(F.broadcast(qt), "tok")
        .filter(F.col("item_id") != F.col("query_id"))
        .groupBy("query_id", "item_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("overlap").desc(), F.col("item_id")
    )
    lleg = (
        ov.withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") <= leg_depth)
        .select("query_id", "item_id", "rl")
    )
    fused = vleg.join(lleg, ["query_id", "item_id"], "full").select(
        "query_id",
        "item_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rv")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rl")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("item_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "rrf_score", "rank")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the 4× memory/bandwidth compression every
# production vector store applies before ANN search
# ---------------------------------------------------------------------------

def int8_quantize(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x_i|,
    q_i = floor(x_i·scale + 0.5) — round-half-up spelled as floor(+0.5)
    because IEEE floor is identical everywhere while round() half-way
    behavior is engine-specific (the repo-wide no-boundary-round rule).

    Stages max|x| and scale in separate projections (CollapseProject
    discipline) so the max runs once per vector, not once per element.
    Returns ``id_col, q (array<int>), scale (double)`` — the compressed
    representation is 4× smaller than float32 and integer dot products
    over it are exact, so quantized scoring is cross-engine
    bit-reproducible (no float-sum ordering at all)."""
    staged = df.select(
        F.col(id_col),
        _dcast(F.col(vec_col)).alias("__v"),
    ).withColumn(
        "__mx", F.array_max(F.transform(F.col("__v"), F.abs))
    ).withColumn(
        "__scale",
        F.when(F.col("__mx") > 0, F.lit(127.0) / F.col("__mx")).otherwise(F.lit(1.0)),
    )
    return staged.select(
        F.col(id_col),
        F.transform(
            F.col("__v"),
            lambda x: F.floor(x * F.col("__scale") + F.lit(0.5)).cast("int"),
        ).alias("q"),
        F.col("__scale").alias("scale"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized COSINE: quantize both sides, broadcast
    the (compressed) query side, rank per query by
    qdot/√(Σqa²·Σqb²) — the cosine of the quantized vectors. All three
    accumulators are exact integers (order-free sums), so the only
    float op is one √ and one divide on exact inputs — deterministic on
    every IEEE engine, no rounding discipline needed; the emitted
    columns (``qdot``, ``qnorm2`` = Σqb²) are pure integers. Same
    kNN-baseline plan shape as brute_force_topk (corpus never shuffles;
    map-side window top-k) with a 4× smaller broadcast."""
    def isum(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)

    q = int8_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qa")
    )
    # Σqb² depends only on the corpus vector — stage it BELOW the join
    # (once per corpus row, not once per corpus×query pair; the same
    # per-side staging discipline as brute_force_topk's norms, which
    # measured ~5× there).  Same exact integers either way.
    c = int8_quantize(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("qb")
    ).withColumn(
        "qnorm2", isum(F.transform(F.col("qb"), lambda x: (x * x).cast("long")))
    )

    qdot = isum(F.zip_with(F.col("qa"), F.col("qb"), lambda a, b: (a * b).cast("long")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdot", qdot)
    )
    # per query Σqa² is constant, so cosine order ≡ qdot/√Σqb² order
    qcos = F.col("qdot") / F.sqrt(F.col("qnorm2").cast("double"))
    w = Window.partitionBy("query_id").orderBy(qcos.desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "qnorm2", "rank")
    )


# ---------------------------------------------------------------------------
# Spherical k-means (cosine k-means — the standard embedding clustering)
# ---------------------------------------------------------------------------

def spherical_kmeans(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed spherical k-means: assign every vector to its max-cosine
    centroid (Arrow matmul, `_centroid_sims`), recompute centroids as the
    normalized mean of the UNIT-NORMALIZED members, repeat. Init is the
    deterministic hash-ordered draw (`ivf_centroids`) so runs are
    reproducible with no RNG state.

    Normalizing each member before summing is what makes the mean-cosine
    objective provably non-decreasing for ARBITRARY input magnitudes:
    the objective is Σ (x/‖x‖)·c, whose maximizing unit c is the
    normalized sum of x/‖x‖ — summing raw vectors only optimizes it
    when inputs are already unit-norm (round-3 ADVICE.md item).

    Scale shape per iteration: one map-side Arrow scoring pass + one
    groupBy(cluster) aggregate of per-coordinate sums (k×dim values) —
    the only driver traffic is the k×dim centroid matrix and one
    objective scalar (the IVF-centroid discipline). Lineage stays flat
    because each iteration starts from the raw corpus with new closure
    centroids, not from the previous iteration's plan.

    Returns (assignments DataFrame ``id_col, cluster, sim``, centroids
    list, per-iteration objective list). The mean objective (average
    best-cosine) is non-decreasing across iterations — both k-means
    steps improve it — which the catalog entry checks as an invariant.
    The returned assignments are recomputed against the FINAL returned
    centroids (one extra lazy scoring projection, no extra collect), so
    ``assigned`` and ``cents`` are mutually consistent.
    """
    import numpy as np

    dim = len(corpus.select(vec_col).first()[0])
    cents = [(i, v) for i, v in ivf_centroids(corpus, k, id_col, vec_col)]
    objectives: list[float] = []

    def _assign(centroids):
        sims = _centroid_sims(F.col(vec_col), centroids)
        return (
            corpus.select(F.col(id_col), F.col(vec_col), sims.alias("__sims"))
            .select(
                F.col(id_col),
                F.col(vec_col),
                (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
                .cast("int")
                .alias("cluster"),
                F.array_max(F.col("__sims")).alias("sim"),
            )
        )

    def _iter_stats(centroids):
        """Per-iteration sufficient statistics as ONE Arrow pass
        emitting k partial rows per task (guide §2.3 "aggregate before
        you shuffle" + §4.1): the old form shipped the vector column
        through an ArrowEvalPython sims pass, then paid a per-row
        interpreted `aggregate` HOF for ‖x‖ and `dim` element_at sums
        over EVERY row in the JVM aggregate.  Here assignment (the
        identical matmul + first-occurrence argmax as _centroid_sims)
        and the guarded normalized sums happen in the same numpy
        kernel, and only k×(dim+2) values per task cross the shuffle.
        Assignments are bit-identical; vsum/obj partial-sum order
        changes only the float fold order, which the objective's 1e-9
        monotone tolerance and the invariant-row contract absorb (same
        latitude the JVM partial-aggregate merge order already has)."""
        c = np.stack([v for _, v in centroids]).astype(np.float64)
        cn = (c / np.linalg.norm(c, axis=1, keepdims=True)).T.copy()
        kk = len(centroids)

        def fn(batches):
            from pyspark import TaskContext

            counts = np.zeros(kk, dtype=np.int64)
            obj = np.zeros(kk, dtype=np.float64)
            vs = np.zeros((kk, dim), dtype=np.float64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(m, axis=1, keepdims=True)
                sims = (m / nrm) @ cn
                cid = sims.argmax(axis=1)
                counts += np.bincount(cid, minlength=kk)
                obj += np.bincount(cid, weights=sims.max(axis=1), minlength=kk)
                # the vsum guard mirrors the old when(nrm>0, x/nrm, x)
                mn = np.where(nrm > 0, m / np.where(nrm > 0, nrm, 1.0), m)
                np.add.at(vs, cid, mn)
            part = TaskContext.get().partitionId()
            yield pd.DataFrame(
                {
                    "cluster": np.arange(kk, dtype=np.int32),
                    "part": np.full(kk, part, dtype=np.int32),
                    "n": counts,
                    "obj": obj,
                    "vsum": [row.tolist() for row in vs],
                }
            )

        partials = corpus.select(vec_col).mapInPandas(
            fn,
            schema="cluster int, part int, n long, obj double, "
            "vsum array<double>",
        )
        # fold the partials in SORTED task order: float sums must be
        # run-to-run deterministic (the end-to-end determinism pytest
        # pins obj1 == obj2), and collect_list arrival order is not —
        # array_sort on the (part, …) struct pins the fold order
        zero = F.array_repeat(F.lit(0.0), dim)
        return (
            partials.groupBy("cluster")
            .agg(
                F.sum("n").alias("n"),
                F.array_sort(
                    F.collect_list(F.struct("part", "obj", "vsum"))
                ).alias("ps"),
            )
            .select(
                "cluster",
                "n",
                F.aggregate(
                    F.col("ps"), F.lit(0.0), lambda acc, x: acc + x["obj"]
                ).alias("obj"),
                F.aggregate(
                    F.col("ps"),
                    zero,
                    lambda acc, x: F.zip_with(
                        acc, x["vsum"], lambda a, b: a + b
                    ),
                ).alias("vsum"),
            )
            .where(F.col("n") > 0)
            .collect()
        )

    for _ in range(iters):
        stats = _iter_stats(cents)
        total_n = sum(r["n"] for r in stats)
        objectives.append(float(sum(r["obj"] for r in stats)) / total_n)
        new_cents = []
        for r in sorted(stats, key=lambda r: r["cluster"]):
            v = np.array(r["vsum"], dtype=np.float64) / r["n"]
            nrm = np.linalg.norm(v)
            if nrm > 0:
                v = v / nrm
            new_cents.append((r["cluster"], [float(x) for x in v]))
        # empty clusters keep their previous centroid
        have = {c for c, _ in new_cents}
        new_cents.extend((c, v) for c, v in cents if c not in have)
        cents = sorted(new_cents, key=lambda t: t[0])
    # assignments consistent with the RETURNED centroids, not the
    # pre-final-update ones (round-3 ADVICE.md item) — lazy, no collect
    return _assign(cents), cents, objectives


def semantic_contamination(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every training
    vector, the max cosine against the eval set, plus a contaminated
    flag — the semantic analogue of the n-gram/bloom decontamination in
    pipeline/text.py (catches paraphrased eval leakage that exact-gram
    checks miss).

    Scale shape: eval sets are MB-sized by nature, so the normalized
    eval matrix rides into the Arrow kernel as a closure — ZERO joins,
    ZERO shuffles, one narrow corpus pass emitting one row per training
    vector (FileScan → MapInPandas and nothing else; at 100 TB this is
    embarrassingly parallel and the eval matrix broadcasts once per
    executor).

    Exactness: per-pair sims use the same fixed-order ``'ij,ij->i'``
    einsum reduction as ``_block_pair_scorer`` (shape-independent
    summation order), so ``round(max, 6)`` value-matches DuckDB's
    ``list_cosine_similarity`` — the cross-engine cosine parity proven
    by the ``embedding_near_pairs`` oracle since round 2.  ``round`` is
    monotone, so round-after-max equals max-after-round; both sides
    round after the max."""
    import numpy as np
    from pyspark.sql import types as T

    ev_rows = evalset.select(vec_col).collect()  # O(eval set), by contract small
    em = np.stack([np.array(r[vec_col], dtype=np.float64) for r in ev_rows])
    em = em / np.linalg.norm(em, axis=1, keepdims=True)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("max_sim", T.DoubleType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            sims = np.empty((len(x), len(em)))
            for j in range(len(em)):
                sims[:, j] = np.einsum("ij,ij->i", x, np.broadcast_to(em[j], x.shape))
            mx = np.round(sims.max(axis=1), 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_sim": mx,
                    "contaminated": mx >= threshold,
                }
            )

    return train.select(id_col, vec_col).mapInPandas(score, schema)


def mmr_diversify(
    query: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98, λ = 1/2): greedily pick ``k`` results from the
    ``n_candidates`` most relevant, each step maximizing
    ``0.5·rel(c) − 0.5·max_{s∈selected} sim(c, s)`` — the diversity
    re-rank every retrieval stack runs between ANN and the consumer.

    Distribution of work follows the production shape: relevance
    scoring + top-N candidate cut and the candidate×candidate
    similarity matrix are DISTRIBUTED (the corpus never shuffles —
    both reuse the staged brute-force kernel and its documented
    bounded crossJoin legs); the greedy itself runs on the collected
    (N rels, N·(N−1) sims) bounded artifact — it is inherently
    sequential in k and tiny, the same re-rank-on-one-node shape as a
    production server.

    Exactness: rel and sim are the 6dp-rounded staged cosines every
    judged ANN entry hash-matches; λ = 1/2 makes both products exact
    halvings, and the single subtraction is correctly rounded — so the
    driver-side Python greedy (floats ARE IEEE doubles) is
    bit-identical to the chained-CTE SQL replay. Ties break ascending
    ``vec_id``; an empty selected set contributes max_sim = 0.0."""
    rel = brute_force_topk(query, corpus, k=n_candidates, id_col=id_col, vec_col=vec_col)
    cand = corpus.join(
        rel.select(F.col("neighbor_id").alias(id_col), F.col("sim").alias("rel")),
        id_col,
    )
    a = cand.select(
        F.col(id_col).alias("query_id"), _dcast(F.col(vec_col)).alias("query_vec")
    ).withColumn("q_norm", _norm(F.col("query_vec")))
    b = cand.select(
        F.col(id_col).alias("neighbor_id"),
        _dcast(F.col(vec_col)).alias("neighbor_vec"),
    ).withColumn("c_norm", _norm(F.col("neighbor_vec")))
    ps = (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _staged_sim())
    )
    rels = {r[0]: r[1] for r in cand.select(id_col, "rel").collect()}
    sims = {(r[0], r[1]): r[2] for r in ps.select("neighbor_id", "query_id", "sim").collect()}
    selected: list = []
    rows = []
    for step in range(1, min(k, len(rels)) + 1):
        best = None
        for c in rels:
            if c in [s for s, *_ in selected]:
                continue
            mx = max((sims[(c, s)] for s, *_ in selected), default=0.0)
            score = 0.5 * rels[c] - 0.5 * mx
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, mx, score)
        _, c, mx, score = best
        selected.append((c,))
        rows.append((step, c, rels[c], mx, score))
    return small_rows_df(
        query.sparkSession,
        rows,
        "rank long, vec_id long, rel double, max_sim double, mmr_score double",
    )
