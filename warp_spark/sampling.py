"""Stratified (per-group) sampling — the training-data form of the
reference's flat ``random`` step (Data.swift:240-243): draw up to n rows
per group so minority strata (languages, sources, labels) survive the
cut instead of being swamped by the head of the distribution.

Scale shape: one shuffle on the group key, then a per-group
``row_number() over (order by rand)`` — no global sort, no driver
collect. A pathologically hot group sorts its partition's rows by the
random key; for extreme skew pre-thin with ``threshold`` (a Bernoulli
pre-pass that keeps the exact sampler's output uniform while bounding
the sort input).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warp_spark.prefix import running

_RANK = "__strat_rank"
_KEY = "__strat_key"


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n: int,
    seed: Optional[int] = None,
    threshold: Optional[float] = None,
) -> DataFrame:
    """Uniform sample of up to ``n`` rows from every ``group_col`` group.

    Groups smaller than n are kept whole. With ``threshold`` in (0, 1],
    rows first pass an independent Bernoulli(threshold) filter — for
    groups where n ≪ group size this bounds the window-sort input by
    ~threshold·|group| while remaining a uniform draw (symmetry: every
    row has the same inclusion probability); choose threshold so that
    threshold·|group| ≫ n or small groups may under-fill."""
    rnd = F.rand(seed) if seed is not None else F.rand()
    src = df
    if threshold is not None:
        keep = F.rand(seed + 1) if seed is not None else F.rand()
        src = src.where(keep < threshold)
    w = Window.partitionBy(group_col).orderBy(F.col(_KEY))
    return (
        src.withColumn(_KEY, rnd)
        .withColumn(_RANK, F.row_number().over(w))
        .where(F.col(_RANK) <= n)
        .drop(_RANK, _KEY)
    )


def _hash32(col: Column) -> Column:
    """Uniform 32-bit hash from the first 8 md5 hex digits — the
    deterministic cross-engine uniform used throughout (assign_split,
    bloom positions): DuckDB replays it as
    ``('0x' || substring(md5(x::VARCHAR), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Deterministic uniform sample: the ``k`` rows whose 32-bit hash of
    ``id_col`` is smallest (per ``group_col`` group when given). The
    bottom-k of a uniform hash is a uniform draw without replacement
    that needs NO RNG — reproducible across engines, runs, and
    partitionings — and it is MERGEABLE: bottom-k of a union is the
    bottom-k of the per-shard bottom-k's, so at 100 TB each executor
    keeps only k candidates and just k·P rows reach the final selection
    (the global form compiles to TakeOrderedAndProject — map-side
    top-k, no full sort). Ties (hash collisions) break on the id."""
    hv = _hash32(F.col(id_col))
    if group_col is None:
        return (
            df.withColumn("__hv", hv)
            .orderBy("__hv", id_col)
            .limit(k)
            .drop("__hv")
        )
    w = Window.partitionBy(group_col).orderBy("__hv", id_col)
    return (
        df.withColumn("__hv", hv)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__hv", "__rn")
    )


def weighted_bottomk_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
    k: int,
    max_weight: int = 64,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Deterministic weighted sample without replacement: row *i* holds
    ``weight_i`` lottery tickets, ticket *t* of row *i* hashes to
    ``_hash32(f"{id_i}:{t}")``, and the k rows owning the k smallest
    tickets win.  A row's best ticket is the min over its own tickets,
    so heavier rows win proportionally more often (the integer-ticket
    form of size-proportional sampling — the exact, RNG-free cousin of
    Efraimidis-Spirakis ``u^(1/w)`` keys, which would need pow()/log()
    and therefore could not hash-match cross-engine).

    The per-row key is an ``array_min`` over a generated ticket range —
    a zero-shuffle HOF, no explode, no replication — and the global
    top-k compiles to TakeOrderedAndProject (map-side top-k, mergeable:
    each of P partitions surfaces k candidates, k·P rows reach the
    final heap).  With ``group_col`` the draw is per group (one hash
    shuffle on the group key, then a per-group window rank — the
    stratified form: k weighted winners from every language/source).
    Weights clamp to [1, max_weight] so per-row work is bounded: at
    100 TB the scan stays O(rows·max_weight) hash evals with no data
    movement until the k-row result.

    Returns the winning rows with ``w`` (clamped weight) and
    ``ticket_key`` (the winning ticket hash) appended; ties break on
    the id.  DuckDB replay:
    ``list_min(list_transform(range(0, w), t -> ('0x' ||
    substring(md5(id || ':' || t), 1, 8))::BIGINT))``.

    NULL handling: a NULL weight means "unknown" and gets the
    conservative 1 ticket (Spark's least/greatest SKIP nulls, so
    without the coalesce a NULL weight would silently win max_weight
    tickets); rows with a NULL id are excluded — they carry no stable
    identity to hash, their NULL key would sort first on Spark but
    last in the DuckDB replay, and all of them would share one ticket
    sequence anyway.
    """
    df = df.where(F.col(id_col).isNotNull())
    w = F.greatest(
        F.lit(1), F.least(F.lit(max_weight), F.coalesce(weight, F.lit(1)))
    ).cast("long")
    ticket = lambda t: _hash32(  # noqa: E731
        F.concat(F.col(id_col).cast("string"), F.lit(":"), t.cast("string"))
    )
    key = F.array_min(F.transform(F.sequence(F.lit(0), w - 1), ticket))
    keyed = df.withColumn("w", w).withColumn("ticket_key", key)
    if group_col is None:
        return keyed.orderBy("ticket_key", id_col).limit(k)
    gw = Window.partitionBy(group_col).orderBy("ticket_key", id_col)
    return (
        keyed.withColumn("__rn", F.row_number().over(gw))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    group_col: Optional[str] = None,
) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch: hash every value to
    a uniform 32-bit integer, keep the k smallest distinct hashes, and
    estimate D̂ = (k-1)·2³² / h₍ₖ₎ from the k-th smallest (Bar-Yossef
    et al. 2002 — the bottom-k dual of HyperLogLog, rel. std. error
    ≈ 1/√(k-2)). Groups with fewer than k distinct hashes report the
    exact distinct-hash count. Hash-based and RNG-free, so unlike
    HLL++ the ESTIMATE ITSELF is deterministic and value-matchable
    cross-engine (the estimator arithmetic is one fold-free multiply
    and divide, mirrored verbatim in the DuckDB oracle).

    Returns one row per group: ``[group_col,] n_hashes, est_distinct``.
    Scale shape: map-side partial distinct on (group, hash), one
    shuffle; the window and the aggregate reuse the same partitioning.
    Without a group the k-th smallest hash is the largest of a
    distributed top-k (``orderBy().limit(k)``, per-partition heaps), read
    beside the count as a scalar subquery — no window over every hash in
    one task. The sketch is mergeable (union the hash sets, re-take the
    k smallest), which is what makes it a streaming/partitioned-rollup
    distinct counter at 100 TB."""
    groups = [group_col] if group_col else []
    h = df.select(*groups, _hash32(F.col(value_col)).alias("__hv")).distinct()
    if group_col:
        w = Window.partitionBy(group_col).orderBy("__hv")
        per = h.withColumn("__rn", F.row_number().over(w)).groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n_hashes"),
            F.max(F.when(F.col("__rn") == k, F.col("__hv"))).alias("__hvk"),
        )
    else:
        hvk = h.orderBy("__hv").limit(k).agg(F.max("__hv")).scalar()
        per = h.agg(F.count(F.lit(1)).alias("n_hashes")).select(
            "n_hashes", hvk.alias("__hvk")
        )
    est = F.when(
        F.col("n_hashes") >= k,
        F.lit(float((k - 1) * 4294967296.0)) / F.col("__hvk").cast("double"),
    ).otherwise(F.col("n_hashes").cast("double"))
    return per.select(*groups, "n_hashes", est.alias("est_distinct"))


def rebalance_weights(
    df: DataFrame,
    group_col: str,
    target_shares: Optional[dict[str, float]] = None,
) -> DataFrame:
    """Per-group downsampling plan to hit a target mixture (uniform by
    default) WITHOUT upsampling: the binding group is the one with the
    least data relative to its target share; every group's rate is
    scaled so the binding group keeps everything.

    rate_g = (t_g · scale) / n_g with scale = min_g(n_g / t_g) — for a
    uniform target this reduces to rate_g = min_count / n_g.

    Returns one row per group: ``group_col, n_docs, share, target_share,
    sampling_rate, expected_rows``. Two tiny aggregates (group counts +
    an unpartitioned min over the per-group rows, bounded by the number
    of groups) — the plan is driver-free and the result is the input to
    ``rebalance_sample``."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if target_shares is None:
        t = 1.0 / F.count(F.lit(1)).over(Window.partitionBy())
    else:
        # an observed group missing from an explicit plan would get a
        # NULL target share → NULL expected_rows → rebalance_sample
        # silently drops the whole group (row_number <= NULL filters
        # everything). Fail loudly instead — the check is one job over
        # the group-count aggregate, bounded by group cardinality.
        observed = {r[0] for r in counts.select(group_col).collect()}
        uncovered = sorted(observed - set(target_shares))
        if uncovered:
            raise ValueError(
                f"target_shares missing observed {group_col} groups "
                f"{uncovered}; add them (a 0.0 share drops a group "
                "explicitly)"
            )
        m = F.create_map(
            *[lit for g, s in sorted(target_shares.items()) for lit in (F.lit(g), F.lit(s))]
        )
        t = F.element_at(m, F.col(group_col))
    # materialize the target share first: the scale min is a window over
    # a window-derived column, which must live in its own projection
    staged = counts.withColumn("__t", t)
    total = F.sum("n_docs").over(Window.partitionBy())
    # zero-share groups (explicit drops) are excluded from the binding
    # min — and under ANSI mode n/0 would raise, not go NULL
    scale = F.min(
        F.when(F.col("__t") > 0, F.col("n_docs") / F.col("__t"))
    ).over(Window.partitionBy())
    rows = F.col("__t") * scale
    return staged.select(
        F.col(group_col),
        F.col("n_docs"),
        F.round(F.col("n_docs") / total, 6).alias("share"),
        F.round(F.col("__t"), 6).alias("target_share"),
        F.round(rows / F.col("n_docs"), 6).alias("sampling_rate"),
        F.floor(rows).cast("long").alias("expected_rows"),
    )


def rebalance_sample(
    df: DataFrame,
    group_col: str,
    target_shares: Optional[dict[str, float]] = None,
    seed: Optional[int] = None,
) -> DataFrame:
    """Apply a ``rebalance_weights`` plan: per-group exact draw of
    ``expected_rows`` via the stratified window sampler, with the
    per-group cap joined in (broadcast — the plan has one row per
    group). Uniform within each group; the output mixture matches the
    target up to floor rounding."""
    plan = rebalance_weights(df, group_col, target_shares)
    rnd = F.rand(seed) if seed is not None else F.rand()
    w = Window.partitionBy(group_col).orderBy(F.col(_KEY))
    return (
        df.join(F.broadcast(plan.select(group_col, "expected_rows")), group_col)
        .withColumn(_KEY, rnd)
        .withColumn(_RANK, F.row_number().over(w))
        .where(F.col(_RANK) <= F.col("expected_rows"))
        .drop(_RANK, _KEY, "expected_rows")
    )


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Optional[dict[str, float]] = None,
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic hash-based train/val/test assignment: bucket =
    first 8 md5 hex digits of the id, mod ``buckets``; cumulative weight
    thresholds carve the bucket space. The split a row lands in depends
    ONLY on its id — stable under corpus growth, re-runs, engine, and
    partitioning, which is the property a training pipeline needs (no
    eval example ever drifts into train when data is appended). Pure
    map-side Column expressions."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long") % buckets
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = F.col("bucket") < int(round(acc * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def temperature_weights(
    df: DataFrame,
    group_col: str,
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-LM sampling
    scheme, e.g. mC4/XLM-R): w_g ∝ share_g^(1/T). T = 1 reproduces the
    natural mixture; T → ∞ approaches uniform; T > 1 upweights tail
    groups. Returns one row per group: ``group_col, n_docs, share,
    temp_weight, expected_rows`` (expected_rows = floor(N·w_g), the
    per-group budget when resampling the corpus to its own size).

    Exactness: for the default T = 2 the power is √ — IEEE-correctly-
    rounded and therefore bit-identical on every engine — and the
    normalizer folds the per-group terms in SORTED group order
    (collect_list → sort_array → aggregate, the char-entropy
    discipline), so the raw-double outputs reproduce exactly
    cross-engine with no rounding. Other temperatures go through
    pow(), whose last-ulp behavior is libm-specific — fine for
    production, but pin T = 2 when differential-testing.

    Scale shape: one group-count shuffle; the normalizer folds the
    GROUP table (bounded by group cardinality) and only that 1-row
    aggregate crosses to the driver as inlined literals — the scalar-
    subquery discipline, no BroadcastNestedLoop."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if temperature == 2.0:
        r = F.sqrt(F.col("n_docs").cast("double"))
    else:
        r = F.pow(F.col("n_docs").cast("double"), 1.0 / temperature)
    staged = counts.withColumn("__r", r)
    den_row = staged.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(F.col(group_col), F.col("__r")))),
            F.lit(0.0),
            lambda acc, x: acc + x["__r"],
        ).alias("__den"),
        F.sum("n_docs").cast("double").alias("__N"),
    ).first()
    den, n_total = float(den_row["__den"]), float(den_row["__N"])
    w = F.col("__r") / F.lit(den)
    return staged.select(
        F.col(group_col),
        F.col("n_docs"),
        (F.col("n_docs").cast("double") / F.lit(n_total)).alias("share"),
        w.alias("temp_weight"),
        F.floor(F.lit(n_total) * w).cast("long").alias("expected_rows"),
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "seed0",
    n_shards: int = 8,
) -> DataFrame:
    """Seeded deterministic global shuffle into training shards — the
    "shuffle your corpus once, reproducibly" step every epoch-based
    training pipeline needs. Each row gets ``shuffle_key =
    md5(seed:id)``, a shard ``(0..n_shards-1)`` from the key's first
    two hex nibbles, and a dense ``pos_in_shard`` rank ordered by the
    key — re-running with the same seed reproduces the exact order;
    changing the seed reshuffles.

    Distributed shape: sharding is one hash Exchange and the per-shard
    rank is a partition-parallel window (PARTITION BY shard) — a
    GLOBAL position would serialize into one WindowExec task at 100 TB,
    and no dataloader needs it: training readers consume shards
    independently, so within-shard order IS the shuffle contract. (A
    true global rank, when wanted, is the distributed two-phase prefix
    rank in dataset.py.) md5 (not xxhash64) keys keep the op
    differentially testable cross-engine; ``n_shards`` must divide 256
    so the two-nibble shard stays uniform."""
    if 256 % n_shards != 0:
        raise ValueError(f"n_shards must divide 256, got {n_shards}")
    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    staged = df.select(F.col(id_col), key.alias("shuffle_key"))
    hexv = (
        (
            F.call_function(
                "instr",
                F.lit("0123456789abcdef"),
                F.substring("shuffle_key", 1, 1),
            )
            - 1
        )
        * 16
        + F.call_function(
            "instr",
            F.lit("0123456789abcdef"),
            F.substring("shuffle_key", 2, 1),
        )
        - 1
    )
    sharded = staged.withColumn(
        "shard", (hexv % n_shards).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return sharded.select(
        F.col(id_col),
        F.col("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
        F.col("shuffle_key"),
    )


def deterministic_shuffle_global(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "seed0",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Seeded deterministic shuffle with a GLOBAL position — for the
    consumers that do need one total order (curriculum schedules,
    resumable single-stream readers), computed the scale-safe way: the
    row's rank in (md5 key, id) order from the distributed prefix scan
    of ``prefix.running``, never a global single-task window. The range
    partitioner samples its bounds from the md5 keys, so partitions stay
    balanced under any seed."""
    key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    staged = df.select(F.col(id_col), key.alias("shuffle_key"))
    return running(
        staged,
        [F.col("shuffle_key"), F.col(id_col)],
        {"position": ("count", F.lit(1))},
        num_partitions=num_partitions,
    ).select(F.col(id_col), F.col("position").cast("long"), F.col("shuffle_key"))


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """KMV set-overlap estimation between two sides' distinct values —
    the sketch answer to "how much do these two corpora overlap?"
    without materializing the intersection.

    bottom  = k smallest distinct hashes of A ∪ B
    Ĵ       = |{h ∈ bottom : h ∈ A ∧ h ∈ B}| / |bottom|
              (the bottom-k of the union is a uniform sample of A ∪ B,
               so membership-in-both within it estimates Jaccard)
    D̂_union = (k−1)·2³² / h₍ₖ₎      (exact count below k hashes)
    D̂_inter = Ĵ · D̂_union

    Everything is md5-hash state — RNG-free, so the ESTIMATES value-
    match a SQL replay (the kmv_distinct discipline applied to the
    union sketch).  Scale shape: per-side distinct-hash aggregations,
    one k-row TakeOrdered, two broadcast membership joins of the k-row
    bottom set — no pairwise work, and per-side bottom-k sketches
    merge (union, re-take k smallest), so pre-sketched shards compose.

    Returns ONE row: ``n_bottom, kth_hash, c_both, est_union,
    est_jaccard, est_intersection``.
    """
    ha = df_a.select(_hash32(F.col(value_col)).alias("hv")).where(
        F.col(value_col).isNotNull()
    ).distinct()
    hb = df_b.select(_hash32(F.col(value_col)).alias("hv")).where(
        F.col(value_col).isNotNull()
    ).distinct()
    u = ha.union(hb).distinct()
    bottom = u.orderBy("hv").limit(k)
    flagged = (
        bottom.join(ha.withColumn("__ina", F.lit(1)), "hv", "left")
        .join(hb.withColumn("__inb", F.lit(1)), "hv", "left")
        .select(
            "hv",
            (F.coalesce("__ina", F.lit(0)) * F.coalesce("__inb", F.lit(0))).alias(
                "__both"
            ),
        )
    )
    stats = flagged.agg(
        F.count(F.lit(1)).alias("n_bottom"),
        F.max("hv").alias("kth_hash"),
        F.sum("__both").alias("c_both"),
    )
    est_union = F.when(
        F.col("n_bottom") >= k,
        F.lit(float((k - 1) * 4294967296.0)) / F.col("kth_hash").cast("double"),
    ).otherwise(F.col("n_bottom").cast("double"))
    est_j = F.col("c_both").cast("double") / F.col("n_bottom").cast("double")
    return stats.select(
        F.col("n_bottom").cast("long").alias("n_bottom"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        F.col("c_both").cast("long").alias("c_both"),
        est_union.alias("est_union"),
        est_j.alias("est_jaccard"),
        (est_j * est_union).alias("est_intersection"),
    )


def token_budget_fill(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    order_cols: Optional[list[Column]] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Deterministic per-group budget fill: walk each group's rows in a
    fixed priority order and keep rows while the group's running weight
    total stays within ``budget`` — the curation step that turns a
    mixture PLAN (rebalance_weights / temperature_weights give rates)
    into an actual token-capped selection, greedy highest-priority
    first.  Reference analogue: the flat ``random`` cap
    (Data.swift:240-243) bounds ROWS uniformly; training mixtures are
    capped in TOKENS per source, which is this op.

    Distributed exactly like Dataset's running aggregates: a per-group
    window would colocate an entire source on one task (sources are few
    and huge at 100 TB), so the running sum is the grouped prefix scan
    of ``prefix.running`` — range-partition on (group, priority) so one
    group SPANS many partitions in order, window within (group,
    partition), then add each group's exclusive prefix of per-partition
    totals (a groups×partitions-row side table, broadcast back).  Every
    stage is parallel; exact for integer weights.

    Returns the selected rows plus ``cum_weight`` (inclusive running
    total ≤ budget).
    """
    if order_cols is None:
        # the default order must be TOTAL or equal-weight rows at the
        # budget boundary are kept/dropped arbitrarily: tiebreak on a
        # content hash of the full row (identical-content rows are
        # interchangeable, so any residual tie is unobservable).
        # xxhash64 rejects MAP/VARIANT columns (AnalysisException) —
        # even NESTED inside an array or struct — hash only the
        # hashable ones; if none are, fall back to the weight-only
        # order with a warning rather than failing the whole fill.
        from pyspark.sql import types as T

        def _hashable(dt) -> bool:
            if isinstance(dt, T.MapType) or type(dt).__name__ == "VariantType":
                return False
            if isinstance(dt, T.ArrayType):
                return _hashable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_hashable(f.dataType) for f in dt.fields)
            return True

        hashable = [f.name for f in df.schema.fields if _hashable(f.dataType)]
        if hashable:
            order_cols = [
                F.col(weight_col).desc(),
                F.xxhash64(*[F.col(c) for c in hashable]).asc(),
            ]
        else:
            import warnings

            warnings.warn(
                "token_budget_fill: no hashable columns for the total-order "
                "tiebreak; equal-weight rows at the budget boundary are "
                "kept/dropped arbitrarily",
                RuntimeWarning,
                stacklevel=2,
            )
            order_cols = [F.col(weight_col).desc()]
    return running(
        df,
        order_cols,
        {"cum_weight": ("sum", F.col(weight_col))},
        group_cols=[group_col],
        num_partitions=num_partitions,
    ).filter(F.col("cum_weight") <= budget)


def epoch_allocation(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer epoch
    ``budget`` across sources proportional to integer weights: every
    source gets floor(w_s·B / W), and the B − Σfloor leftover units go
    to the largest remainders (ties broken by source name ASC — a total
    order, so the schedule is deterministic and engine-reproducible).
    This is the step between a mixture PLAN (rebalance_weights /
    temperature_weights give target RATES) and a sampler: it turns the
    rates into exact per-source integer quotas that sum to the budget —
    what an epoch scheduler actually consumes.

    Exactness at any scale: products ride decimal(38,0) and the final
    division is (p − p mod W)/W — exactly divisible, so the decimal
    engine never rounds (w·B can overflow BIGINT at 100 TB token
    counts; 38 digits cannot realistically).  Everything after the one
    groupBy runs on a |sources|-row table (bounded artifact), so the
    unpartitioned windows are side-table-sized, not data-sized.
    """
    g = df.groupBy(group_col).agg(F.sum(weight_col).cast("long").alias("w"))
    wall = Window.partitionBy()
    staged = g.select(
        group_col,
        "w",
        F.sum(F.col("w").cast("decimal(38,0)")).over(wall).alias("__tot"),
    )
    p = F.col("w").cast("decimal(38,0)") * F.lit(budget)
    staged = staged.select(
        group_col, "w", "__tot",
        F.pmod(p, F.col("__tot")).alias("__rem"),
        ((p - F.pmod(p, F.col("__tot"))) / F.col("__tot"))
        .cast("long")
        .alias("base_alloc"),
    )
    # Single ordered pass for BOTH the remainder rank and the leftover
    # count: Σ__rem = W·(B − Σfloor) exactly (Σ w·B = B·W splits into
    # floor·W + rem terms), so __left = Σ__rem / __tot — computable in
    # the SAME sorted window pass as row_number (full-partition frame
    # shares the sort; no second wall-window stage over the artifact).
    w_ord = Window.orderBy(F.col("__rem").desc(), F.col(group_col).asc())
    ranked = staged.select(
        group_col, "w", "base_alloc", "__tot",
        F.row_number().over(w_ord).alias("__rk"),
        F.sum("__rem")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__sumrem"),
    )
    left = (F.col("__sumrem") / F.col("__tot")).cast("long")
    return ranked.select(
        F.col(group_col),
        F.col("w").alias("total_weight"),
        F.col("base_alloc"),
        F.when(F.col("__rk") <= left, 1)
        .otherwise(0)
        .cast("long")
        .alias("extra"),
        (
            F.col("base_alloc")
            + F.when(F.col("__rk") <= left, 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )
