"""Integer PageRank (warp_spark/pipeline/graph.py) and weighted
bottom-k sampling (warp_spark/sampling.py) — the properties the
catalog oracles don't pin: known-graph scores, mass/monotonicity laws,
and the sampling-proportional-to-weight behavior."""

from pyspark.sql import functions as F

from warp_spark.pipeline.graph import pagerank_int
from warp_spark.sampling import weighted_bottomk_sample


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_star_center_dominates(spark):
    # 4 leaves all pointing at a hub, hub points back at one leaf:
    # the hub must outscore every leaf, and the pointed-at leaf must
    # outscore the other leaves.
    pairs = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)]
    scores = {r["node"]: r["score"] for r in pagerank_int(_edges(spark, pairs), iters=3).collect()}
    assert scores[0] > scores[1] > scores[2]
    assert scores[2] == scores[3] == scores[4]


def test_pagerank_symmetric_cycle_is_uniform_and_conserves_mass(spark):
    # Directed 4-cycle: perfect symmetry means every vertex keeps
    # exactly the initial score at every iteration (base + 85% of one
    # full share), and total mass is conserved (no dangling vertices,
    # outdeg 1 everywhere, no floor loss at these magnitudes).
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = pagerank_int(_edges(spark, pairs), iters=4).collect()
    assert {r["score"] for r in rows} == {1_000_000}
    assert sum(r["score"] for r in rows) == 4_000_000


def test_pagerank_dangling_vertex_keeps_base_only(spark):
    # 0 -> 1: vertex 1 has no outgoing edge (dangling, mass dropped);
    # vertex 0 receives nothing so it settles at base = 150000, and
    # vertex 1 gets base + 85% of 0's score.
    rows = {r["node"]: r["score"] for r in pagerank_int(_edges(spark, [(0, 1)]), iters=3).collect()}
    assert rows[0] == 150_000
    # iter3: 150000 + floor(85 * 150000 / 100) = 277500
    assert rows[1] == 150_000 + (85 * 150_000) // 100


def test_weighted_sample_prefers_heavy_rows_and_is_deterministic(spark):
    # 2000 weight-1 rows vs 2000 weight-6 rows: the winners should
    # skew heavily toward weight-6 (expected ~6:1; assert a loose 3:1)
    # and the draw must be bit-identical across runs.
    df = spark.range(0, 4000).select(
        F.col("id"), F.when(F.col("id") < 2000, F.lit(1)).otherwise(F.lit(6)).alias("wt")
    )
    out = weighted_bottomk_sample(df, "id", F.col("wt"), k=400)
    ids = sorted(r["id"] for r in out.collect())
    heavy = sum(1 for i in ids if i >= 2000)
    assert heavy > 300
    again = sorted(r["id"] for r in weighted_bottomk_sample(df, "id", F.col("wt"), k=400).collect())
    assert again == ids


def test_weighted_sample_clamps_and_is_mergeable(spark):
    df = spark.range(0, 1000).select("id", (F.col("id") % 200).alias("wt"))
    out = weighted_bottomk_sample(df, "id", F.col("wt"), k=50, max_weight=8)
    rows = out.collect()
    assert all(1 <= r["w"] <= 8 for r in rows)
    # mergeability: top-k of per-shard top-k equals the global top-k
    a = weighted_bottomk_sample(df.filter(F.col("id") < 500), "id", F.col("wt"), k=50, max_weight=8)
    b = weighted_bottomk_sample(df.filter(F.col("id") >= 500), "id", F.col("wt"), k=50, max_weight=8)
    merged = (
        a.unionByName(b).orderBy("ticket_key", "id").limit(50).collect()
    )
    assert sorted(r["id"] for r in merged) == sorted(r["id"] for r in rows)


def test_triangle_counts_known_graphs(spark):
    from warp_spark.pipeline.graph import triangle_counts

    # K4: every vertex sits in C(3,2)=3 triangles; reversed/duplicate
    # edges must not change anything
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    out = {r["node"]: r["triangles"] for r in triangle_counts(_edges(spark, k4)).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    # 4-cycle: no triangles at all
    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert triangle_counts(_edges(spark, square)).count() == 0

    # two triangles sharing vertex 0
    bowtie = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 0)]
    out = {r["node"]: r["triangles"] for r in triangle_counts(_edges(spark, bowtie)).collect()}
    assert out == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1}


def test_weighted_sample_null_weight_gets_one_ticket_null_id_excluded(spark):
    df = spark.createDataFrame(
        [(1, None), (2, 5), (None, 99)], "id long, wt long"
    )
    rows = weighted_bottomk_sample(df, "id", F.col("wt"), k=10, max_weight=8).collect()
    by_id = {r["id"]: r["w"] for r in rows}
    assert by_id == {1: 1, 2: 5}  # NULL weight -> 1 ticket; NULL id gone


def test_weighted_sample_grouped_draws_k_per_group(spark):
    from warp_spark.sampling import weighted_bottomk_sample

    df = spark.range(0, 900).select(
        "id", (F.col("id") % 3).cast("string").alias("g"), (F.col("id") % 7 + 1).alias("wt")
    )
    out = weighted_bottomk_sample(df, "id", F.col("wt"), k=20, group_col="g")
    per = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"0": 20, "1": 20, "2": 20}
    # grouped draw restricted to one group == global draw on that group
    only0 = weighted_bottomk_sample(df.filter(F.col("g") == "0"), "id", F.col("wt"), k=20)
    a = sorted(r["id"] for r in out.filter(F.col("g") == "0").collect())
    b = sorted(r["id"] for r in only0.collect())
    assert a == b


def test_degree_stats_histogram(spark):
    from warp_spark.pipeline.graph import degree_stats

    # triangle 1-2-3 plus pendant 4 on node 1; duplicate + reversed +
    # self-loop edges must not inflate degrees
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (1, 4), (4, 4), (1, 2)],
        "src long, dst long",
    )
    got = {r["degree"]: r["n_nodes"] for r in degree_stats(edges).collect()}
    # degrees: node1=3, node2=2, node3=2, node4=1
    assert got == {3: 1, 2: 2, 1: 1}


def test_append_edges_equals_rebuild_and_dedupes_redelivery(spark, tmp_path):
    """append_edges(base, slice) must leave the artifact equal to the
    one-shot canonical build over base ∪ slice (r12 verdict item 5),
    and re-delivered / reversed / duplicate slice edges must be
    dropped — edge append is a set union, so the re-append
    precondition is self-enforcing."""
    from warp_spark.pipeline.graph import append_edges, load_edges, persist_edges

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    slice_ = spark.createDataFrame(
        # one genuinely new edge, one re-delivery (reversed), one
        # in-slice duplicate pair, and a self-loop
        [(4, 5), (3, 2), (5, 4), (6, 6)],
        "src long, dst long",
    )
    p = str(tmp_path / "edges")
    persist_edges(base, p)
    delta = append_edges(spark, p, slice_)
    assert sorted((r["u"], r["v"]) for r in delta.collect()) == [(4, 5)]
    appended = sorted((r["src"], r["dst"]) for r in load_edges(spark, p).collect())
    p2 = str(tmp_path / "edges_oneshot")
    persist_edges(base.union(slice_), p2)
    oneshot = sorted((r["src"], r["dst"]) for r in load_edges(spark, p2).collect())
    assert appended == oneshot
    # idempotence: re-appending the same slice is a no-op
    again = append_edges(spark, p, slice_)
    assert again.isEmpty()
    assert sorted((r["src"], r["dst"]) for r in load_edges(spark, p).collect()) == oneshot


def test_append_edges_of_an_empty_batch_changes_no_edge(spark, tmp_path):
    """An empty micro-batch appends nothing: the delta is empty and the
    artifact loads the same edges."""
    from warp_spark.pipeline.graph import append_edges, load_edges, persist_edges

    p = str(tmp_path / "edges")
    persist_edges(spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"), p)
    before = sorted(load_edges(spark, p).collect())
    empty = spark.createDataFrame([], "src long, dst long")
    assert append_edges(spark, p, empty).isEmpty()
    assert sorted(load_edges(spark, p).collect()) == before == [(1, 2), (2, 3)]


def test_update_wedge_census_equals_full_rebuild(spark, tmp_path):
    """Delta census maintenance must be value-identical to the full
    rebuild over the appended edge set, across every cap interaction
    an append can cause: a center crossing the cap upward (its pairs
    vanish), a center growing WITHIN the cap (its 10^6 DIV deg
    contributions re-divide), and brand-new centers."""
    from warp_spark.pipeline.graph import (
        append_edges,
        load_wedge_census,
        persist_edges,
        persist_wedge_census,
        update_wedge_census,
        wedge_census,
    )

    # base: center 1 at degree 2 (within cap 3), center 10 at degree 3
    # (AT the cap), path 20-21-22 (center 21 deg 2), isolated pair 30-31
    base = spark.createDataFrame(
        [(1, 2), (1, 3), (10, 11), (10, 12), (10, 13), (20, 21), (21, 22), (30, 31)],
        "src long, dst long",
    )
    # delta: grows center 1 to deg 3 (contrib re-divides), pushes
    # center 10 OVER the cap (its pairs must vanish), creates new
    # center 31 (30-31-32), and adds a wholly new component 40-41-42
    delta_edges = spark.createDataFrame(
        [(1, 4), (10, 14), (31, 32), (40, 41), (41, 42)],
        "src long, dst long",
    )
    cap = 3
    ep = str(tmp_path / "edges")
    wp = str(tmp_path / "wedges")
    persist_edges(base, ep)
    persist_wedge_census(base, wp, max_center_degree=cap)
    delta = append_edges(spark, ep, delta_edges)
    assert update_wedge_census(spark, wp, ep, delta, max_center_degree=cap) is True

    key = lambda r: (r["x"], r["y"], r["cn"], r["ra_ppm"])  # noqa: E731
    updated = sorted(map(key, load_wedge_census(spark, wp).collect()))
    full = sorted(
        map(key, wedge_census(base.union(delta_edges), max_center_degree=cap).collect())
    )
    assert updated == full and len(updated) > 0
    # the vanished hub really vanished: no pair through center 10
    assert (11, 12) not in {(x, y) for x, y, _, _ in updated}
    # center 1 grew within the cap: pair (2,3) now scores DIV 3
    row_23 = [r for r in updated if (r[0], r[1]) == (2, 3)][0]
    assert row_23[3] == 1_000_000 // 3

    # honest fallback: a missing census artifact refuses
    assert (
        update_wedge_census(
            spark, str(tmp_path / "nope"), ep, delta, max_center_degree=cap
        )
        is False
    )


def test_compact_edges_preserves_content_and_collapses_files(spark, tmp_path):
    """Edge compaction (the graph leg of the LSM finisher discipline)
    must collapse the append-grown file layout back to the build-time
    8-file clustering with the edge SET bit-identical."""
    import glob
    import os

    from warp_spark.pipeline.graph import (
        append_edges,
        compact_edges,
        load_edges,
        persist_edges,
    )

    base = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "src long, dst long"
    )
    p = str(tmp_path / "edges")
    persist_edges(base, p)
    for lo in (100, 200, 300):
        append_edges(
            spark,
            p,
            spark.createDataFrame(
                [(lo + i, lo + i + 1) for i in range(0, 10, 2)],
                "src long, dst long",
            ),
        )
    before = sorted((r["src"], r["dst"]) for r in load_edges(spark, p).collect())
    n_files_before = len(glob.glob(os.path.join(p, "*.parquet")))
    assert n_files_before > 8  # appends really fragmented the layout
    compact_edges(spark, p)
    after = sorted((r["src"], r["dst"]) for r in load_edges(spark, p).collect())
    n_files_after = len(glob.glob(os.path.join(p, "*.parquet")))
    assert after == before and len(after) > 0
    assert n_files_after <= 8


def test_delete_edges_equals_rebuild_on_remaining(spark, tmp_path):
    """delete_edges (the graph DELETE verb, r13 verdict item 2) must
    leave the artifact equal to the one-shot canonical build over the
    remaining edge set, report exactly the rows it removed, and treat
    absent / re-delivered / reversed / self-loop slice edges as
    no-ops — set semantics make edge deletion self-enforcing."""
    from warp_spark.pipeline.graph import delete_edges, load_edges, persist_edges

    full = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    slice_ = spark.createDataFrame(
        # two real removals (one reversed), one absent edge, an
        # in-slice duplicate, and a self-loop
        [(4, 3), (4, 5), (7, 8), (5, 4), (6, 6)],
        "src long, dst long",
    )
    p = str(tmp_path / "edges")
    persist_edges(full, p)
    delta = delete_edges(spark, p, slice_)
    assert sorted((r["u"], r["v"]) for r in delta.collect()) == [(3, 4), (4, 5)]
    remaining = sorted((r["src"], r["dst"]) for r in load_edges(spark, p).collect())
    p2 = str(tmp_path / "edges_oneshot")
    persist_edges(
        spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long"), p2
    )
    assert remaining == sorted(
        (r["src"], r["dst"]) for r in load_edges(spark, p2).collect()
    )
    # idempotence: re-delivering the takedown removes nothing
    again = delete_edges(spark, p, slice_)
    assert again.isEmpty()
    assert remaining == sorted(
        (r["src"], r["dst"]) for r in load_edges(spark, p).collect()
    )


def test_update_wedge_census_delete_fold_with_cap_reentry(spark, tmp_path):
    """Folding a DELETE delta (removed=True) must be value-identical
    to the full census rebuild over the remaining edges, across every
    cap interaction a delete can cause — above all the downward
    crossing the append fold never sees: a center whose degree drops
    back to ≤ cap RE-ENTERS the census and its pairs re-expand from
    the post-delete neighborhood (r13 verdict item 2)."""
    from warp_spark.pipeline.graph import (
        delete_edges,
        load_wedge_census,
        persist_edges,
        persist_wedge_census,
        update_wedge_census,
        wedge_census,
    )

    # center 10 at degree 4 (OVER cap 3 — absent from the base census),
    # center 1 at degree 3 (AT the cap), center 20 at degree 2, and a
    # pair 30-31 that will vanish entirely
    full = spark.createDataFrame(
        [
            (10, 11), (10, 12), (10, 13), (10, 14),
            (1, 2), (1, 3), (1, 4),
            (20, 21), (20, 22),
            (30, 31), (31, 32),
        ],
        "src long, dst long",
    )
    # delete: drops center 10 to degree 3 (downward cap crossing — it
    # must RE-ENTER with its remaining C(3,2) pairs), shrinks center 1
    # to degree 2 (contribs re-divide at DIV 2), and removes 31-32
    # (killing the (30,32) pair through center 31)
    removals = spark.createDataFrame(
        [(10, 14), (1, 4), (31, 32)], "src long, dst long"
    )
    cap = 3
    ep = str(tmp_path / "edges")
    wp = str(tmp_path / "wedges")
    persist_edges(full, ep)
    persist_wedge_census(full, wp, max_center_degree=cap)
    base_pairs = {(r["x"], r["y"]) for r in load_wedge_census(spark, wp).collect()}
    assert (11, 12) not in base_pairs  # hub 10 capped out of the base census
    delta = delete_edges(spark, ep, removals)
    assert (
        update_wedge_census(
            spark, wp, ep, delta, max_center_degree=cap, removed=True
        )
        is True
    )

    key = lambda r: (r["x"], r["y"], r["cn"], r["ra_ppm"])  # noqa: E731
    updated = sorted(map(key, load_wedge_census(spark, wp).collect()))
    remaining_edges = spark.createDataFrame(
        [
            (10, 11), (10, 12), (10, 13),
            (1, 2), (1, 3),
            (20, 21), (20, 22),
            (30, 31),
        ],
        "src long, dst long",
    )
    full_rebuild = sorted(
        map(key, wedge_census(remaining_edges, max_center_degree=cap).collect())
    )
    assert updated == full_rebuild and len(updated) > 0
    pairs = {(x, y): (cn, ra) for x, y, cn, ra in updated}
    # the downward crossing re-entered: center 10's pairs are back at
    # its NEW divisor (deg 3)
    for pr in ((11, 12), (11, 13), (12, 13)):
        assert pairs[pr] == (1, 1_000_000 // 3), pr
    # center 1 shrank within the cap: (2,3) re-divides at DIV 2
    assert pairs[(2, 3)] == (1, 1_000_000 // 2)
    # the killed wedge is gone
    assert (30, 32) not in pairs


def test_assume_canonical_flags_equal_default_paths(spark):
    # r14 optimization: every artifact-fed algorithm may skip the
    # internal canonicalizing distinct (a content no-op but a real
    # |E| exchange) when the input is already canonical.  Pin the
    # equivalence on a canonical edge set with triangles, a hub, and
    # a disconnected pair.
    from warp_spark.pipeline.graph import (
        degree_stats,
        jaccard_links,
        resource_allocation_links,
        triangle_counts,
        wedge_census,
    )

    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3), (4, 5), (1, 6), (2, 6)]
    edges = _edges(spark, pairs)  # canonical already: src < dst, distinct

    def key(r):
        return tuple(r[c] for c in r.__fields__)

    for fn in (
        lambda e, **kw: wedge_census(e, max_center_degree=3, **kw),
        lambda e, **kw: jaccard_links(e, k=100, **kw),
        lambda e, **kw: resource_allocation_links(e, k=100, **kw),
        triangle_counts,
        degree_stats,
    ):
        base = sorted(map(key, fn(edges).collect()))
        fast = sorted(map(key, fn(edges, assume_canonical=True).collect()))
        assert fast == base


def test_pagerank_assume_distinct_equals_default(spark):
    pairs = [(1, 0), (2, 0), (3, 0), (0, 1), (2, 3)]
    base = {
        r["node"]: r["score"]
        for r in pagerank_int(_edges(spark, pairs), iters=3).collect()
    }
    fast = {
        r["node"]: r["score"]
        for r in pagerank_int(
            _edges(spark, pairs), iters=3, assume_distinct=True
        ).collect()
    }
    assert fast == base


def test_topk_nonadjacent_fast_path_equals_full_anti_join(spark):
    # r15 optimization: the link scorers' top-k skips the census-sized
    # anti-join by TakeOrdering a small prefix, checking adjacency with
    # one broadcast semi-join, and re-emitting the k survivors as a
    # one-slice driver frame.  Pin fast path == the exact full-anti-join
    # fallback (n_max=0 forces it) IN ORDER, on a score table whose top
    # ranks are dominated by ADJACENT pairs so that (a) the filter
    # matters and (b) a tiny n0 must escalate before k survivors exist.
    from warp_spark.pipeline.graph import _topk_nonadjacent

    # edge set: a clique 0-1-2-3 plus spokes; scored pairs: every (x, y)
    # with x < y over nodes 0..7 — adjacent pairs get the HIGHEST scores
    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 4), (1, 5)]
    und = spark.createDataFrame(clique, "u long, v long")
    all_pairs = [(x, y) for x in range(8) for y in range(x + 1, 8)]
    adj = set(clique)
    scored_rows = [
        (x, y, 1000 - i if (x, y) in adj else 100 - i)
        for i, (x, y) in enumerate(all_pairs)
    ]
    scored = spark.createDataFrame(scored_rows, "x long, y long, s long")

    def key(r):
        return tuple(r[c] for c in r.__fields__)

    for k in (3, 5, 100):  # 100 > number of candidates: prefix exhausts
        fast = [
            key(r) for r in _topk_nonadjacent(scored, und, k, "s", n0=4).collect()
        ]
        slow = [
            key(r)
            for r in _topk_nonadjacent(
                scored, und, k, "s", n0=4, n_max=0
            ).collect()
        ]
        assert fast == slow, f"k={k}: {fast} != {slow}"
        assert fast == sorted(fast, key=lambda t: (-t[2], t[0], t[1]))
        assert all((x, y) not in adj for x, y, _ in fast)


def test_topk_nonadjacent_escalation_returns_full_rows(spark):
    """Escalation rounds collect only (x, y, score); the survivors' other
    columns come back through one keyed fetch, equal to the exact
    fallback row for row and in order."""
    from warp_spark.pipeline.graph import _topk_nonadjacent

    # the 20 best pairs are all adjacent, so k=5 cannot finish in the
    # first round (n = 4k = 20) and must escalate
    adj = [(x, x + 1) for x in range(20)]
    und = spark.createDataFrame(adj, "u long, v long")
    rows = [(x, x + 1, 1000 - x, f"a{x}") for x in range(20)]
    rows += [(x, x + 2, 500 - x, f"n{x}") for x in range(30)]
    scored = spark.createDataFrame(rows, "x long, y long, s long, tag string")
    fast = [tuple(r) for r in _topk_nonadjacent(scored, und, 5, "s", n0=1).collect()]
    slow = [tuple(r) for r in _topk_nonadjacent(scored, und, 5, "s", n_max=0).collect()]
    assert fast == slow == [(x, x + 2, 500 - x, f"n{x}") for x in range(5)]


# --- persisted edge and census trees ---------------------------------------

def _graph(spark):
    return _edges(spark, [(i % 37, (i * 7) % 53) for i in range(400)] + [(3, 3), (5, 2)])


def test_persist_edges_writes_one_hash_bucket_per_file(spark, tmp_path):
    """One exchange clusters and de-duplicates: file ``i`` holds exactly
    the canonical distinct pairs with pmod(hash(u), 8) = i."""
    import glob
    import os

    from warp_spark.pipeline.graph import persist_edges

    e = _graph(spark)
    p = str(tmp_path / "edges")
    persist_edges(e, p)
    su, sv = F.col("src"), F.col("dst")
    want = {
        (r.u, r.v)
        for r in e.select(F.least(su, sv).alias("u"), F.greatest(su, sv).alias("v"))
        .where("u != v")
        .collect()
    }
    got = []
    for f in sorted(glob.glob(os.path.join(p, "part-*.parquet"))):
        part = int(os.path.basename(f).split("-")[1])
        rows = spark.read.parquet(f).select(
            "u", "v", F.pmod(F.hash("u"), F.lit(8)).alias("b")
        ).collect()
        assert {r.b for r in rows} <= {part}
        got += [(r.u, r.v) for r in rows]
    assert sorted(got) == sorted(want)


def test_published_graph_trees_read_back_with_their_schema(spark, tmp_path, jobs_of, memo_schema):
    import os

    from warp_spark.artifacts import publish_artifact
    from warp_spark.pipeline.graph import (
        load_edges,
        load_wedge_census,
        persist_edges,
        persist_wedge_census,
    )

    ep, wp = str(tmp_path / "edges"), str(tmp_path / "wedges")
    publish_artifact(ep, "_EDGES_COMPLETE", "s1", lambda tmp: persist_edges(_graph(spark), tmp))
    publish_artifact(
        wp,
        "_WEDGES_COMPLETE",
        "s1",
        lambda tmp: persist_wedge_census(load_edges(spark, ep), tmp, assume_canonical=True),
    )
    for p, load in ((ep, load_edges), (wp, load_wedge_census)):
        inferred = spark.read.parquet(p).schema
        assert memo_schema(p) == inferred
        got, jobs = jobs_of(lambda: load(spark, p))
        assert jobs == 0
        assert got.count() == spark.read.parquet(p).count() > 0

    # the mutation verbs rewrite a flat root whole: its marker travels
    # byte-identical, no old part file stays beside the new ones, and
    # the tree is read back with the schema the verb wrote
    from warp_spark.pipeline.graph import compact_edges, delete_edges, update_wedge_census

    def mutated(p, marker, load, verb):
        parts = lambda: {n for n in os.listdir(p) if n.endswith(".parquet")}
        with open(os.path.join(p, marker), "rb") as f:
            before_marker = f.read()
        before = parts()
        out = verb()
        with open(os.path.join(p, marker), "rb") as f:
            assert f.read() == before_marker
        assert parts() and not parts() & before
        got, jobs = jobs_of(lambda: load(spark, p))
        assert jobs == 0
        assert sorted(got.collect()) == sorted(spark.read.parquet(p).collect())
        return out

    mutated(ep, "_EDGES_COMPLETE", load_edges, lambda: compact_edges(spark, ep))
    gone = _edges(spark, [(0, 0), (1, 7), (2, 14), (3, 21)])
    delta = mutated(ep, "_EDGES_COMPLETE", load_edges, lambda: delete_edges(spark, ep, gone))
    assert delta.count() > 0
    mutated(
        wp,
        "_WEDGES_COMPLETE",
        load_wedge_census,
        lambda: update_wedge_census(spark, wp, ep, delta, removed=True),
    )
    fresh = persist_wedge_census(load_edges(spark, ep), str(tmp_path / "fresh"), assume_canonical=True)
    assert fresh is not None
    assert sorted(load_wedge_census(spark, wp).collect()) == sorted(
        load_wedge_census(spark, str(tmp_path / "fresh")).collect()
    )
    assert sorted(n for n in os.listdir(tmp_path) if not n.endswith(".lock")) == [
        "edges", "fresh", "wedges"
    ]
