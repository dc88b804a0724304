"""Chain-of-steps tests (QBEChain.swift / QBEStep.swift lifecycle):
fold semantics, formula-string expressions, JSON round trip, the
example (truncated-source) path, and join-of-chains."""

import pytest
from pyspark.sql import functions as F

from warp_spark.plans import Chain, step

SF = "/root/testdata/sf0.001"


def test_chain_filter_calculate_sort_limit(spark):
    ch = (
        Chain()
        .add("source", path=f"{SF}/orders.parquet")
        .add("filter", condition="=[o_totalprice] > 100k")  # formula w/ postfix
        .add("calculate", calculations={"price_k": "=[o_totalprice] / 1k"})
        .add("select_columns", columns=["o_orderkey", "price_k"])
        .add("sort", orders=[{"expression": "price_k", "ascending": False}])
        .add("limit", n=5)
    )
    rows = ch.dataframe(spark).collect()
    assert len(rows) == 5
    vals = [r["price_k"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert all(v > 100 for v in vals)


def test_chain_aggregate_with_formula_groups(spark):
    ch = (
        Chain()
        .add("source", path=f"{SF}/lineitem.parquet")
        .add(
            "aggregate",
            groups={"flag": "l_returnflag"},
            values={"n": {"map": "l_quantity", "reduce": "countAll"}},
        )
    )
    got = {r["flag"]: r["n"] for r in ch.dataframe(spark).collect()}
    expected = {
        r["l_returnflag"]: r["n"]
        for r in spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_chain_json_roundtrip_same_result(spark):
    ch = (
        Chain()
        .add("source", path=f"{SF}/region.parquet")
        .add("filter", condition="r_regionkey >= 1")
        .add("select_columns", columns=["r_name"])
        .add("sort", orders=["r_name"])
    )
    ch2 = Chain.from_json(ch.to_json())
    assert [tuple(r) for r in ch.dataframe(spark).collect()] == [
        tuple(r) for r in ch2.dataframe(spark).collect()
    ]


def test_chain_example_dataset_truncates_source(spark):
    ch = (
        Chain()
        .add("source", path=f"{SF}/lineitem.parquet")
        .add("calculate", calculations={"x": "l_quantity * 2"})
    )
    assert ch.example_dataset(spark, max_input_rows=50).to_df().count() == 50


def test_chain_join_of_chains(spark):
    nation_chain = [step("source", path=f"{SF}/nation.parquet")]
    ch = (
        Chain()
        .add("source", path=f"{SF}/region.parquet")
        .add("join", chain=nation_chain, on="n_regionkey = r_regionkey", how="inner")
        .add(
            "aggregate",
            groups={"r_name": "r_name"},
            values={"n_nations": {"map": "n_nationkey", "reduce": "countAll"}},
        )
        .add("sort", orders=["r_name"])
    )
    rows = ch.dataframe(spark).collect()
    assert sum(r["n_nations"] for r in rows) == 25  # 25 nations total


def test_chain_sequencer_source(spark):
    ch = Chain().add("sequencer", pattern="[ab]{2}")
    got = sorted(r["value"] for r in ch.dataframe(spark).collect())
    assert got == ["aa", "ab", "ba", "bb"]


def test_chain_union_missing_columns(spark):
    other = [
        step("source", path=f"{SF}/nation.parquet"),
        step("select_columns", columns=["n_name"]),
    ]
    ch = (
        Chain()
        .add("source", path=f"{SF}/region.parquet")
        .add("select_columns", columns=["r_name"])
        .add("union", chain=other)
    )
    df = ch.dataframe(spark)
    assert sorted(df.columns) == ["n_name", "r_name"]
    assert df.count() == 30  # 5 regions + 25 nations


def test_chain_errors(spark):
    with pytest.raises(ValueError):
        Chain().full_dataset(spark)
    with pytest.raises(ValueError):
        Chain().add("filter", condition="1=1").full_dataset(spark)
    with pytest.raises(ValueError):
        Chain().add("nonsense").full_dataset(spark)


# -- preview samples (warp_spark.sources.parquet) ---------------------------


def _sample(spark, path):
    from warp_spark.sources.parquet import _SESSIONS

    return _SESSIONS[spark].samples[("parquet", (), path)]


def _local(df) -> bool:
    """Every source of ``df`` is a driver-local relation: no file scan,
    and nothing served from the CacheManager."""
    import re

    qe = df._jdf.queryExecution()
    plan = qe.analyzed().toString()
    return (
        "LocalRelation" in plan
        and not re.search(r"(?<!Local)Relation \[", plan)  # a file source
        and "InMemoryRelation" not in qe.withCachedData().toString()
    )


def _jobs(spark, fn, tag):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _write(spark, path, offset):
    spark.range(200).select(
        (F.col("id") + offset).alias("k"), (F.col("id") * 3).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_chain_self_join_over_same_source_preview_and_full(spark):
    # the right chain keeps every source column, so all of them clash
    # with the left's and are dropped after the join by reference
    src = f"{SF}/orders.parquet"
    right = [
        step("source", path=src),
        step("calculate", calculations={"k2": "o_orderkey", "price2": "=[o_totalprice] * 2"}),
    ]
    ch = (
        Chain()
        .add("source", path=src)
        .add("calculate", calculations={"k1": "o_orderkey"})
        .add("join", chain=right, on="k1 = k2")
    )
    preview = ch.example_dataset(spark, max_input_rows=100).to_df()
    assert _local(preview)
    assert preview._jdf.queryExecution().analyzed().toString().count("LocalRelation") == 2
    full = ch.dataframe(spark)
    for df, n in ((preview, 100), (full, spark.read.parquet(src).count())):
        assert df.columns[-3:] == ["k1", "k2", "price2"]
        rows = df.collect()
        assert len(rows) == n
        assert all(r["k1"] == r["k2"] == r["o_orderkey"] for r in rows)
        assert all(r["price2"] == 2 * r["o_totalprice"] for r in rows)


def test_preview_reads_of_one_source_get_own_expr_ids(spark):
    import re

    from warp_spark.sources import preview_source

    def ids(df):
        return set(re.findall(r"#(\d+)", df._jdf.queryExecution().analyzed().output().toString()))

    a = preview_source(spark, f"{SF}/orders.parquet", 10)
    b = preview_source(spark, f"{SF}/orders.parquet", 10)
    assert _local(a) and _local(b)
    assert not ids(a) & ids(b)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_chain_preview_source_rows_stable_across_edits(spark):
    ch = Chain().add("source", path=f"{SF}/lineitem.parquet")
    cols = ["l_orderkey", "l_linenumber"]
    seen = []
    for edit in (
        step("calculate", calculations={"x": "=[l_quantity] * 2"}),
        step("filter", condition="=[l_quantity] > 0"),
        step("calculate", calculations={"y": "=[x] + 1"}),
    ):
        ch.steps.append(edit)
        df = ch.example_dataset(spark, max_input_rows=60).to_df()
        assert _local(df)
        seen.append([tuple(r) for r in df.select(*cols).collect()])
    assert len(seen[0]) == 60 and seen[0] == seen[1] == seen[2]


def test_chain_larger_preview_or_new_file_replaces_sample(spark, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, 0)
    ch = Chain().add("source", path=p)
    ch.example_dataset(spark, max_input_rows=10).to_df().collect()
    small = _sample(spark, p)
    rows = ch.example_dataset(spark, max_input_rows=5).to_df().collect()
    assert _sample(spark, p) is small  # a smaller preview reuses the sample
    assert [r.k for r in rows] == [small.rows.get(i).get(0) for i in range(5)]
    ch.example_dataset(spark, max_input_rows=50).to_df().collect()
    large = _sample(spark, p)
    assert large is not small and large.asked == 50 and large.rows.size() == 50
    _write(spark, p, 1000)
    df = ch.example_dataset(spark, max_input_rows=50).to_df()
    assert _local(df)
    assert min(r.k for r in df.collect()) >= 1000  # the new file's rows
    assert _sample(spark, p) is not large
    # a preview larger than the file holds every row
    assert len(ch.example_dataset(spark, max_input_rows=500).to_df().collect()) == 200


def test_plain_read_never_gets_preview_sample(spark, tmp_path):
    p = str(tmp_path / "t")
    _write(spark, p, 0)
    ch = Chain().add("source", path=p)
    assert len(ch.example_dataset(spark, max_input_rows=20).to_df().collect()) == 20
    _write(spark, p, 1000)  # the old sample stays on the driver until the next preview
    plain = spark.read.parquet(p).limit(20)
    assert "InMemoryRelation" not in plain._jdf.queryExecution().withCachedData().toString()
    assert sorted(r.k for r in plain.collect()) == list(range(1000, 1020))


def test_concurrent_previews_leave_one_sample(spark, tmp_path, monkeypatch):
    """Threads previewing one source at growing sizes race to replace its
    sample; one sample of the largest size is left, and nothing is
    persisted."""
    import sys
    import threading

    p = str(tmp_path / "t")
    _write(spark, p, 0)
    persisted = []
    DataFrame = type(spark.range(1))  # the concrete (classic) class
    real_persist = DataFrame.persist

    def recording_persist(self, *a, **kw):
        persisted.append(self)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", recording_persist)
    ch = Chain().add("source", path=p)
    errors = []

    def preview(n):
        try:
            assert len(ch.example_dataset(spark, max_input_rows=n).to_df().collect()) == n
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=preview, args=(5 + i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    # one sample, read for the largest size: a smaller read never replaces a larger one
    assert _sample(spark, p).asked == 12 and persisted == []


def test_calculate_and_filter_previews_over_a_sample_launch_no_job(spark):
    ch = Chain().add("source", path=f"{SF}/lineitem.parquet")
    ch.example_dataset(spark, max_input_rows=300).to_df().collect()  # reads the sample
    ch.add("calculate", calculations={"rev": "=[l_extendedprice] * (1 - [l_discount])"})
    rows, jobs = _jobs(spark, lambda: ch.example_dataset(spark, 300).to_df().collect(), "pv_calc")
    assert len(rows) == 300 and jobs == 0
    ch.add("filter", condition="=[l_quantity] > 25")
    rows, jobs = _jobs(spark, lambda: ch.example_dataset(spark, 200).to_df().collect(), "pv_filt")
    assert 0 < len(rows) < 200 and jobs == 0
    assert all(r.l_quantity > 25 for r in rows)


def test_dropped_session_releases_its_samples(spark, monkeypatch):
    """A session nobody holds any more (a stopped one, or a dropped
    ``newSession()``) is not kept alive by its samples."""
    import gc
    import weakref

    from pyspark import RDD

    from warp_spark.sources.parquet import _SESSIONS

    # pyspark binds RDD.toDF to the newest session; put the fixture's back
    monkeypatch.setattr(RDD, "toDF", RDD.toDF)
    other = spark.newSession()
    Chain().add("source", path=f"{SF}/nation.parquet").example_dataset(other, 5).to_df().collect()
    assert other in _SESSIONS
    gone = weakref.ref(other)
    del other
    spark.newSession()  # takes RDD.toDF, pyspark's own last hold on ``other``
    gc.collect()
    assert gone() is None
    assert all(s is spark for s in _SESSIONS.keys())


def _write_text(path, text):
    # every rewrite below changes the size, so it is a new file version
    # even within the file system's mtime granularity
    with open(path, "w") as f:
        f.write(text)


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_source_previews_read_sample_once_per_version(spark, tmp_path, fmt):
    p = str(tmp_path / f"t.{fmt}")

    def rows_text(keys):
        if fmt == "csv":
            return "k,name\n" + "".join(f"{k},n{k}\n" for k in keys)
        return "[" + ",".join(f'{{"k": {k}, "name": "n{k}"}}' for k in keys) + "]"

    _write_text(p, rows_text(range(30)))
    ch = Chain().add("source", path=p, format=fmt)
    first = ch.example_dataset(spark, max_input_rows=10).to_df()
    assert _local(first)
    assert [r.k for r in first.collect()] == list(range(10))
    ch.add("calculate", calculations={"k2": "=[k] * 2"})
    rows, jobs = _jobs(spark, lambda: ch.example_dataset(spark, 8).to_df().collect(), f"pv_{fmt}")
    assert [r.k2 for r in rows] == [2 * k for k in range(8)] and jobs == 0
    _write_text(p, rows_text(range(500, 540)))
    rows = ch.example_dataset(spark, max_input_rows=10).to_df().collect()
    assert [r.k for r in rows] == list(range(500, 510))
    assert sorted(r.k for r in ch.dataframe(spark).collect()) == list(range(500, 540))


# -- prefix memo (warp_spark.plans.chain) ------------------------------------


def _edit_loop_chain():
    """The edit loop's shape: row-wise steps, then two joins."""
    return (
        Chain()
        .add("source", path=f"{SF}/lineitem.parquet")
        .add("calculate", calculations={"rev": "=[l_extendedprice] * (1 - [l_discount])"})
        .add("join", chain=[step("source", path=f"{SF}/orders.parquet")], on="l_orderkey = o_orderkey")
        .add("join", chain=[step("source", path=f"{SF}/customer.parquet")], on="o_custkey = c_custkey")
    )


def _rows(ch, spark, n):
    return sorted(map(tuple, ch.example_dataset(spark, n).to_df().collect()))


def _plain(spark, plain_reads, ch, n):
    with plain_reads():
        return _rows(ch, spark, n)


def test_aggregate_preview_after_two_joins_runs_one_job(spark, memo_cuts):
    ch = _edit_loop_chain()
    # the first preview reads samples of 400 rows if they are smaller;
    # then the join preview has filled the memo
    ch.example_dataset(spark, 400).to_df().collect()
    ch.example_dataset(spark, 400).to_df().collect()
    ch.add("aggregate", groups={"seg": "c_mktsegment"},
           values={"n": {"map": "l_quantity", "reduce": "countAll"},
                   "total": {"map": "rev", "reduce": "sum"}})
    rows, jobs = _jobs(spark, lambda: ch.example_dataset(spark, 300).to_df().collect(), "pv_agg")
    assert memo_cuts[-1] == 300
    assert sum(r.n for r in rows) > 0 and jobs <= 1


def test_join_previews_at_any_smaller_size_come_from_one_memo(spark, plain_reads, memo_cuts):
    ch = _edit_loop_chain()
    ch.example_dataset(spark, 500).to_df().collect()
    for n in (500, 120, 310, 7):
        assert _rows(ch, spark, n) == _plain(spark, plain_reads, ch, n)
    assert memo_cuts[-4:] == [500, 120, 310, 7]


def test_left_join_prefix_takes_the_plain_fold(spark, plain_reads, memo_cuts):
    ch = (
        Chain()
        .add("source", path=f"{SF}/orders.parquet")
        .add("join", chain=[step("source", path=f"{SF}/customer.parquet")],
             on="o_custkey = c_custkey", how="left")
    )
    for n in (200, 50):
        assert _rows(ch, spark, n) == _plain(spark, plain_reads, ch, n)
    assert memo_cuts == []


def test_prefix_over_the_bound_is_not_kept_and_not_run_again(
    spark, monkeypatch, plain_reads, memo_cuts
):
    import warp_spark.plans.chain as chain_module
    from warp_spark.sources.parquet import session_reads

    monkeypatch.setattr(chain_module, "_MEMO_MAX_ROWS", 5)
    reads = session_reads(spark)
    reads.prefixes.clear()  # earlier tests kept this prefix
    ch = _edit_loop_chain()
    ch.example_dataset(spark, 300).to_df().collect()
    assert [p.rows for p in reads.prefixes.values()] == [None]
    fills = []
    keep = reads.keep_prefix
    monkeypatch.setattr(reads, "keep_prefix", lambda *a: fills.append(a) or keep(*a))
    for n in (300, 100):
        assert _rows(ch, spark, n) == _plain(spark, plain_reads, ch, n)
    assert memo_cuts == [] and fills == []


def test_larger_preview_or_rewritten_source_takes_the_plain_fold(
    spark, plain_reads, tmp_path, memo_cuts
):
    p = str(tmp_path / "t")
    _write(spark, p, 0)
    ch = Chain().add("source", path=p).add(
        "join", chain=[step("source", path=p), step("rename", mapping={"k": "k2", "v": "v2"})],
        on="k = k2")
    ch.example_dataset(spark, 40).to_df().collect()
    assert _rows(ch, spark, 30) == _plain(spark, plain_reads, ch, 30) and memo_cuts == [30]
    # n > N: the plain fold reads the larger sample
    assert _rows(ch, spark, 80) == _plain(spark, plain_reads, ch, 80) and memo_cuts == [30]
    assert _sample(spark, p).asked == 80
    assert _rows(ch, spark, 60) == _plain(spark, plain_reads, ch, 60) and memo_cuts == [30, 60]
    # a rewritten file: its new sample, then a new memo
    _write(spark, p, 1000)
    rows = _rows(ch, spark, 60)
    assert rows == _plain(spark, plain_reads, ch, 60) and memo_cuts == [30, 60]
    assert min(r[0] for r in rows) >= 1000
    assert _rows(ch, spark, 50) == _plain(spark, plain_reads, ch, 50) and memo_cuts == [30, 60, 50]
