"""Operator-algebra tests modeled on the reference's differential suite
(WarpCoreTests.swift:902-995 `testDatasetImplementations`: 1000-row
synthetic raster, limit/offset/distinct/self-union/joins/selectColumns of
missing columns/transpose roundtrip — see FIXTURES.md §2)."""

import pytest
from pyspark.sql import functions as F

from warp_spark import Aggregator, Dataset, Order


@pytest.fixture(scope="module")
def xyz1000(spark):
    # X=i, Y=i+1, Z=i+2 for i in 0..<1000 (WarpCoreTests.swift:902-920)
    return Dataset.from_df(
        spark.range(1000).select(
            F.col("id").alias("X"), (F.col("id") + 1).alias("Y"), (F.col("id") + 2).alias("Z")
        )
    )


@pytest.fixture(scope="module")
def xbc1000(spark):
    return Dataset.from_df(
        spark.range(1000).select(
            F.col("id").alias("X"), (F.col("id") + 1).alias("B"), (F.col("id") + 2).alias("C")
        )
    )


def test_limit(xyz1000):
    assert xyz1000.limit(5).to_df().count() == 5


def test_offset(xyz1000):
    assert xyz1000.offset(990).to_df().count() == 10


def test_distinct_all_unique(xyz1000):
    assert xyz1000.distinct().to_df().count() == 1000


def test_self_union(xyz1000):
    assert xyz1000.union(xyz1000).to_df().count() == 2000


def test_union_by_name_missing_columns(xyz1000, xbc1000):
    out = xyz1000.union(xbc1000).to_df()
    # 5 distinct column names, 2000 rows, missing cells NULL
    assert sorted(out.columns) == ["B", "C", "X", "Y", "Z"]
    assert out.count() == 2000
    assert out.filter(F.col("B").isNull()).count() == 1000


def test_select_columns_ignores_missing(xyz1000):
    out = xyz1000.select_columns(["X", "nope", "Z"]).to_df()
    assert out.columns == ["X", "Z"]


def test_select_columns_case_insensitive(xyz1000):
    out = xyz1000.select_columns(["x", "z"]).to_df()
    assert out.columns == ["X", "Z"]


def test_empty_selection_empty_dataset(xyz1000):
    out = xyz1000.select_columns(["nope"]).to_df()
    assert out.count() == 0


def test_filter(xyz1000):
    assert xyz1000.filter(F.col("X") < 10).to_df().count() == 10


def test_calculate_sees_pre_update_row(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1, 2)], "a long, b long"))
    # both expressions read the ORIGINAL a (Data.swift:221-230)
    out = ds.calculate({"a": F.col("a") + 10, "c": F.col("a") * 100}).to_df().collect()[0]
    assert out["a"] == 11 and out["c"] == 100


def test_join_one_to_one(xyz1000, xbc1000):
    out = xyz1000.join(xbc1000, on=F.col("Y") == F.col("B")).to_df()
    # clashing right column X dropped (Raster.swift:383-389)
    assert sorted(out.columns) == ["B", "C", "X", "Y", "Z"]
    assert out.count() == 1000


def test_join_left_unmatched_nulls(spark):
    left = Dataset.from_df(spark.createDataFrame([(1,), (2,)], "k long"))
    right = Dataset.from_df(spark.createDataFrame([(1, "x")], "rk long, v string"))
    out = left.join(right, on=F.col("k") == F.col("rk"), how="left").to_df()
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "x", 2: None}


def test_join_rejects_unsupported_type(xyz1000, xbc1000):
    with pytest.raises(ValueError):
        xyz1000.join(xbc1000, on=F.col("Y") == F.col("B"), how="full")


def test_sort_empty_smallest(spark):
    # empty (NULL) sorts below all values (Value.swift:591-636)
    ds = Dataset.from_df(spark.createDataFrame([(3.0,), (None,), (1.0,)], "v double"))
    vals = [r["v"] for r in ds.sort([Order("v")]).to_df().collect()]
    assert vals == [None, 1.0, 3.0]


def test_sort_numeric_collation_on_strings(spark):
    ds = Dataset.from_df(spark.createDataFrame([("10",), ("9",), ("100",)], "v string"))
    vals = [r["v"] for r in ds.sort([Order("v", numeric=True)]).to_df().collect()]
    assert vals == ["9", "10", "100"]
    vals = [r["v"] for r in ds.sort([Order("v", numeric=False)]).to_df().collect()]
    assert vals == ["10", "100", "9"]


def test_aggregate_sum_10k(spark):
    # agg10k fixture: 10000 rows, c=1 → sum(c) == 10000 (WarpCoreTests.swift:1089-1110)
    ds = Dataset.from_df(spark.range(10000).select(F.lit(1).alias("c")))
    out = ds.aggregate({}, {"total": Aggregator(F.col("c"), "sum")}).to_df().collect()
    assert out[0]["total"] == 10000


def test_aggregate_count_numeric_only(spark):
    # count counts numeric-convertible values only; countAll everything
    # (Function.swift:2069-2094; WarpCoreTests.swift:207-230)
    ds = Dataset.from_df(
        spark.createDataFrame([("1",), ("2",), ("x",), (None,)], "v string")
    )
    out = ds.aggregate(
        {},
        {
            "n": Aggregator(F.col("v"), "count"),
            "n_all": Aggregator(F.col("v"), "countAll"),
            "n_distinct": Aggregator(F.col("v"), "countDistinct"),
        },
    ).to_df().collect()[0]
    assert out["n"] == 2
    assert out["n_all"] == 4
    assert out["n_distinct"] == 3  # NULL skipped


def test_aggregate_minimum_count(spark):
    # privacy floor: < n valid values → NULL (Aggregation.swift:103-134)
    ds = Dataset.from_df(spark.createDataFrame([(1.0,), (2.0,)], "v double"))
    out = ds.aggregate(
        {},
        {
            "s_ok": Aggregator(F.col("v"), "sum", minimum_count=2),
            "s_blocked": Aggregator(F.col("v"), "sum", minimum_count=3),
        },
    ).to_df().collect()[0]
    assert out["s_ok"] == 3.0
    assert out["s_blocked"] is None


def test_median_variants(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1.0,), (2.0,), (3.0,), (10.0,)], "v double"))
    out = ds.aggregate(
        {},
        {
            "m": Aggregator(F.col("v"), "median"),
            "ml": Aggregator(F.col("v"), "medianLow"),
            "mh": Aggregator(F.col("v"), "medianHigh"),
        },
    ).to_df().collect()[0]
    assert out["m"] == 2.5
    assert out["ml"] == 2.0
    assert out["mh"] == 3.0


def test_pivot(spark):
    ds = Dataset.from_df(
        spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], "g string, h string, v double"
        )
    )
    out = ds.pivot("h", ["g"], {"v": Aggregator(F.col("v"), "sum")}, ["x", "y"]).to_df()
    rows = {r["g"]: r for r in out.collect()}
    assert rows["a"]["x_v"] == 1.0 and rows["a"]["y_v"] == 2.0
    assert rows["b"]["x_v"] == 3.0


def test_flatten(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1, "a")], "x long, y string"))
    out = ds.flatten().to_df().collect()
    cells = {(r["column"], r["value"]) for r in out}
    assert cells == {("x", "1"), ("y", "a")}


def test_rank_running(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"))
    out = (
        ds.rank(
            {"rnk": Aggregator(F.col("k"), "countAll"), "run": Aggregator(F.col("v"), "sum")},
            by=[Order("k")],
        )
        .to_df()
        .collect()
    )
    by_k = {r["k"]: r for r in out}
    assert by_k[2]["rnk"] == 2 and by_k[2]["run"] == 30.0
    assert by_k[3]["rnk"] == 3 and by_k[3]["run"] == 60.0


def test_rank_prefix_matches_window(spark):
    """The distributed prefix-sum running aggregate must agree with the
    single-task global window on every decomposable reducer — including
    NULL runs and duplicate sort keys."""
    from pyspark.sql import Window

    rows = [
        (i, float(v) if v is not None else None)
        for i, v in enumerate([None, 5, 3, None, 8, 8, 1, None, 2, 9, 4, 4, None, 7] * 50)
    ]
    ds = Dataset.from_df(spark.createDataFrame(rows, "k long, v double"))
    ranks = {
        "rnk": Aggregator(F.col("k"), "countAll"),
        "rsum": Aggregator(F.col("v"), "sum"),
        "ravg": Aggregator(F.col("v"), "average"),
        "rmin": Aggregator(F.col("v"), "min"),
        "rmax": Aggregator(F.col("v"), "max"),
        "rcnt": Aggregator(F.col("v"), "count"),
        # countDistinct distributes via the first-occurrence-marker
        # pre-pass; k is unique here, so both paths see one total order
        "rcd": Aggregator(F.col("v"), "countDistinct"),
    }
    a = ds.rank(ranks, [Order("k")], num_partitions=7).to_df()
    # reference: Spark's own single-task global window; first-occurrence
    # markers stand in for count(DISTINCT), which Spark rejects in a window
    run = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first = F.col("v").isNotNull() & (
        F.row_number().over(Window.partitionBy("v").orderBy("k")) == 1
    )
    b = ds.to_df().select(
        "k",
        F.row_number().over(Window.orderBy("k")).alias("rnk"),
        F.sum("v").over(run).alias("rsum"),
        F.avg("v").over(run).alias("ravg"),
        F.min("v").over(run).alias("rmin"),
        F.max("v").over(run).alias("rmax"),
        F.count("v").over(run).alias("rcnt"),
        F.sum(first.cast("long")).over(run).alias("rcd"),
    )
    am = {r["k"]: r for r in a.collect()}
    bm = {r["k"]: r for r in b.collect()}
    assert len(am) == len(bm) == len(rows)
    for k, ra in am.items():
        rb = bm[k]
        for c in ranks:
            va, vb = ra[c], rb[c]
            if va is None or vb is None:
                assert va is None and vb is None, (k, c, va, vb)
            else:
                assert abs(va - vb) < 1e-6 * max(1.0, abs(vb)), (k, c, va, vb)


def test_rank_global_window_rejects_large_input(spark):
    """The un-partitioned single-task window (concat/list) is a hard
    error above max_window_rows (matching transpose's guard) — a silent
    scale-killer must not be reachable by default on real data."""
    import pytest

    rows = [(i, float(i)) for i in range(700)]
    ds = Dataset.from_df(spark.createDataFrame(rows, "k long, v double"))
    ranks = {"run": Aggregator(F.col("v"), "concat")}
    with pytest.raises(ValueError, match="max_window_rows"):
        ds.rank(ranks, [Order("k")], max_window_rows=500)
    # raising the cap explicitly (genuinely small data) still works
    out = ds.rank(ranks, [Order("k")], max_window_rows=1000).to_df()
    assert out.count() == 700


def test_transpose_roundtrip(spark):
    ds = Dataset.from_df(
        spark.createDataFrame([("r1", "1", "2"), ("r2", "3", "4")], "k string, a string, b string")
    )
    tt = ds.transpose().transpose().to_df()
    orig = {tuple(r) for r in ds.to_df().collect()}
    assert {tuple(r) for r in tt.collect()} == orig


def test_transpose_cap(spark):
    ds = Dataset.from_df(spark.range(10).select(F.col("id").cast("string").alias("a")))
    with pytest.raises(ValueError):
        ds.transpose(max_rows=5)


def test_explode_vertical(spark):
    ds = Dataset.from_df(spark.createDataFrame([("a,b,c",)], "v string"))
    out = ds.explode_vertical("v", separator=",").to_df().collect()
    assert [r["v"] for r in out] == ["a", "b", "c"]


def test_explode_horizontal(spark):
    ds = Dataset.from_df(spark.createDataFrame([("a-b-c",)], "v string"))
    out = ds.explode_horizontal("v", "-", 2).to_df().collect()[0]
    assert out["v_1"] == "a" and out["v_2"] == "b"


def test_dummies(spark):
    ds = Dataset.from_df(spark.createDataFrame([("x",), ("y",)], "c string"))
    out = ds.dummies("c").to_df()
    rows = {r["c"]: r for r in out.collect()}
    assert rows["x"]["c_x"] is True and rows["x"]["c_y"] is False


def test_search(spark):
    ds = Dataset.from_df(spark.createDataFrame([("Hello", 1), ("world", 2)], "a string, b long"))
    assert ds.search("hell").to_df().count() == 1


def test_filter_set(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1,), (2,), (3,)], "v long"))
    assert ds.filter_set("v", [1, 3]).to_df().count() == 2


def test_random_sample(spark):
    ds = Dataset.from_df(spark.range(100).select(F.col("id").alias("v")))
    out = ds.random(10, seed=42).to_df().collect()
    assert len(out) == 10
    assert len({r["v"] for r in out}) == 10  # without replacement


def test_unique(spark):
    ds = Dataset.from_df(spark.createDataFrame([(1,), (1,), (2,)], "v long"))
    out = ds.unique(F.col("v") * 10).to_df().collect()
    assert sorted(r["value"] for r in out) == [10, 20]


def test_join_ineffective_passthrough(spark):
    # every right column clashes -> join adds nothing; the reference skips
    # it entirely: left rows neither duplicated (multi-match) nor filtered
    # (inner, no match) — Raster.swift:383-389, Transformer.swift:793-796
    left = Dataset.from_df(spark.createDataFrame([(1,), (2,)], "k long"))
    right = Dataset.from_df(
        spark.createDataFrame([(1,), (1,), (99,)], "k long")  # dup match + no-match
    )
    out = left.join(right, on=F.col("k") == F.col("k"), how="inner").to_df()
    assert sorted(r["k"] for r in out.collect()) == [1, 2]


def test_sort_date_numeric_collation(spark):
    """Numeric collation on a date/timestamp column orders chronologically
    (dates never coerce to number, Value.swift:164-174, but order
    natively, Value.swift:591-636) — and must not raise under ANSI cast
    rules."""
    from datetime import date

    ds = Dataset.from_df(
        spark.createDataFrame(
            [(date(2024, 3, 1),), (date(2023, 1, 5),), (None,), (date(2024, 1, 2),)],
            "d date",
        )
    )
    got = [r["d"] for r in ds.sort([Order("d")]).collect()]
    assert got == [None, date(2023, 1, 5), date(2024, 1, 2), date(2024, 3, 1)]
    got_desc = [r["d"] for r in ds.sort([Order("d", ascending=False)]).collect()]
    assert got_desc == [date(2024, 3, 1), date(2024, 1, 2), date(2023, 1, 5), None]


def test_collect_incremental_batches(spark):
    """Incremental delivery: batches arrive bounded and concatenate to
    exactly the full result (reference Data.swift:200-209)."""
    from warp_spark import Dataset

    ds = Dataset.from_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
    full = ds.collect()
    got = []
    n_batches = 0
    for batch in ds.collect_incremental(batch_rows=500):
        assert 0 < len(batch) <= 500
        got.extend(batch)
        n_batches += 1
    assert n_batches >= 2
    assert sorted(map(tuple, got)) == sorted(map(tuple, full))


class TestEmptyInput:
    """Empty-raster edge cases (the reference's differential suite runs
    every operator on an empty raster, WarpCoreTests.swift:902-995)."""

    @pytest.fixture()
    def empty(self, xyz1000):
        return xyz1000.filter(F.lit(False))

    def test_aggregate_empty_group(self, empty):
        # global aggregate over nothing: one row, sum=0 (not NULL — the
        # reference's SumReducer returns 0 for an empty set), counts 0
        out = empty.aggregate(
            {},
            {
                "s": Aggregator(F.col("X"), "sum"),
                "n": Aggregator(F.col("X"), "count"),
                "na": Aggregator(F.col("X"), "countAll"),
                "mn": Aggregator(F.col("X"), "min"),
            },
        ).to_df().collect()
        assert len(out) == 1
        assert out[0]["s"] == 0.0 and out[0]["n"] == 0 and out[0]["na"] == 0
        assert out[0]["mn"] is None

    def test_aggregate_empty_with_keys(self, empty):
        # grouped aggregate over nothing: no groups, zero rows
        out = empty.aggregate(
            {"k": F.col("X")}, {"s": Aggregator(F.col("Y"), "sum")}
        ).to_df()
        assert out.count() == 0

    def test_join_empty_right(self, xyz1000, xbc1000):
        er = xbc1000.select_columns(["B", "C"]).filter(F.lit(False))
        out = xyz1000.join(er, on=F.col("X") == F.col("B"), how="left").to_df()
        assert out.count() == 1000
        assert out.filter(F.col("C").isNull()).count() == 1000
        assert xyz1000.join(er, on=F.col("X") == F.col("B"), how="inner").to_df().count() == 0

    def test_sort_limit_distinct_empty(self, empty):
        out = empty.sort([Order("X")]).distinct().limit(5).to_df()
        assert out.count() == 0
        assert out.columns == ["X", "Y", "Z"]

    def test_union_empty(self, xyz1000, empty):
        assert xyz1000.union(empty).to_df().count() == 1000

    def test_pivot_empty(self, empty):
        out = empty.pivot(
            horizontal="X", vertical=["Y"], values={"Z": Aggregator(F.col("Z"), "sum")}
        ).to_df()
        assert out.count() == 0


def test_transpose_roundtrip(spark):
    # 11-column transpose round-trip (WarpCoreTests.swift: 11× transpose
    # roundtrip on the synthetic raster): transpose twice == identity on
    # the string-rendered raster
    src = Dataset.from_df(
        spark.createDataFrame(
            [tuple(str(r * 10 + c) for c in range(11)) for r in range(4)],
            ", ".join(f"c{i} string" for i in range(11)),
        )
    )
    once = src.transpose()
    twice = once.transpose()
    def cells(ds):
        df = ds.to_df()
        return [tuple(r) for r in df.orderBy(df.columns[0]).collect()]
    assert len(cells(once)) == 10                     # 11 cols → 10 value rows
    assert [t[1:] for t in cells(twice)] == [t[1:] for t in cells(src)]


def test_rank_count_distinct_partitioned_window(spark):
    """Partitioned running countDistinct goes through the window path
    (partitions parallelize it natively) — Spark has no DISTINCT window
    functions, so this exercises the marker rewrite under partition_by."""
    rows = [("a", 1), ("a", 1), ("a", 2), ("b", 5), ("b", None), ("b", 5)]
    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    ds = Dataset.from_df(spark.createDataFrame(data, "g string, i long, v long"))
    out = ds.rank(
        {"cd": Aggregator(F.col("v"), "countDistinct")},
        by=[Order("i")],
        partition_by=["g"],
    ).to_df()
    got = {r["i"]: r["cd"] for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1, 5: 1}


def test_aggregate_splits_distinct_from_buffered_reducers(spark):
    """countDistinct + a buffer-state reducer (median/pack/approxMedian)
    must not share one hash aggregate: Spark's distinct rewrite keys the
    first partial aggregation by (groups, distinct-value), building one
    collection/sketch buffer PER DISTINCT VALUE (measured 26 s vs sub-
    second split at sf0.1).  Pin that the split engages (a Join appears)
    and — on a NULL-group input — that values match the reducers run
    separately."""
    from warp_spark.aggregators import Aggregator
    from warp_spark.dataset import Dataset

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 2, 30.0),
         (None, 5, 40.0), (None, 6, 50.0)],
        "g string, k long, v double",
    )
    out = Dataset(df).aggregate(
        {"g": F.col("g")},
        {
            "cd": Aggregator(F.col("k"), "countDistinct"),
            "med": Aggregator(F.col("v"), "median"),
            "pk": Aggregator(F.col("k"), "pack"),
        },
    ).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # the split engaged
    got = {r["g"]: (r["cd"], r["med"], r["pk"]) for r in out.collect()}
    assert got == {
        "a": (2, 20.0, "1,2,2"),
        None: (2, 45.0, "5,6"),  # NULL group survives the null-safe join
    }
    assert list(out.columns) == ["g", "cd", "med", "pk"]


class TestParquetSchemaMemo:
    """``Dataset.from_parquet`` infers a schema once per file version and
    SQL conf (warp_spark.sources.parquet); every change to either reads
    the new schema."""

    @staticmethod
    def _jobs(spark, fn, tag):
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(tag))

    def test_rereading_unchanged_path_launches_no_job(self, spark, tmp_path):
        p = str(tmp_path / "t")
        spark.range(10).write.parquet(p)
        first, cold = self._jobs(spark, lambda: Dataset.from_parquet(spark, p), "memo_cold")
        again, warm = self._jobs(spark, lambda: Dataset.from_parquet(spark, p), "memo_warm")
        assert cold >= 1  # the counter sees the inference job
        assert warm == 0
        assert again.df.schema == first.df.schema
        assert sorted(r.id for r in again.collect()) == list(range(10))

    def test_overwritten_file_reads_new_schema_and_rows(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        p = str(tmp_path / "one.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), p)
        assert [r.a for r in Dataset.from_parquet(spark, p).collect()] == [1, 2]
        pq.write_table(pa.table({"b": ["x"], "c": [3.5]}), p)
        ds = Dataset.from_parquet(spark, p)
        assert ds.df.columns == ["b", "c"]
        assert [tuple(r) for r in ds.collect()] == [("x", 3.5)]

    def test_overwritten_spark_directory_reads_new_schema_and_rows(self, spark, tmp_path):
        p = str(tmp_path / "dir")
        spark.range(4).write.parquet(p)
        assert Dataset.from_parquet(spark, p).df.columns == ["id"]
        spark.range(3).select((F.col("id") * 10).alias("v")).write.mode("overwrite").parquet(p)
        ds = Dataset.from_parquet(spark, p)
        assert ds.df.columns == ["v"]
        assert sorted(r.v for r in ds.collect()) == [0, 10, 20]

    def test_events_reread_launches_no_schema_job(self, spark, tmp_path):
        """``catalog._events`` reads through the same per-version memo
        (with its nanosAsLong conf in the memo key)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from warp_spark.catalog import _events

        ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000], pa.timestamp("ns"))
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), str(tmp_path / "events.parquet"))
        first, _ = self._jobs(spark, lambda: _events(spark, str(tmp_path)), "events_cold")
        again, warm = self._jobs(spark, lambda: _events(spark, str(tmp_path)), "events_warm")
        assert warm == 0
        assert dict(again.dtypes)["ts"] == "timestamp"
        assert sorted(again.collect()) == sorted(first.collect())

    def test_conf_change_infers_again(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import types as T

        # a plain parquet BINARY column (no Spark schema in the footer),
        # which the conf decides how to read
        p = str(tmp_path / "bin.parquet")
        pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), p)
        key = "spark.sql.parquet.binaryAsString"
        before = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            assert isinstance(Dataset.from_parquet(spark, p).df.schema["b"].dataType, T.BinaryType)
            spark.conf.set(key, "true")
            ds, jobs = self._jobs(spark, lambda: Dataset.from_parquet(spark, p), "memo_conf")
            assert jobs >= 1
            assert isinstance(ds.df.schema["b"].dataType, T.StringType)
            assert ds.collect()[0].b == "hi"
        finally:
            spark.conf.set(key, before)
