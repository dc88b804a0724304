"""Structured-Streaming extension tests: the same rollup/sessionize
builders must produce identical results on a batch read and a streaming
read of the same files (stream-batch equivalence), plus the custom
stateful tier (applyInPandasWithState)."""

import pytest
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator
from warp_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    sessionize,
    windowed_rollup,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # Spark's file streaming source requires a *directory* of files
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(EVENTS, d / "part-000.parquet")
    return str(d)


def with_ts(df):
    """events.ts was historically parquet TIMESTAMP(NANOS) → read as a
    nanosecond long; newer testdata writes native timestamp[us]. Convert
    only when the column actually is a long (same guard as catalog._events)."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if dtype == "timestamp_ntz":
        # watermarks require TIMESTAMP (LTZ); session tz is fixed in conftest
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def batch_events(spark):
    return with_ts(spark.read.parquet(EVENTS))


def stream_events(spark, events_dir):
    return with_ts(read_event_stream(spark, events_dir))


def normalize(rows):
    return sorted(tuple(r) for r in rows)


def test_stream_batch_equivalence_rollup(spark, events_dir):
    batch = batch_events(spark)
    aggs = {
        "n_events": Aggregator(F.col("event_id"), "countAll"),
        "total_value": Aggregator(F.col("value"), "sum"),
    }
    expected = windowed_rollup(
        batch, "ts", "1 hour", groups=["event_type"], aggs=aggs
    ).collect()

    stream = stream_events(spark, events_dir)
    assert stream.isStreaming
    rolled = windowed_rollup(
        stream, "ts", "1 hour", groups=["event_type"], aggs=aggs, watermark="1 day"
    )
    run_stream_to_memory(rolled, "rollup_t", output_mode="update")
    got = spark.sql(
        "SELECT window_start, window_end, event_type, n_events, total_value FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY window_start, event_type"
        "  ORDER BY n_events DESC) AS rn FROM rollup_t) WHERE rn = 1"
    ).collect()
    assert normalize(got) == normalize(expected)


def test_stream_batch_equivalence_sessionize(spark, events_dir):
    batch = batch_events(spark)
    expected = sessionize(batch, "ts", "30 minutes", keys=["user_id"]).collect()

    stream = stream_events(spark, events_dir)
    sessions = sessionize(
        stream, "ts", "30 minutes", keys=["user_id"], watermark="1 day"
    )
    # session windows require append/complete mode + watermark on streams
    run_stream_to_memory(sessions, "sess_t", output_mode="complete")
    got = spark.sql("SELECT * FROM sess_t").collect()
    assert normalize(got) == normalize(expected)


def test_sessionize_exact_boundary_gap_merges(spark):
    """Pin Spark's session_window rule AT the exact gap (r10 ADVICE):
    an event exactly 30:00 after the previous MERGES into the same
    session — session_window treats the [ts, ts+gap] reach as closed
    at the boundary — which is exactly the oracle convention
    ``ts - lag(ts) > INTERVAL 30 MINUTE`` (strictly-greater opens a
    new session).  One epsilon past the gap splits.  This is the
    alignment proof for every session-windowed entry
    (events_sessionize, its streaming twin, events_session_length_hist)."""
    from warp_spark.streaming import sessionize

    exact = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:30:00")],
        "user_id long, ts string",
    ).selectExpr("user_id", "cast(ts as timestamp) ts")
    got = sessionize(exact, "ts", "30 minutes", keys=["user_id"]).collect()
    assert len(got) == 1 and got[0]["n_events"] == 2

    past = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:30:00.000001")],
        "user_id long, ts string",
    ).selectExpr("user_id", "cast(ts as timestamp) ts")
    got = sessionize(past, "ts", "30 minutes", keys=["user_id"]).collect()
    assert len(got) == 2 and all(r["n_events"] == 1 for r in got)


def test_stateful_running_totals(spark, events_dir):
    from warp_spark.streaming.windows import running_totals_stateful

    stream = stream_events(spark, events_dir)
    out = running_totals_stateful(stream, "user_id", "value", "ts")
    run_stream_to_memory(out, "state_t", output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["total"])
        for r in spark.sql(
            "SELECT user_id, n_events, total FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY user_id"
            "  ORDER BY n_events DESC) AS rn FROM state_t) WHERE rn = 1"
        ).collect()
    }
    batch = (
        batch_events(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
        .collect()
    )
    expected = {r["user_id"]: (r["n"], r["s"]) for r in batch}
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0]
        assert got[k][1] == pytest.approx(expected[k][1])


def test_streaming_dedup_bounded_state(spark, events_dir):
    """Streaming exact dedup keeps one row per key and matches the
    batch dedup of the same files; state is watermark-bounded."""
    from warp_spark.streaming import streaming_dedup

    batch = batch_events(spark).withColumn("k", F.col("user_id") % 10)
    expected_keys = {r["k"] for r in streaming_dedup(batch, ["k"]).collect()}

    stream = stream_events(spark, events_dir).withColumn("k", F.col("user_id") % 10)
    deduped = streaming_dedup(stream, ["k"], ts_col="ts", watermark="1 hour")
    assert deduped.isStreaming
    run_stream_to_memory(deduped, "dedup_sink", output_mode="append")
    rows = spark.table("dedup_sink").collect()
    got_keys = {r["k"] for r in rows}
    assert got_keys == expected_keys
    # exactly one row per key survives
    assert len(rows) == len(got_keys)


def test_stream_batch_equivalence_sliding(spark, events_dir):
    """Sliding windows (1h every 30min — every event in two windows)
    agree between the batch and streaming execution of one builder."""
    aggs = {"n_events": Aggregator(F.col("event_id"), "countAll")}
    expected = normalize(
        windowed_rollup(
            batch_events(spark), "ts", "1 hour", slide="30 minutes",
            groups=["event_type"], aggs=aggs,
        ).collect()
    )
    rolled = windowed_rollup(
        stream_events(spark, events_dir), "ts", "1 hour", slide="30 minutes",
        groups=["event_type"], aggs=aggs, watermark="1 hour",
    )
    run_stream_to_memory(rolled, "slide_t", output_mode="update")
    got = normalize(spark.table("slide_t").collect())
    assert got == expected


def test_stream_batch_equivalence_interval_join(spark, events_dir):
    """stream_interval_join: purchases×clicks within 10 minutes by user —
    streaming result must equal the batch interval join."""
    from warp_spark.streaming.windows import (
        read_event_stream,
        run_stream_to_memory,
        stream_interval_join,
    )

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("value").alias("purchase_value")
        )
        c = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("value").alias("click_value")
        )
        return p, c

    bp, bc = split(batch_events(spark))
    batch = stream_interval_join(
        bp, bc, by=["user_id"], lower="INTERVAL 0 SECONDS", upper="INTERVAL 10 MINUTES"
    ).collect()

    sp, sc = split(with_ts(read_event_stream(spark, events_dir)))
    stream = stream_interval_join(
        sp, sc, by=["user_id"], lower="INTERVAL 0 SECONDS", upper="INTERVAL 10 MINUTES"
    )
    run_stream_to_memory(stream, "ivj", output_mode="append")
    got = spark.table("ivj").collect()

    key = lambda r: (r["user_id"], r["l_ts"], r["r_ts"], r["l_purchase_value"], r["r_click_value"])
    assert sorted(map(key, got)) == sorted(map(key, batch))
    assert len(batch) > 0


def test_interval_join_left_outer_keeps_unmatched(spark):
    """Batch semantics of the outer variants: left rows without a
    partner survive with NULL right columns; keys never go NULL on
    right/full outer (coalesced from the renamed copy)."""
    from warp_spark.streaming.windows import stream_interval_join

    l = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0), (2, "2024-01-01 10:00:00", 7.0)],
        "user_id long, ts string, purchase_value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", 1.0), (3, "2024-01-01 10:05:00", 2.0)],
        "user_id long, ts string, click_value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    left = stream_interval_join(l, r, by=["user_id"], how="left")
    rows = {row["user_id"]: row for row in left.collect()}
    assert rows[1]["r_click_value"] == 1.0
    assert rows[2]["r_click_value"] is None  # unmatched left row kept

    full = stream_interval_join(l, r, by=["user_id"], how="full_outer")
    keys = {row["user_id"] for row in full.collect()}
    assert keys == {1, 2, 3}  # right-unmatched key 3 survives, not NULL


def test_streaming_heavy_hitters_bounded_state(spark, events_dir):
    """Space-saving summary: per-key state stays <= capacity items, and
    every item whose true frequency exceeds N/capacity appears in the
    final summary (the algorithm's guarantee); counts upper-bound truth."""
    from warp_spark.streaming.windows import heavy_hitters_stateful

    stream = stream_events(spark, events_dir).withColumn(
        "k", F.col("user_id") % 5
    )
    hh = heavy_hitters_stateful(stream, "k", "event_type", capacity=4)
    run_stream_to_memory(hh, "hh_t", output_mode="update")
    # last emitted summary per key
    rows = spark.sql(
        "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY k, item"
        "  ORDER BY cnt DESC) AS rn FROM hh_t) WHERE rn = 1"
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], {})[r["item"]] = (r["cnt"], r["err"])
    truth = {
        (r["k"], r["event_type"]): r["n"]
        for r in batch_events(spark)
        .withColumn("k", F.col("user_id") % 5)
        .groupBy("k", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals = {}
    for (k, _), n in truth.items():
        totals[k] = totals.get(k, 0) + n
    for k, summary in by_key.items():
        assert len(summary) <= 4
        for (tk, item), n in truth.items():
            if tk == k and n > totals[k] / 4:
                assert item in summary  # guaranteed heavy hitter present
                cnt, err = summary[item]
                assert cnt >= n  # count upper-bounds truth


def test_trailing_zscore_flags_spike(spark):
    """A flat 10-events/hour series with one 100-event spike: the spike
    hour (with ≥6 trailing hours) must flag, warm-up hours must not."""
    import datetime as dt

    from warp_spark.streaming.windows import trailing_zscore

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for h in range(30):
        n = 100 if h == 20 else 10 + (h % 3)  # mild jitter, one spike
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, minutes=i % 60), "click"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = {r["hour"].hour + 24 * (r["hour"].day - 1): r
           for r in trailing_zscore(df, "ts", "event_type").collect()}
    # warm-up: fewer than 6 trailing hours → null score, never flagged
    for h in range(6):
        assert got[h]["zscore"] is None and not got[h]["is_anomaly"]
    assert got[20]["is_anomaly"] and got[20]["zscore"] > 3
    # ordinary hours with full history stay unflagged
    assert not got[15]["is_anomaly"] and abs(got[15]["zscore"]) < 3
    assert got[15]["n_history"] >= 6


def test_ewma_recurrence_matches_python(spark):
    import datetime as dt

    from warp_spark.streaming.windows import ewma

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, float(v))
        for i, v in enumerate([10.0, 20.0, 5.0, 40.0, 1.0])
    ] + [(99, base, 8, 3.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {r["event_id"]: r["ewma"] for r in ewma(df, "ts", "user_id", "value").collect()}
    ew = None
    for i, v in enumerate([10.0, 20.0, 5.0, 40.0, 1.0]):
        ew = v if ew is None else 0.3 * v + 0.7 * ew
        assert got[i] == ew  # bit-exact, same recurrence
    assert got[99] == 3.0  # singleton chain: y_1 = x_1


def test_heavy_hitters_multi_batch_final_snapshot(spark, tmp_path):
    """With maxFilesPerTrigger=1 over two staged files the sink holds
    snapshots from MULTIPLE micro-batches; the n_processed discriminator
    must pick the final summary, which still satisfies every
    space-saving guarantee against the full exact counts."""
    import shutil

    from warp_spark.streaming.windows import heavy_hitters_stateful

    d = tmp_path / "hh_two_files"
    d.mkdir()
    full = batch_events(spark).withColumn("k", F.col("user_id") % 3)
    half1 = full.filter(F.col("event_id") % 2 == 0)
    half2 = full.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    half2.coalesce(1).write.mode("overwrite").parquet(str(d / "b"))
    for i, sub in enumerate(["a", "b"]):
        for f in (d / sub).glob("*.parquet"):
            shutil.move(str(f), str(d / f"part-{i}.parquet"))
        shutil.rmtree(d / sub)

    stream = with_ts(
        read_event_stream(spark, str(d), max_files_per_trigger=1)
    ).withColumn("k", F.col("user_id") % 3)
    hh = heavy_hitters_stateful(stream.select("k", "event_type"), "k", "event_type", capacity=3)
    run_stream_to_memory(hh, "hh_mb", output_mode="update")
    sink = spark.table("hh_mb")
    # multiple snapshots per key must actually be present
    n_snapshots = sink.select("k", "n_processed").distinct().groupBy("k").count()
    assert all(r["count"] >= 2 for r in n_snapshots.collect())
    # final snapshot per key = rows at max n_processed
    from pyspark.sql import Window

    w = Window.partitionBy("k")
    final = sink.withColumn("mx", F.max("n_processed").over(w)).filter(
        F.col("n_processed") == F.col("mx")
    )
    truth = {
        (r["k"], r["event_type"]): r["n"]
        for r in full.groupBy("k", "event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {}
    for (k, _), n in truth.items():
        totals[k] = totals.get(k, 0) + n
    summaries = {}
    for r in final.collect():
        summaries.setdefault(r["k"], {})[r["item"]] = (r["cnt"], r["err"], r["n_processed"])
    for k, s in summaries.items():
        assert len(s) <= 3
        # conservation at the final snapshot
        assert sum(c for c, _, _ in s.values()) == totals[k]
        for (tk, item), n in truth.items():
            if tk == k and n > totals[k] / 3:
                assert item in s
                cnt, err, _ = s[item]
                assert cnt >= n and cnt - err <= n


def test_kmv_stateful_two_batches_equals_batch_sketch(spark, tmp_path):
    """Bottom-k state is order-insensitive: the final streamed sketch
    over two micro-batches equals the batch KMV on the full data —
    n_stored, k-th hash, and estimate all value-equal."""
    import shutil

    from warp_spark.sampling import _hash32, kmv_distinct
    from warp_spark.streaming.windows import kmv_stateful

    d = tmp_path / "kmv_two_files"
    d.mkdir()
    full = batch_events(spark)
    half1 = full.filter(F.col("event_id") % 2 == 0)
    half2 = full.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    half2.coalesce(1).write.mode("overwrite").parquet(str(d / "b"))
    for i, sub in enumerate(["a", "b"]):
        for f in (d / sub).glob("*.parquet"):
            shutil.move(str(f), str(d / f"part-{i}.parquet"))
        shutil.rmtree(d / sub)

    k = 4  # small k so the eviction path actually runs
    stream = with_ts(read_event_stream(spark, str(d), max_files_per_trigger=1))
    sk = kmv_stateful(
        stream.select("event_type", _hash32(F.col("user_id")).alias("hv")),
        "event_type",
        "hv",
        k=k,
    )
    run_stream_to_memory(sk, "kmv_mb", output_mode="update")
    sink = spark.table("kmv_mb")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    final = {
        r["event_type"]: (r["n_stored"], r["kth_hash"], r["est_distinct"])
        for r in sink.withColumn("mx", F.max("n_processed").over(w))
        .filter(F.col("n_processed") == F.col("mx"))
        .collect()
    }
    batch = {
        r["event_type"]: (r["n_hashes"], r["est_distinct"])
        for r in kmv_distinct(full, "user_id", k=k, group_col="event_type").collect()
    }
    assert set(final) == set(batch)
    for et, (n_stored, _, est) in final.items():
        n_hashes, batch_est = batch[et]
        assert n_stored == min(n_hashes, k)
        assert est == batch_est  # bit-equal: same estimator arithmetic


def test_countmin_streamed_two_batches_equals_batch_sketch(spark, tmp_path):
    """CountMin cells are integer adds — order- and batching-insensitive:
    the drained two-micro-batch sketch (max per cell over update-mode
    emissions, counts are monotone) equals the batch sketch cell-for-cell."""
    import shutil

    from warp_spark.sketches import countmin_build

    d = tmp_path / "cm_two_files"
    d.mkdir()
    full = batch_events(spark)
    half1 = full.filter(F.col("event_id") % 2 == 0)
    half2 = full.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    half2.coalesce(1).write.mode("overwrite").parquet(str(d / "b"))
    for i, sub in enumerate(["a", "b"]):
        for f in (d / sub).glob("*.parquet"):
            shutil.move(str(f), str(d / f"part-{i}.parquet"))
        shutil.rmtree(d / sub)

    stream = with_ts(read_event_stream(spark, str(d), max_files_per_trigger=1))
    sk = countmin_build(stream.select("user_id"), "user_id", depth=4, width=64)
    run_stream_to_memory(sk, "cm_mb", output_mode="update")
    streamed = {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"]
        for r in spark.table("cm_mb")
        .groupBy("cm_row", "cm_bucket")
        .agg(F.max("cm_count").alias("cm_count"))
        .collect()
    }
    batch = {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"]
        for r in countmin_build(full.select("user_id"), "user_id", depth=4, width=64).collect()
    }
    assert streamed == batch


def test_hdr_streamed_two_batches_equals_batch_histogram(spark, tmp_path):
    """HDR bucket counters are integer adds — the drained two-micro-
    batch histogram equals the batch build cell-for-cell, so the
    quantile bounds read off it are batch-identical too."""
    import shutil

    from warp_spark.sketches import hdr_bucket

    d = tmp_path / "hdr_two_files"
    d.mkdir()
    full = batch_events(spark)
    half1 = full.filter(F.col("event_id") % 2 == 0)
    half2 = full.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("overwrite").parquet(str(d / "a"))
    half2.coalesce(1).write.mode("overwrite").parquet(str(d / "b"))
    for i, sub in enumerate(["a", "b"]):
        for f in (d / sub).glob("*.parquet"):
            shutil.move(str(f), str(d / f"part-{i}.parquet"))
        shutil.rmtree(d / sub)

    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    stream = with_ts(read_event_stream(spark, str(d), max_files_per_trigger=1))
    hist = (
        stream.select("event_type", hdr_bucket(cents, 5).alias("__key"))
        .groupBy("event_type", "__key")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    run_stream_to_memory(hist, "hdr_mb", output_mode="update")
    streamed = {
        (r["event_type"], r["__key"]): r["__cnt"]
        for r in spark.table("hdr_mb")
        .groupBy("event_type", "__key")
        .agg(F.max("__cnt").alias("__cnt"))
        .collect()
    }
    batch = {
        (r["event_type"], r["__key"]): r["__cnt"]
        for r in full.select("event_type", hdr_bucket(cents, 5).alias("__key"))
        .groupBy("event_type", "__key")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .collect()
    }
    assert streamed == batch


def test_neardup_streamed_equals_batch(spark):
    """The streaming incremental dedup (stream-static band probe +
    update-mode min-reduce) must reproduce the batch incremental_dedup
    answer exactly on the same corpus/batch split — per doc: same
    dup_of, same best_jaccard, same is_dup."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r["doc_id"], r["dup_of"], r["best_jaccard"], r["is_dup"])
    streamed = sorted(
        map(key, m.queries()["dedup_neardup_streamed"](spark, sf).collect())
    )
    batch = sorted(map(key, m.queries()["dedup_incremental"](spark, sf).collect()))
    assert streamed == batch
    assert any(r[3] for r in streamed)  # at least one real dup exercised


def test_index_ingest_streamed_equals_batch(spark):
    """The 27th streaming execution — continuous index ingest
    (foreachBatch → append_dedup_index per trigger) — must leave the
    index in a state whose probe reproduces the batch incremental
    answer exactly: after three utime-pinned triggers absorb the
    12..15 slice into the base-12 index, probing with the %20>=16
    batch equals dedup_incremental per doc."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r["doc_id"], r["dup_of"], r["best_jaccard"], r["is_dup"])
    streamed = sorted(
        map(key, m.queries()["dedup_index_append_streamed"](spark, sf).collect())
    )
    batch = sorted(map(key, m.queries()["dedup_incremental"](spark, sf).collect()))
    assert streamed == batch
    assert any(r[3] for r in streamed)  # at least one real dup exercised


def test_stream_stream_left_join_emits_unmatched(spark):
    """The streaming left-outer interval join must emit EVERY click —
    matched rows with purchase columns, unmatched null-padded (only
    reachable through the watermark-flush sentinel batch) — and the
    sentinel itself must not leak into the result."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = m.queries()["events_stream_stream_left_join"](spark, sf)
    rows = out.collect()
    assert all(r["user_id"] >= 0 for r in rows)
    clicks = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select("event_id")
        .distinct()
    )
    click_ids = {r["event_id"] for r in clicks.collect()}
    out_left_ids = {r["l_event_id"] for r in rows}
    assert out_left_ids == click_ids  # no click lost, none invented
    assert any(r["r_event_id"] is None for r in rows)  # outer nulls real
    matched = [r for r in rows if r["r_event_id"] is not None]
    assert all(r["r_ts"] >= r["l_ts"] for r in matched)


def test_attribution_streamed_equals_batch(spark):
    """The 3-trigger stateful replay must reproduce the batch
    carry-forward window exactly, and the corpus must actually exercise
    cross-batch state: at least one purchase's attributed touch lands in
    an EARLIER time-third than the purchase itself."""
    import __spark_entry__ as m
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r["channel"], r["n_purchases"], r["total_cents"])  # noqa: E731
    streamed = sorted(
        map(key, m.queries()["events_attribution_streamed"](spark, sf).collect())
    )
    batch = sorted(
        map(key, m.queries()["events_attribution_last_touch"](spark, sf).collect())
    )
    assert streamed == batch
    assert any(r[0] in ("view", "click") for r in streamed)  # real touches
    assert any(r[0] == "direct" for r in streamed)  # fallback exercised

    # cross-batch certificate: replay the batch window WITH the third
    # assignment and find an attributed purchase whose touch is in an
    # earlier third (state must have carried across a trigger boundary)
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .withColumn(
            "is_touch",
            F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0),
        )
        .withColumn(
            "third", F.ntile(3).over(Window.orderBy("ts", "is_touch", "event_id"))
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_touch", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "event_type",
        "third",
        F.unix_micros("ts").alias("us"),
        F.last(
            F.when(F.col("is_touch") == 1, F.col("third")), ignorenulls=True
        ).over(w).alias("lt_third"),
        F.last(
            F.when(F.col("is_touch") == 1, F.unix_micros("ts")), ignorenulls=True
        ).over(w).alias("lt_us"),
    )
    crossed = marked.filter(
        (F.col("event_type") == "purchase")
        & (F.col("us") - F.col("lt_us") <= 604_800_000_000)
        & (F.col("lt_third") < F.col("third"))
    ).count()
    assert crossed >= 1


def test_sample_streamed_equals_batch_bottomk(spark):
    """The 3-trigger stateful reservoir must equal the batch bottom-64
    by md5 order exactly, and the sample must span all three staged
    thirds (event_id % 3) — the winning rows arrive in different
    micro-batches, so per-bucket state provably merges across triggers
    rather than winning within one batch."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = m.queries()["events_sample_streamed"](spark, sf).collect()
    assert len(got) == 64
    hv = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    want = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("event_id", "user_id", "event_type", hv.alias("hv"))
        .orderBy("hv", "event_id")
        .limit(64)
        .select("event_id", "user_id", "event_type")
        .collect()
    )
    key = lambda r: (r["event_id"], r["user_id"], r["event_type"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert {r["event_id"] % 3 for r in got} == {0, 1, 2}  # all triggers hit


def test_bottomk_payload_cols_derive_schema(spark, events_dir, tmp_path):
    """bottomk_sample_stateful must derive its output AND state schemas
    from ``payload_cols`` (r9 advice: they were hard-coded to
    user_id/event_type, so any other payload mismatched at runtime).
    Run it with a swapped-order payload including a double column and
    check the union of emissions contains the true batch bottom-k."""
    from warp_spark.streaming.windows import bottomk_sample_stateful

    hv = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    prep = lambda df: df.select(  # noqa: E731
        (F.col("event_id") % 4).alias("bucket"),
        hv.alias("hv"),
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    stream = prep(stream_events(spark, events_dir))
    out = bottomk_sample_stateful(
        stream, k=16, payload_cols=("event_type", "value")
    )
    assert [f.name for f in out.schema.fields] == [
        "bucket", "hv", "event_id", "event_type", "value",
    ]
    assert dict(out.dtypes)["value"] == "double"
    run_stream_to_memory(out, "bk_payload_t", output_mode="update")
    got = spark.sql("SELECT * FROM bk_payload_t").collect()
    want = (
        prep(batch_events(spark))
        .orderBy("hv", "event_id")
        .limit(16)
        .collect()
    )
    emitted = {(r["hv"], r["event_id"]) for r in got}
    for r in want:
        assert (r["hv"], r["event_id"]) in emitted
    # payload values ride along unchanged
    by_id = {r["event_id"]: r for r in got}
    for r in want:
        assert by_id[r["event_id"]]["event_type"] == r["event_type"]
        assert by_id[r["event_id"]]["value"] == r["value"]


def test_ewma_streamed_equals_batch_and_carries_state(spark):
    """The 3-trigger stateful EWMA must be bit-identical to the batch
    fold over the same purchases, and at least one user's purchase
    chain must span all three staged thirds — so equality proves the
    8-byte state genuinely carries the smoothed value across
    micro-batches rather than restarting per batch."""
    import __spark_entry__ as m
    from warp_spark.streaming.windows import ewma

    sf = "/root/testdata/sf0.001"
    got = m.queries()["events_ewma_streamed"](spark, sf).collect()
    purchases = batch_events(spark).filter(F.col("event_type") == "purchase")
    want = ewma(purchases, "ts", "user_id", "value", alpha=0.3).collect()
    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    gm = {key(r): r["ewma"] for r in got}
    wm = {key(r): r["ewma"] for r in want}
    assert gm == wm  # bit-exact doubles, every event exactly once
    # cross-batch carry is real: the staging cuts the (ts, event_id)
    # order into thirds, so a user with >= 3 purchases spread over the
    # month necessarily straddles a batch boundary
    from collections import Counter

    per_user = Counter(r["user_id"] for r in got)
    assert max(per_user.values()) >= 3


def test_holt_streamed_equals_batch(spark):
    """The 3-trigger stateful Holt fold must be bit-identical to the
    batch level/trend fold over the same purchases — 16 bytes of state
    carrying (l, b) across micro-batch boundaries."""
    import __spark_entry__ as m
    from warp_spark.streaming.windows import holt_linear

    sf = "/root/testdata/sf0.001"
    got = m.queries()["events_holt_streamed"](spark, sf).collect()
    purchases = batch_events(spark).filter(F.col("event_type") == "purchase")
    want = holt_linear(purchases, "ts", "user_id", "value").collect()
    key = lambda r: (r["user_id"], r["event_id"])  # noqa: E731
    gm = {key(r): (r["level"], r["trend"], r["forecast_next"]) for r in got}
    wm = {key(r): (r["level"], r["trend"], r["forecast_next"]) for r in want}
    assert gm == wm


def test_new_users_streamed_equals_batch_census(spark):
    """first_seen_stateful's 3-trigger replay must reproduce the batch
    min-day census exactly, emit each user EXACTLY once across all
    triggers (sum of new_users == distinct users), and the corpus must
    actually exercise cross-batch suppression: with time-ordered
    thirds, every sf0.001 user appears in more than one third, so a
    re-emission bug would double-count immediately."""
    import __spark_entry__ as m
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["day"], r["new_users"])
        for r in m.queries()["events_new_users_streamed"](spark, sf).collect()
    )
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want = sorted(
        (r["day"], r["n"])
        for r in ev.groupBy("user_id")
        .agg(F.min(F.date_trunc("day", "ts").cast("date")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want
    n_users = ev.select("user_id").distinct().count()
    assert sum(n for _, n in got) == n_users
    # cross-batch certificate: at least one user spans >1 time-third
    thirds = (
        ev.withColumn("third", F.ntile(3).over(Window.orderBy("ts", "event_id")))
        .groupBy("user_id")
        .agg(F.countDistinct("third").alias("nt"))
        .filter(F.col("nt") > 1)
        .count()
    )
    assert thirds >= 1


def test_graph_ingest_streamed_equals_batch(spark):
    """The 28th streaming execution — continuous graph ingest
    (foreachBatch → append_edges per trigger, then one census fold) —
    must leave the census in a state identical to the one-shot batch
    census over the same (even-part induced) domain: after three
    utime-pinned triggers absorb the 2%-of-orders delta into the
    copied base graph, the maintained census aggregate equals
    wedge_census(full even graph) computed directly."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from warp_spark.catalog import _copurchase_order_edges, _t
    from warp_spark.pipeline.graph import wedge_census

    sf = "/root/testdata/sf0.001"
    key = lambda r: tuple(r[c] for c in sorted(r.asDict()))
    streamed = sorted(
        map(key, m.queries()["graph_ingest_streamed"](spark, sf).collect())
    )
    li = (
        _t(spark, sf, "lineitem")
        .to_df()
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 2 == 0)
    )
    batch = sorted(
        map(
            key,
            wedge_census(_copurchase_order_edges(li), max_center_degree=120)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum("cn").cast("long").alias("cn_total"),
                F.sum("ra_ppm").cast("long").alias("ra_total"),
                (
                    F.sum(F.when(F.col("x") < F.col("y"), 1).otherwise(0))
                    == F.count(F.lit(1))
                ).alias("pairs_canonical"),
            )
            .collect(),
        )
    )
    assert streamed == batch and len(streamed) == 1
    # a real census came through, not an empty artifact
    assert streamed[0][1] > 0  # cn_total (columns sorted: cn_total first)


def test_stage_split_files_raises_on_key_outside_range(spark, tmp_path):
    """Staging writes one trigger file per residue class 0..n-1; a key
    that puts rows in no class raises instead of silently dropping them,
    and leaves no trigger files behind."""
    import os

    from warp_spark.streaming.replay import _stage_split

    df = spark.range(12).withColumnRenamed("id", "v")
    ok = str(tmp_path / "ok")
    _stage_split(df, ok, F.col("v") % 3, ["v"], n=3)
    got = sorted(r.v for r in spark.read.parquet(f"{ok}/file_*.parquet").collect())
    assert got == list(range(12))
    assert sorted(os.listdir(ok)) == ["file_000.parquet", "file_001.parquet", "file_002.parquet"]

    for key in (F.col("v") % 4, F.when(F.col("v") < 10, F.col("v") % 3)):
        bad = str(tmp_path / "bad")
        with pytest.raises(RuntimeError, match="outside 0..2"):
            _stage_split(df, bad, key, ["v"], n=3)
        assert not [f for f in os.listdir(bad) if f.startswith("file_")]


def test_stage_split_returns_the_schema_it_wrote(spark, tmp_path):
    """The split staging opens its stream with the schema it wrote, so
    that schema must be what a parquet read of the files infers."""
    from warp_spark.streaming.replay import _stage_split

    df = spark.range(6).select(
        F.col("id").alias("k"),
        F.timestamp_seconds("id").alias("ts"),
        F.timestamp_seconds("id").cast("timestamp_ntz").alias("ts_ntz"),
        F.when(F.col("id") % 2 == 0, F.lit("even")).alias("maybe"),
        F.array("id", "id").alias("arr"),
    )
    root = str(tmp_path / "split")
    got = _stage_split(df, root, F.col("k") % 3, df.columns, n=3)
    assert got == spark.read.parquet(root).schema


def test_memory_replay_leaves_no_view(spark):
    """A streamed entry drops its memory sink's temp view once it has
    the sink's frame; the frame still collects and aggregates."""
    import os

    from warp_spark.catalog import QUERIES

    before = sorted(t.name for t in spark.catalog.listTables())
    df = QUERIES["events_hourly_rollup_streamed"](spark, os.path.dirname(EVENTS))
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    rows = df.collect()
    assert rows and df.groupBy().count().first()[0] == len(rows)


@pytest.mark.parametrize("fails", ["build", "drain"])
def test_failed_replay_cleans_up(spark, tmp_path, monkeypatch, fails):
    """Whether the query builder raises or the started query fails, the
    replay removes its staged directory, leaves no active query and no
    temp view."""
    import os
    import tempfile

    from warp_spark.streaming import memory_sink, replay_events

    def build(ev):
        if fails == "build":
            raise ValueError("boom")
        return ev.select(F.raise_error(F.lit("boom")).alias("x"))

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = sorted(t.name for t in spark.catalog.listTables())
    with pytest.raises(Exception, match="boom"):
        replay_events(spark, os.path.dirname(EVENTS), build, memory_sink("append"))
    assert os.listdir(tmp_path) == []
    assert spark.streams.active == []
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_catalog_owns_no_replay():
    """Every streamed catalog entry replays through
    warp_spark/streaming/replay.py: catalog.py makes no temp directory,
    opens or drains no stream itself, and defines no staging helper."""
    import ast
    import pathlib

    path = pathlib.Path(__file__).resolve().parent.parent / "warp_spark/catalog.py"
    tree = ast.parse(path.read_text())
    banned = {"mkdtemp", "readStream", "writeStream", "processAllAvailable"}
    found = sorted(
        (n.lineno, n.attr if isinstance(n, ast.Attribute) else n.id)
        for n in ast.walk(tree)
        if (isinstance(n, ast.Attribute) and n.attr in banned)
        or (isinstance(n, ast.Name) and n.id in banned)
    )
    stagers = sorted(
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name.startswith("_stage_")
    )
    assert not found and not stagers, (found, stagers)


def test_streaming_merge_reads_each_micro_batch_once(spark):
    """mutable_streaming_merge at sf0.001 reads each staged change batch
    once: the query's progress reports exactly the staged rows, 417
    then 167 (a pre-scan of each batch would double both)."""
    import os

    from pyspark.sql.streaming import StreamingQueryListener

    import __spark_entry__ as m

    seen = []

    class InputRows(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = InputRows()
    spark.streams.addListener(listener)
    try:
        m.queries()["mutable_streaming_merge"](spark, os.path.dirname(EVENTS)).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert [n for n in seen if n] == [417, 167]
