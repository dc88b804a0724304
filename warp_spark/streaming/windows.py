"""Structured-Streaming extensions (beyond the reference's surface).

The reference has NO event-time streaming — its Stream/Transformer
machinery is batch micro-chunking (SURVEY.md §2.6, Stream.swift:33).
These operators are the Spark-native extension tier: every builder
below works identically on a batch DataFrame and a streaming
DataFrame (``readStream``), so the same rollup definition serves the
oracle-checked batch path and the streaming path.

Scale notes:
- windowed aggregation shuffles on (window, keys) with map-side
  partials; watermarks bound state size for unbounded streams;
- session windows use Spark's native ``session_window`` (state-store
  backed when streaming);
- the custom stateful tier (per-key running state that Spark's
  built-ins can't express) is ``applyInPandasWithState`` — see
  ``running_totals_stateful``.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-based streaming source over a directory of event files.
    Streaming file sources require an explicit schema — pass one or
    give a batch-readable path to borrow the inferred schema from."""
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_rollup(
    df: DataFrame,
    ts_col: str,
    window: str,
    slide: Optional[str] = None,
    groups: Sequence[str] = (),
    aggs: Optional[Mapping[str, Aggregator]] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` differs) event-time window
    aggregation. Works on batch and streaming inputs alike; on a stream
    the watermark bounds state and admits late data up to the bound."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide or window)
    agg_cols = [a.to_column(name) for name, a in (aggs or {}).items()]
    out = df.groupBy(win.alias("w"), *[F.col(g) for g in groups]).agg(*agg_cols)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[F.col(g) for g in groups],
        *[F.col(name) for name in (aggs or {})],
    )


def hourly_rollup(df: DataFrame, ts_col: str, groups: Sequence[str], aggs: Mapping[str, Aggregator]) -> DataFrame:
    return windowed_rollup(df, ts_col, "1 hour", groups=groups, aggs=aggs)


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: Union[str, Column],
    keys: Sequence[str],
    watermark: Optional[str] = None,
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per key. Emits the observed span (first/last event time)
    plus the event count — the observable footprint, engine-portable
    (Spark's raw session_window end extends past the last event by
    ``gap``, which no other engine reproduces).

    ``gap`` may be a Column for DYNAMIC gaps (each event extends the
    session by its own duration — e.g. clicks close faster than
    purchases); sessions then merge exactly when an event lands within
    the running maximum of previous (ts + gap) reaches."""
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            *[F.col(k) for k in keys],
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(*keys, "session_start", "session_end", "n_events")
    )


def running_totals_stateful(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Custom stateful operator tier: per-key running count + sum via
    ``applyInPandasWithState`` — the escape hatch for stateful logic
    Spark's built-in aggregates can't express (SURVEY.md custom-operator
    tier (b)). Streaming-only; batch equivalents use a window."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, n_events long, total double"
    state_schema = "n long, s double"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "total": [s]})

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def last_touch_attribution_stateful(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    touch_types: tuple = ("view", "click"),
    purchase_type: str = "purchase",
    lookback_us: int = 604_800_000_000,
) -> DataFrame:
    """Streaming last-touch attribution — the batch entry's carry-forward
    window re-expressed as per-key state: the state is ONE (touch type,
    touch micros) pair per user, each purchase is attributed against it
    at arrival and emitted exactly once.  Rows within a micro-batch
    group are walked in (ts, is_touch, id) order with purchases BEFORE
    same-µs touches — the identical strict-precede total order as the
    batch window, so a time-ordered file replay reproduces the batch
    answer exactly.  State is O(1) per user regardless of event volume —
    the shape that matters on an unbounded stream (the batch window
    would need the full per-user history).  Cents use the same
    floor(value·100) rule as the batch entry (Python floats ARE IEEE
    doubles)."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, {id_col} long, channel string, cents long"
    state_schema = "lt_type string, lt_us long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        lt_type, lt_us = state.get if state.exists else (None, None)
        rows = []
        for pdf in pdfs:
            # normalize explicitly to ns before the integer view: if a
            # future Spark/pandas combo delivers datetime64[us], a bare
            # astype('int64')//1000 would silently yield MILLIseconds
            # and skew the lookback compare by 1000x
            us = pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1000
            for ts_us, eid, etype, val in sorted(
                zip(
                    (int(x) for x in us),
                    (int(x) for x in pdf[id_col]),
                    pdf[type_col],
                    pdf[value_col],
                ),
                key=lambda r: (r[0], r[2] in touch_types, r[1]),
            ):
                if etype == purchase_type:
                    if lt_us is not None and ts_us - lt_us <= lookback_us:
                        channel = lt_type
                    else:
                        channel = "direct"
                    cents = math.floor(float(val) * 100.0)
                    rows.append((key[0], eid, channel, cents))
                elif etype in touch_types:
                    lt_type, lt_us = etype, ts_us
        if lt_us is not None:
            state.update((lt_type, lt_us))
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, id_col, "channel", "cents"]
            )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def bottomk_sample_stateful(
    df: DataFrame,
    k: int,
    bucket_col: str = "bucket",
    hv_col: str = "hv",
    id_col: str = "event_id",
    payload_cols: tuple = ("user_id", "event_type"),
) -> DataFrame:
    """Exact streaming bottom-k reservoir: per hash-bucket state holds
    the current bottom-``k`` rows by (hash, id); each batch merges
    arrivals, truncates, and emits the bucket's current bottom-k.  The
    global bottom-k over every emitted row equals the true batch
    bottom-k: an element is only ever evicted by a SMALLER hash, so
    anything missing from the final union sorts after the k-th element
    — stale emissions are harmless extras, no per-batch snapshot
    bookkeeping needed.  State is O(k) per bucket regardless of stream
    length — the uniform-sample shape an unbounded pipeline keeps
    (md5 order is RNG-free, so stream == batch exactly)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pay = list(payload_cols)
    # derive BOTH schemas from the input frame so any payload_cols
    # choice works (r9 advice: the schemas were hard-coded to
    # user_id/event_type and other callers would mismatch at runtime)
    dtypes = dict(df.dtypes)
    missing = [c for c in [hv_col, id_col, *pay] if c not in dtypes]
    if missing:
        raise ValueError(f"bottomk_sample_stateful: columns not in df: {missing}")
    out_schema = ", ".join(
        [f"{bucket_col} long", f"{hv_col} long", f"{id_col} long"]
        + [f"{c} {dtypes[c]}" for c in pay]
    )
    state_schema = ", ".join(
        ["hvs array<bigint>", "ids array<bigint>"]
        + [f"p{j} array<{dtypes[c]}>" for j, c in enumerate(pay)]
    )
    # native Python coercion per column keeps tuples hashable/sortable
    # (numpy scalars compare fine but set() dedup wants stable types)
    coerce = [int, int] + [
        int if dtypes[c] in ("bigint", "int", "smallint", "tinyint", "long") else str
        for c in pay
    ]

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        rows = (
            [
                tuple(f(v) for f, v in zip(coerce, r))
                for r in zip(*state.get)
            ]
            if state.exists
            else []
        )
        for pdf in pdfs:
            rows.extend(
                tuple(f(v) for f, v in zip(coerce, r))
                for r in zip(pdf[hv_col], pdf[id_col], *[pdf[c] for c in pay])
            )
        rows = sorted(set(rows))[:k]
        state.update(tuple([r[j] for r in rows] for j in range(2 + len(pay))))
        yield pd.DataFrame(
            [(key[0], *r) for r in rows],
            columns=[bucket_col, hv_col, id_col, *pay],
        )

    return df.groupBy(bucket_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def holt_linear(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) over
    event time: l_1 = x_1, b_1 = 0; then
        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    in (ts, id) order — the forecast-ready sibling of ``ewma`` (trend
    makes the one-step-ahead prediction l + b meaningful).  Same
    execution shape as ewma: one groupBy(key) shuffle, the sequential
    recurrence as a JVM codegen fold over the sorted per-key list (no
    Python), raw doubles out (pinned fold order → bit-identical
    cross-engine; the default α = β = 0.5 makes every step an exact
    halving, so there is no last-ulp exposure at all).  For unbounded
    keys the stateful streaming form carries (l, b) — 16 bytes — per
    key; this batch form matches the reference's running-aggregation
    semantics (QBERankStep.swift:107-122) with a two-register
    reducer."""
    lst = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col), F.col(id_col), F.col(value_col)))
    )
    a, oa = F.lit(alpha), F.lit(1.0 - alpha)
    b, ob = F.lit(beta), F.lit(1.0 - beta)
    id_type = df.schema[id_col].dataType.simpleString()
    acc0 = F.array().cast(
        f"array<struct<{id_col}:{id_type},v:double,level:double,trend:double>>"
    )

    def _step(acc, x):
        last = F.element_at(acc, -1)
        first = F.size(acc) == 0
        l_new = F.when(first, x[value_col]).otherwise(
            a * x[value_col] + oa * (last["level"] + last["trend"])
        )
        b_new = F.when(first, F.lit(0.0)).otherwise(
            b * (l_new - last["level"]) + ob * last["trend"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x[id_col].alias(id_col),
                    x[value_col].alias("v"),
                    l_new.alias("level"),
                    b_new.alias("trend"),
                )
            ),
        )

    folded = df.groupBy(key_col).agg(F.aggregate(lst, acc0, _step).alias("__h"))
    return folded.select(key_col, F.explode("__h").alias("r")).select(
        key_col,
        F.col(f"r.{id_col}").alias(id_col),
        F.col("r.v").alias(value_col),
        # raw doubles, no round (the ewma convention)
        F.col("r.level").alias("level"),
        F.col("r.trend").alias("trend"),
        (F.col("r.level") + F.col("r.trend")).alias("forecast_next"),
    )


def first_seen_stateful(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming first-seen detection — the acquisition half of the
    batch new-vs-returning census as O(1) state per key: the state is
    ONE byte-sized flag (user already counted); the FIRST micro-batch
    that carries a key emits exactly one (key, first_day) row, every
    later arrival of the key emits nothing.  Batch parity needs the
    replay to be time-ordered across micro-batches (the staging
    contract every streamed entry uses): within a batch the group's own
    min(day) is exact regardless of row order, and time-ordered batches
    guarantee no later batch can carry an earlier day for an
    already-emitted key.  first_day ships as the integer epoch day —
    µs // 86 400 000 000 after the explicit datetime64[ns]
    normalization (the unit-drift guard from the attribution op)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, first_epoch_day long"
    state_schema = "seen byte"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        mn = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            us = pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1000
            d = int(us.min()) // 86_400_000_000
            mn = d if mn is None else min(mn, d)
        if state.exists or mn is None:
            return
        state.update((1,))
        yield pd.DataFrame(
            [(key[0], mn)], columns=[key_col, "first_epoch_day"]
        )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def ewma_stateful(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.3,
) -> DataFrame:
    """Streaming per-key EWMA — the batch ``ewma`` fold re-expressed as
    O(1) state per key: the state is ONE double (the last smoothed
    value); each arrival folds y = α·x + (1−α)·y and is emitted exactly
    once.  Batch parity is bit-exact because the fold is pinned three
    ways: (1) rows within a micro-batch group walk in the identical
    (ts, id) order as the batch sort; (2) a time-ordered file replay
    keeps cross-batch order consistent with that sort; (3) the
    arithmetic is the same IEEE expression — α·x + β·y with
    β = 1.0 − α computed in Python exactly as the batch builder's
    ``F.lit(1.0 - alpha)`` (for α = 0.3, 1.0 − 0.3 == 0.7 exactly, so
    the DuckDB oracle's 0.7 literal is the same double).  On an
    unbounded stream this is the shape that matters: the batch fold
    needs each key's full history, the stateful form needs 8 bytes."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    beta = 1.0 - alpha
    out_schema = f"{key_col} long, {id_col} long, {value_col} double, ewma double"
    state_schema = "ew double"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        ew = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            # normalize to ns before the integer view (datetime64[us]
            # delivery would silently skew the order key unit)
            us = pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1000
            for _, eid, val in sorted(
                zip(
                    (int(x) for x in us),
                    (int(x) for x in pdf[id_col]),
                    (float(x) for x in pdf[value_col]),
                )
            ):
                ew = val if ew is None else alpha * val + beta * ew
                rows.append((key[0], eid, val, ew))
        if ew is not None:
            state.update((ew,))
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, id_col, value_col, "ewma"]
            )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def holt_stateful(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Streaming Holt level+trend smoothing — the ``holt_linear`` batch
    fold as 16 bytes of state per key (the last level and trend); each
    arrival folds the two-register recurrence and is emitted exactly
    once.  Same bit-exactness pinning as ewma_stateful: identical
    (ts, id) walk order, identical IEEE expression tree (and with the
    α = β = 0.5 defaults every step is an exact halving, so there is no
    last-ulp exposure at all).  The batch form carries each key's full
    history through a groupBy; this form is the unbounded-stream
    shape."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    oa, ob = 1.0 - alpha, 1.0 - beta
    out_schema = (
        f"{key_col} long, {id_col} long, {value_col} double, "
        "level double, trend double, forecast_next double"
    )
    state_schema = "l double, b double"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        l, b = state.get if state.exists else (None, None)
        rows = []
        for pdf in pdfs:
            us = pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1000
            for _, eid, val in sorted(
                zip(
                    (int(x) for x in us),
                    (int(x) for x in pdf[id_col]),
                    (float(x) for x in pdf[value_col]),
                )
            ):
                if l is None:
                    l, b = val, 0.0
                else:
                    ln = alpha * val + oa * (l + b)
                    b = beta * (ln - l) + ob * b
                    l = ln
                rows.append((key[0], eid, val, l, b, l + b))
        if l is not None:
            state.update((l, b))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key_col, id_col, value_col, "level", "trend",
                         "forecast_next"],
            )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "update",
    shuffle_partitions: int = 8,
):
    """Test/debug sink: drain all available input into an in-memory
    table named ``name`` and stop. Returns the stopped
    ``StreamingQuery`` (its ``recentProgress`` holds the per-trigger
    metrics); read the rows with ``spark.table(name)``.

    ``shuffle_partitions`` right-sizes the STATE STORE count for the
    drained micro-batch volume: a stateful streaming query commits one
    state store per shuffle partition per stateful operator per batch
    (a stream-stream join keeps four per partition), and that commit
    I/O is pure fixed overhead when partitions far exceed the data —
    measured 9.0 s → 2.3 s on the sf0.1 interval join going 32 → 8.
    State semantics are partition-count-independent (keys are hashed
    to stores; watermarks/aggregates/join results are exact either
    way).  The partition count is captured at ``start()`` — production
    jobs size it to throughput exactly the same way; the session value
    is restored after the drain."""
    spark = stream_df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, old)
    return q


def streaming_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key within the
    watermark horizon. State is bounded — ``dropDuplicatesWithinWatermark``
    evicts keys older than the watermark, so the dedup state never grows
    past (arrival rate × horizon); plain ``dropDuplicates`` on a stream
    would keep every key forever. Batch DataFrames take the unbounded
    exact path (same call, no watermark needed).

    The batch analog is pipeline.dedup.exact_duplicates; this is its
    continuous counterpart for ingest-time dedup (e.g. fingerprint the
    text with pipeline.text.fingerprint into a column first)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return df.dropDuplicates(list(key_cols))


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "INTERVAL 0 SECONDS",
    upper: str = "INTERVAL 10 MINUTES",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: pair left rows with right
    rows sharing ``by`` keys whose timestamp lies in
    ``[left_ts + lower, left_ts + upper]``.

    On streaming inputs both sides get watermarks — Spark requires the
    event-time range condition + watermarks to bound each side's join
    state (rows older than watermark+interval are evicted); without
    them a stream-stream join would buffer both streams forever. The
    same builder on batch frames is a plain interval theta-join, which
    the batch-equivalence test exploits (tests/test_streaming.py).

    Output columns: by-keys, then left columns (``l_`` prefix for the
    timestamp), then right columns (``r_`` prefix) — prefixing avoids
    the ambiguous-column trap of self-joining the same source."""
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    l = left.select(
        *[F.col(c).alias(c) for c in by],
        F.col(left_ts).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (*by, left_ts)],
    )
    r = right.select(
        *[F.col(c).alias(c) for c in by],
        F.col(right_ts).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (*by, right_ts)],
    )
    if not by:
        raise ValueError("stream_interval_join requires at least one equality key")
    cond = (
        (F.col("r_ts") >= F.col("l_ts") + F.expr(lower))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(upper))
    )
    joined = l.join(
        r.withColumnsRenamed({b: f"__r_{b}" for b in by}),
        on=[F.col(b) == F.col(f"__r_{b}") for b in by] + [cond],
        how=how,
    )
    # right/full outer: right-unmatched rows carry their key only in the
    # renamed copy — coalesce before dropping it
    joined = joined.withColumns(
        {b: F.coalesce(F.col(b), F.col(f"__r_{b}")) for b in by}
    )
    return joined.drop(*[f"__r_{b}" for b in by])


def heavy_hitters_stateful(
    df: DataFrame,
    key_col: str,
    item_col: str,
    capacity: int = 8,
    key_type: str = "long",
) -> DataFrame:
    """Per-key streaming heavy hitters with BOUNDED state: the
    space-saving algorithm (Metwally et al., ICDT'05) keeps at most
    ``capacity`` (item, count, overestimate) counters per key — when a
    new item arrives at a full summary it evicts the minimum counter
    and inherits its count as the error bound. Guarantee: any item with
    true frequency > N/capacity is present in the summary, and
    count - error ≤ true frequency ≤ count.

    This is the custom stateful tier (``applyInPandasWithState``) —
    Spark's built-in streaming aggregates cannot express an evicting
    bounded-cardinality summary. State per key is O(capacity) forever,
    regardless of item cardinality: the property that makes per-user /
    per-domain top-k viable on an unbounded 100 TB stream. Emits the
    current summary (one row per tracked item) on every update."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} {key_type}, item string, cnt long, err long, n_processed long"
    )
    state_schema = "items array<string>, counts array<long>, errs array<long>"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            items, counts, errs = state.get
            summary = {
                it: [c, e] for it, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        for pdf in pdfs:
            for it in pdf[item_col].astype(str):
                if it in summary:
                    summary[it][0] += 1
                elif len(summary) < capacity:
                    summary[it] = [1, 0]
                else:
                    evict = min(summary, key=lambda x: summary[x][0])
                    base = summary.pop(evict)[0]
                    summary[it] = [base + 1, base]
        state.update(
            (
                list(summary.keys()),
                [v[0] for v in summary.values()],
                [v[1] for v in summary.values()],
            )
        )
        # sum(cnt) == items processed so far (each arrival increments
        # exactly one counter; eviction preserves the evictee's count) —
        # a per-snapshot discriminator, so "the final summary" is simply
        # the rows with the max n_processed per key even if the sink
        # accumulated several micro-batch snapshots
        yield pd.DataFrame(
            {
                key_col: key[0],
                "item": list(summary.keys()),
                "cnt": [v[0] for v in summary.values()],
                "err": [v[1] for v in summary.values()],
                "n_processed": int(sum(v[0] for v in summary.values())),
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def kmv_stateful(
    df: DataFrame,
    key_col: str,
    hash_col: str,
    k: int = 64,
    key_type: str = "string",
) -> DataFrame:
    """Per-key streaming KMV distinct counter: state = the k smallest
    distinct 32-bit hashes seen so far (O(k) per key forever). Unlike
    the space-saving summary, bottom-k state is ORDER-INSENSITIVE —
    the final sketch is identical however arrivals are batched — so
    the streamed estimate value-matches a batch/SQL replay exactly
    (the only streaming sketch here with a full value oracle, not an
    invariant one). Pre-hash the values JVM-side (sampling.py::_hash32)
    and feed the hash column; the Python state step then only merges
    sorted longs. Emits ``key, n_stored, kth_hash, est_distinct,
    n_processed`` per update; the final snapshot per key is the rows
    with max n_processed. Estimator: (k-1)·2³²/h₍ₖ₎, exact path below
    k stored hashes — identical arithmetic to sampling.kmv_distinct."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} {key_type}, n_stored long, kth_hash long, "
        "est_distinct double, n_processed long"
    )
    state_schema = "hashes array<long>, n_processed long"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            stored, n_proc = state.get
            cur = set(stored)
        else:
            cur, n_proc = set(), 0
        for pdf in pdfs:
            vals = pdf[hash_col].tolist()
            n_proc += len(vals)
            cur.update(int(v) for v in vals)
            if len(cur) > k:
                cur = set(sorted(cur)[:k])
        stored = sorted(cur)
        state.update((stored, int(n_proc)))
        if len(stored) >= k:
            kth = stored[k - 1]
            est = float((k - 1) * 4294967296.0) / float(kth)
        else:
            kth = stored[-1] if stored else 0
            est = float(len(stored))
        yield pd.DataFrame(
            {
                key_col: key[0],
                "n_stored": [len(stored)],
                "kth_hash": [int(kth)],
                "est_distinct": [est],
                "n_processed": [int(n_proc)],
            }
        )

    return df.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def trailing_zscore(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    lookback_hours: int = 24,
    min_history: int = 6,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per ``group_col``,
    each scored against the trailing ``lookback_hours`` window's
    mean/std (current hour excluded). Hours with fewer than
    ``min_history`` trailing observations (or zero variance) get a NULL
    z-score and are never flagged.

    Scale shape: one shuffle to the hourly grid (partial/final count),
    then a window partitioned by ``group_col`` ordered by hour index
    with an integer RANGE frame — per-group state only, no global
    window. Mean and variance come from exact integer moments
    (n·Σc² − (Σc)², BIGINT) divided once at the end, so the scores are
    bit-reproducible across engines (same discipline as the variance
    reducer oracle)."""
    hours = df.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("hour"), F.col(group_col)
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return zscore_from_hourly(
        hours, group_col,
        lookback_hours=lookback_hours, min_history=min_history,
        z_threshold=z_threshold,
    )


def zscore_from_hourly(
    hours: DataFrame,
    group_col: str,
    hour_col: str = "hour",
    lookback_hours: int = 24,
    min_history: int = 6,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Score a pre-counted hourly grid (``hour_col, group_col,
    n_events``) — the shared tail of the batch and streamed detectors:
    the streamed twin builds the grid with a watermarked windowed count
    and hands the drained sink here, so batch and stream score through
    literally the same code."""
    from pyspark.sql.window import Window

    hours = hours.withColumn(
        "hour", F.col(hour_col)
    ).withColumn("hour_idx", (F.unix_timestamp(F.col("hour")) / 3600).cast("long"))
    w = (
        Window.partitionBy(group_col)
        .orderBy("hour_idx")
        .rangeBetween(-lookback_hours, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("n_events").over(w)
    ss = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    mean = s.cast("double") / n
    var = (n * ss - s * s).cast("double") / n / n
    z = (F.col("n_events") - mean) / F.sqrt(var)
    scored = (
        hours.withColumn("n_history", n)
        .withColumn(
            "trailing_mean",
            F.when(F.col("n_history") >= min_history, F.round(mean, 6)),
        )
        .withColumn(
            "zscore",
            F.when((F.col("n_history") >= min_history) & (var > 0), F.round(z, 6)),
        )
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) >= z_threshold, F.lit(False)),
        )
    )
    return scored.select(
        "hour", group_col, "n_events", "n_history", "trailing_mean", "zscore", "is_anomaly"
    )


def ewma(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    id_col: str = "event_id",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key exponentially weighted moving average over event time:
    y_1 = x_1, y_t = α·x_t + (1−α)·y_{t−1} in (ts, id) order.

    The recurrence is inherently sequential per key, so it runs as ONE
    fold per key over the sorted collected events (collect_list →
    sort_array → aggregate) — state per key is its own event list, the
    shuffle is the single groupBy(key), and the fold is JVM codegen (no
    Python). For keys with unbounded history the streaming tier
    (``running_totals_stateful``) is the bounded-state form; this batch
    form matches the reference's rank/running semantics
    (QBERankStep.swift:107-122) with a non-decomposable reducer.
    Returns one row per event: ``key_col, id_col, value_col, ewma`` —
    ewma is the RAW double (no rounding: the fold order is pinned, so
    the value is bit-identical cross-engine, while round() itself is
    not)."""
    lst = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col), F.col(id_col), F.col(value_col)))
    )
    a, b = F.lit(alpha), F.lit(1.0 - alpha)
    # accumulator id field mirrors the INPUT id column's type — a
    # hardcoded `long` failed analysis for string/int event ids
    id_type = df.schema[id_col].dataType.simpleString()
    acc0 = F.array().cast(f"array<struct<{id_col}:{id_type},v:double,ewma:double>>")

    def _step(acc, x):
        prev = F.element_at(acc, -1)["ewma"]
        y = F.when(F.size(acc) == 0, x[value_col]).otherwise(
            a * x[value_col] + b * prev
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x[id_col].alias(id_col),
                    x[value_col].alias("v"),
                    y.alias("ewma"),
                )
            ),
        )

    folded = df.groupBy(key_col).agg(
        F.aggregate(lst, acc0, _step).alias("__ew")
    )
    return folded.select(key_col, F.explode("__ew").alias("r")).select(
        key_col,
        F.col(f"r.{id_col}").alias(id_col),
        F.col("r.v").alias(value_col),
        # raw double, no round: the fold order is pinned so the value is
        # bit-identical cross-engine; round() itself is NOT (Spark rounds
        # the shortest decimal repr HALF_UP, DuckDB rounds the binary
        # value — they disagree exactly ON .xxxxxx5 boundaries)
        F.col("r.ewma").alias("ewma"),
    )
