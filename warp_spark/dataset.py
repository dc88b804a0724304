"""The lazy operator algebra: a thin fluent wrapper over DataFrame with
the reference's ``Dataset`` protocol surface (WarpCore/Sources/Data.swift:211-319)
plus the app-level steps (SURVEY.md §2.1).

Design notes (Spark-first, 100 TB aware):

- Every method is a pure transformation returning a new ``Dataset`` —
  the reference's lazy algebra maps 1:1 onto Spark's lazy logical plan;
  the reference's ``CoalescedDataset`` rewrite layer (Data.swift:375-755)
  is deliberately NOT re-implemented — Catalyst already performs every
  rewrite it contains (SURVEY.md §4.1).
- Row order: the reference's limit/offset/rank depend on source row
  order; DataFrames are unordered. Sources can attach ``__row_id``
  (``with_row_id``) and ordered operators fall back to it when the user
  supplies no explicit order. At cluster scale a global row id is a
  coordination point, so it is opt-in, never automatic.
- No driver-side collects except ``transpose`` (inherently small-data,
  guarded by a row cap — mirrors the reference, which only implements
  it on the in-memory raster, Raster.swift:657-694) and the preview
  sample of a chain source (bounded by the preview size, kept in the
  JVM; warp_spark.sources.parquet).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce as _functools_reduce
from typing import Iterable, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator
from warp_spark.localdf import small_rows_df
from warp_spark.prefix import running
from warp_spark.values import to_number  # noqa: F401  (used by rank windows)

ROW_ID = "__row_id"
# A preview sample's hidden row index (warp_spark.sources.parquet); a
# chain preview carries one per source through its join prefix
# (warp_spark.plans.chain). The steps that act on "every column"
# (select_columns, flatten, search, the join clash check) leave such
# columns out and carry them along.
SAMPLE_INDEX = "__sample_index"

ExprLike = Union[Column, str]


def _col(e: ExprLike) -> Column:
    """Accept a Column or a SQL expression string."""
    return F.expr(e) if isinstance(e, str) else e


def _split_hidden(columns: Sequence[str]) -> tuple[list[str], list[str]]:
    """(visible, hidden) column names: hidden are the SAMPLE_INDEX ones."""
    hidden = [c for c in columns if c.startswith(SAMPLE_INDEX)]
    return [c for c in columns if not c.startswith(SAMPLE_INDEX)], hidden


@dataclass
class Order:
    """Sort key: expression + direction + collation (Data.swift:81-111).

    ``numeric=True`` compares values numerically (Warp's default
    collation); ``numeric=False`` compares as strings.
    NULL (Warp ``empty``) sorts below all values either way
    (Value.swift:591-636) → nulls first ascending, nulls last descending.
    """

    expression: ExprLike
    ascending: bool = True
    numeric: bool = True

    def to_columns(self, dtype=None) -> list[Column]:
        from pyspark.sql import types as T

        c = _col(self.expression)
        if dtype is not None and isinstance(
            dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            # dates never implicitly convert to number (Value.swift:164-174)
            # but order natively among themselves (Value.swift:591-636) —
            # chronological under either collation
            keys = [c]
        elif self.numeric:
            # numeric collation: coerced double first, raw string tiebreak
            keys = [to_number(c), c.cast("string")]
        else:
            keys = [c.cast("string")]
        return [k.asc_nulls_first() if self.ascending else k.desc_nulls_last() for k in keys]

    def to_column(self) -> Column:
        return self.to_columns()[0]


class Dataset:
    """Fluent lazy dataset. Wraps a DataFrame; ``df`` is always accessible."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- sources -----------------------------------------------------------
    @staticmethod
    def from_parquet(spark: SparkSession, path: str) -> "Dataset":
        """Read parquet; the schema is inferred once per file version
        (see warp_spark.sources.parquet)."""
        from warp_spark.sources.parquet import read_parquet

        return Dataset(read_parquet(spark, path))

    @staticmethod
    def from_df(df: DataFrame) -> "Dataset":
        return Dataset(df)

    def with_row_id(self) -> "Dataset":
        """Attach a monotonically increasing row id capturing source
        order (SURVEY.md §7.1.2). Not globally contiguous — only ordered."""
        return Dataset(self.df.withColumn(ROW_ID, F.monotonically_increasing_id()))

    # -- core relational ops (Dataset protocol, Data.swift:211-319) --------
    def filter(self, condition: ExprLike) -> "Dataset":
        """Keep rows where condition is TRUE (not merely truthy) —
        Data.swift:248-250."""
        return Dataset(self.df.filter(_col(condition)))

    def calculate(self, calculations: Mapping[str, ExprLike]) -> "Dataset":
        """Add/overwrite columns; every expression sees the *pre-update*
        row (batch semantics, Data.swift:221-230); new columns append at
        the end — exactly ``withColumns``."""
        return Dataset(self.df.withColumns({k: _col(v) for k, v in calculations.items()}))

    def select_columns(self, columns: Sequence[str]) -> "Dataset":
        """Project + reorder; silently ignores missing names
        (Data.swift:256-258)."""
        visible, hidden = _split_hidden(self.df.columns)
        existing = {c.lower(): c for c in visible}
        keep = [existing[c.lower()] for c in columns if c.lower() in existing]
        if not keep:
            # empty selection → empty dataset (Data.swift:662-664)
            return Dataset(self.df.select().limit(0))
        return Dataset(self.df.select(*keep, *hidden))

    def rename(self, mapping: Mapping[str, str]) -> "Dataset":
        """QBERenameStep.swift:82-106."""
        return Dataset(self.df.withColumnsRenamed(dict(mapping)))

    def limit(self, n: int) -> "Dataset":
        return Dataset(self.df.limit(n))

    def offset(self, n: int) -> "Dataset":
        return Dataset(self.df.offset(n))

    def random(self, n: int, seed: Optional[int] = None) -> "Dataset":
        """Uniform n-row sample without replacement (Data.swift:240-243;
        reservoir sampling in the reference, Stats.swift:201-253).

        ``orderBy(rand).limit(n)`` looks like a global sort but compiles
        to ``TakeOrderedAndProject``: each partition keeps its local
        top-n by the random key and the driver merges n·P candidates —
        the same two-phase reservoir shape as the reference, with no
        Exchange and no full sort (pinned by tests/test_plans.py).
        At 100 TB this moves only n·P rows; prefer ``sample(fraction)``
        when approximate counts suffice."""
        return Dataset(self.df.orderBy(F.rand(seed) if seed is not None else F.rand()).limit(n))

    def distinct(self) -> "Dataset":
        return Dataset(self.df.distinct())

    def unique(self, expression: ExprLike, alias: str = "value") -> "Dataset":
        """Distinct values of an expression (Data.swift:252-254)."""
        return Dataset(self.df.select(_col(expression).alias(alias)).distinct())

    def _order_columns(self, orders: Sequence[Order]) -> list[Column]:
        """Dtype-probed sort columns for a list of Orders — shared by
        sort() and rank(). Date/timestamp keys order natively and must
        not go through the coerced-double collation (NTZ timestamps
        cannot even cast to double); an unresolvable key (e.g. refs
        into a later plan) falls back to coercing collation LOUDLY,
        since a date-typed key would then collate as its string form."""
        import warnings

        keys: list[Column] = []
        for o in orders:
            try:
                dtype = self.df.select(_col(o.expression)).schema[0].dataType
            except Exception:
                warnings.warn(
                    f"sort key {o.expression!r} did not resolve for dtype "
                    "probing; using coercing collation",
                    RuntimeWarning,
                    stacklevel=2,
                )
                dtype = None
            keys.extend(o.to_columns(dtype))
        return keys

    def sort(self, orders: Sequence[Order]) -> "Dataset":
        return Dataset(self.df.orderBy(*self._order_columns(orders)))

    # Reducers whose aggregation state is a per-group COLLECTION or
    # sketch buffer (vs a few algebraic numbers).  They must never ride
    # in the same hash aggregate as a DISTINCT aggregate: Spark rewrites
    # count(DISTINCT x) through Expand with a first partial aggregation
    # keyed by (groups, x) — i.e. one aggregation state per DISTINCT
    # VALUE — which turns a 5-group percentile_approx into ~|distinct x|
    # 10k-capacity sketch buffers (measured 26 s vs 0.3+0.3 s split on
    # sf0.1 orders).  Fixed-state reducers tolerate the rewrite fine.
    _BUFFERED_REDUCERS = frozenset(
        {"median", "medianLow", "medianHigh", "medianPack",
         "pack", "list", "concat", "approxMedian"}
    )

    def aggregate(
        self,
        groups: Mapping[str, ExprLike],
        values: Mapping[str, Aggregator],
    ) -> "Dataset":
        """GROUP BY computed expressions (Data.swift:260-263). Compiles
        to a single hash aggregate with map-side partials — except when
        the request mixes a distinct aggregate with buffer-state
        reducers, which splits into two aggregates null-safe-joined on
        the group keys (see _BUFFERED_REDUCERS; identical values, the
        join is on identical group sets from the same input)."""
        gcols = [_col(e).alias(name) for name, e in groups.items()]
        has_distinct = any(a.reduce == "countDistinct" for a in values.values())
        buffered = {
            n: a for n, a in values.items() if a.reduce in self._BUFFERED_REDUCERS
        }
        if gcols and has_distinct and buffered and len(buffered) < len(values):
            rest = {n: a for n, a in values.items() if n not in buffered}
            left = self.aggregate(groups, rest).df
            right = self.aggregate(groups, buffered).df
            rg = [f"__agg_r_{g}" for g in groups]
            # rename BY NAME, not positionally (toDF) — a future column
            # reorder in the base aggregate path would silently mislabel
            right = right.select(
                *[right[g].alias(r) for g, r in zip(groups, rg)],
                *[right[n] for n in buffered],
            )
            cond = None
            for g, r in zip(groups, rg):
                c = left[g].eqNullSafe(right[r])  # NULL is a group, not a drop
                cond = c if cond is None else (cond & c)
            out = left.join(right, cond).drop(*rg)
            # restore the caller's column order: groups, then values
            return Dataset(out.select(*groups, *values))
        aggs = [agg.to_column(name) for name, agg in values.items()]
        if gcols:
            out = self.df.groupBy(*gcols).agg(*aggs)
        else:
            out = self.df.agg(*aggs)
        return Dataset(out)

    def pivot(
        self,
        horizontal: str,
        vertical: Sequence[str],
        values: Mapping[str, Aggregator],
        horizontal_values: Optional[Sequence] = None,
    ) -> "Dataset":
        """Spread distinct values of ``horizontal`` into generated columns
        (Data.swift:265; raster impl Raster.swift:984-1050). Column naming
        follows the reference: ``<hval>_<valuecol>``.

        Passing ``horizontal_values`` avoids the extra distinct-scan job
        Spark otherwise runs — at 100 TB always pass them (the reference
        app similarly pre-aggregates before pivoting,
        QBEPivotStep.swift:166-181)."""
        aggs = [agg.to_column(name) for name, agg in values.items()]
        p = self.df.groupBy(*vertical).pivot(horizontal, list(horizontal_values) if horizontal_values else None)
        out = p.agg(*aggs)
        if len(values) == 1:
            # Spark names single-agg pivot columns "<hval>"; reference uses
            # "<hval>_<valuecol>"
            vname = next(iter(values))
            renames = {
                c: f"{c}_{vname}" for c in out.columns if c not in vertical
            }
            out = out.withColumnsRenamed(renames)
        return Dataset(out)

    def flatten(
        self,
        value_to: str = "value",
        column_name_to: Optional[str] = "column",
        row_identifier: Optional[ExprLike] = None,
        row_identifier_to: str = "row",
        columns: Optional[Sequence[str]] = None,
    ) -> "Dataset":
        """Melt/unpivot: one output row per input *cell*
        (Data.swift:270-276; Transformer.swift:239-323). Uses the
        built-in ``melt`` — a narrow transformation, no shuffle."""
        visible, hidden = _split_hidden(self.df.columns)
        cols = list(columns) if columns else visible
        df = self.df
        id_cols = hidden
        if row_identifier is not None:
            df = df.withColumn(row_identifier_to, _col(row_identifier))
            id_cols = [*hidden, row_identifier_to]
        # melt requires a homogeneous value type: cast to string like the
        # reference's dynamically-typed cells
        casted = df.select(*id_cols, *[F.col(c).cast("string").alias(c) for c in cols])
        out = casted.melt(
            ids=id_cols,
            values=cols,
            variableColumnName=column_name_to or "column",
            valueColumnName=value_to,
        )
        if column_name_to is None:
            out = out.drop("column")
        return Dataset(out)

    def join(
        self,
        other: "Dataset",
        on: ExprLike,
        how: str = "inner",
    ) -> "Dataset":
        """Join with an arbitrary boolean predicate (Data.swift:113-145).
        Only left-outer and inner exist in the reference
        (Data.swift:113-130); right columns whose names clash with left
        are dropped from the output (Raster.swift:383-389).

        Spark plans broadcast/shuffled-hash/sort-merge automatically; an
        equi-predicate becomes a hash join exactly like the reference's
        HashComparison fast path (Data.swift:147-198)."""
        if how not in ("inner", "left"):
            raise ValueError("reference supports only inner and left joins (Data.swift:113-130)")
        left, right = self.df, other.df
        right_cols = _split_hidden(right.columns)[0]
        clashing = {c.lower() for c in left.columns} & {c.lower() for c in right_cols}
        if all(c.lower() in clashing for c in right_cols):
            # "ineffective join" elimination, replicated deliberately: when
            # every right column name-clashes the join adds no columns, and
            # the reference passes left rows through unchanged — no
            # duplication from multi-matches, no filtering even for inner
            # (Raster.swift:383-389; Transformer.swift:793-796,822-825)
            return self
        right_kept = right  # keep clashing cols for the predicate, drop after
        joined = left.join(right_kept, on=_col(on) if not isinstance(on, list) else on, how=how)
        drop_cols = [right_kept[c] for c in right_cols if c.lower() in clashing]
        for dc in drop_cols:
            joined = joined.drop(dc)
        return Dataset(joined)

    def union(self, other: "Dataset") -> "Dataset":
        """UNION ALL with column alignment by name; missing cells → NULL
        (Data.swift:300-304 — explicitly "not SQL UNION")."""
        return Dataset(self.df.unionByName(other.df, allowMissingColumns=True))

    # reducers the distributed prefix scan decomposes; countDistinct
    # rides it as a running SUM of first-occurrence markers. Only
    # concat/list stay window-only: their running OUTPUT is O(n²) bytes,
    # which no partition strategy fixes
    _PREFIX_REDUCERS = frozenset(
        {"countAll", "count", "sum", "average", "min", "max", "countDistinct"}
    )

    def rank(
        self,
        ranks: Mapping[str, Aggregator],
        by: Sequence[Order],
        partition_by: Optional[Sequence[ExprLike]] = None,
        num_partitions: Optional[int] = None,
        max_window_rows: int = 100_000,
    ) -> "Dataset":
        """Running aggregates over sorted rows (Data.swift:306-311;
        window pushdown SQL.swift:1491-1537). ``partition_by`` is a scale
        extension: the reference computes one global running aggregate
        (single sequential reducer, Transformer.swift:476-547); a
        partitioned rank is one window per partition key.

        A global rank whose reducers are all decomposable (countAll,
        count, sum, average, min, max, countDistinct) runs on the
        distributed two-phase prefix scan of ``prefix.running`` over
        ``num_partitions`` range partitions — no stage moves the data
        to a single task. countDistinct marks each value's first row in
        one total order (the sort keys plus a row id, attached if
        absent) and running-sums the 0/1 markers: at row r that sum is
        the number of distinct non-null values among rows ≤ r.
        Building such a rank runs at least two Spark jobs at once,
        before any action: the scan's pin samples the range bounds and
        writes the range shuffle (see warp_spark/prefix.py).

        A global rank with concat or list runs as one un-partitioned
        window (a single task; their running output is O(n²) bytes, so
        no partitioning would rescue them at scale) and raises when the
        input holds more than ``max_window_rows`` rows.
        """
        order_keys = self._order_columns(by) if by else [F.col(ROW_ID)]
        out = self.df
        added_id = False
        cd = [n for n, a in ranks.items() if a.reduce == "countDistinct"]
        if cd:
            # the marker windows and the running frame must resolve ties
            # from ONE total order, or a tied row can see a running count
            # that excludes its own value
            if ROW_ID not in out.columns:
                out = out.withColumn(ROW_ID, F.monotonically_increasing_id())
                added_id = True
            order_keys = [*order_keys, F.col(ROW_ID)]
            parts = [_col(p) for p in partition_by or []]
            for name in cd:
                # Spark rejects count(DISTINCT) as a window function
                # (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED)
                c = ranks[name]._map_col()
                w = Window.partitionBy(c, *parts).orderBy(*order_keys)
                out = out.withColumn(
                    f"__cd_{name}",
                    (c.isNotNull() & (F.row_number().over(w) == 1)).cast("long"),
                )
        drop = [f"__cd_{n}" for n in cd] + ([ROW_ID] if added_id else [])
        if not partition_by and all(
            a.reduce in self._PREFIX_REDUCERS for a in ranks.values()
        ):
            specs: dict[str, tuple[str, Column]] = {}
            finals: dict[str, Column] = {}
            for name, agg in ranks.items():
                c, h = agg._map_col(), f"__rk_{name}"
                num = to_number(c)
                if agg.reduce == "average":
                    specs[f"{h}_s"], specs[h] = ("sum", num), ("count", num)
                    finals[name] = F.when(F.col(h) > 0, F.col(f"{h}_s") / F.col(h))
                    continue
                specs[h] = {
                    "countAll": ("count", F.lit(1)),
                    "count": ("count", F.when(num.isNotNull(), 1)),
                    "countDistinct": ("sum", F.col(f"__cd_{name}")),
                    "sum": ("sum", num),
                    "min": ("min", c),
                    "max": ("max", c),
                }[agg.reduce]
                finals[name] = F.col(h)
            ranked = running(out, order_keys, specs, num_partitions=num_partitions)
            return Dataset(ranked.withColumns(finals).drop(*specs, *drop))
        if not partition_by:
            import warnings

            bad = [n for n, a in ranks.items() if a.reduce not in self._PREFIX_REDUCERS]
            # hard guard, matching transpose(): a single-task global
            # window over more than max_window_rows is a silent
            # scale-killer, not a slow path — count via a cheap limit
            # probe (limit(N+1) short-circuits the scan, no full count).
            # The probe counts a constant projection so no data columns
            # ever reach the driver: take(N+1) on the raw frame would
            # ship up to N+1 FULL-WIDTH rows (GBs for document-sized
            # rows) just to decide whether to raise.
            probe = (
                self.df.select(F.lit(1).alias("__probe"))
                .limit(max_window_rows + 1)
                .count()
            )
            if probe > max_window_rows:
                raise ValueError(
                    f"rank: un-partitioned global window (reducers {bad} are "
                    f"not prefix-decomposable) over more than "
                    f"max_window_rows={max_window_rows} rows would run on a "
                    "single task; partition_by a key, use a prefix-"
                    "decomposable reducer, or raise max_window_rows "
                    "explicitly for genuinely small data"
                )
            warnings.warn(
                "rank: un-partitioned global window over the data — "
                f"reducers {bad} are not prefix-decomposable, so the running "
                "aggregate runs on a single task; fine for preview-sized "
                "data, a bottleneck at scale",
                RuntimeWarning,
                stacklevel=2,
            )
        # windowed variants of the reducers (plain aggregate functions —
        # the batch reducers in aggregators.py wrap them with group-level
        # null handling that cannot sit under .over())
        window_reducers = {
            "sum": lambda c: F.sum(to_number(c)),
            "average": lambda c: F.avg(to_number(c)),
            "min": F.min,
            "max": F.max,
            "count": lambda c: F.count(F.when(to_number(c).isNotNull(), 1)),
            "list": F.collect_list,
        }
        base = Window.orderBy(*order_keys)
        if partition_by:
            base = Window.partitionBy(*[_col(p) for p in partition_by]).orderBy(*order_keys)
        framed = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for name, agg in ranks.items():
            if agg.reduce == "countAll":
                # simple rank = running countAll (QBERankStep.swift:107-122)
                c = F.row_number().over(base)
            elif agg.reduce == "countDistinct":
                c = F.sum(F.col(f"__cd_{name}")).over(framed)
            elif agg.reduce == "concat":
                strs = F.collect_list(agg._map_col().cast("string")).over(framed)
                c = F.concat_ws("", strs)
            elif agg.reduce in window_reducers:
                c = window_reducers[agg.reduce](agg._map_col()).over(framed)
            else:
                raise ValueError(f"reducer {agg.reduce!r} not supported as running aggregate")
            out = out.withColumn(name, c)
        return Dataset(out.drop(*drop))

    def transpose(self, max_rows: int = 2000) -> "Dataset":
        """Rows ↔ columns; first column becomes the header
        (Data.swift:217-219, raster-only in the reference,
        Raster.swift:657-694). Inherently driver-side small-data — guarded."""
        rows = self.df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(f"transpose capped at {max_rows} rows")
        cols = self.df.columns
        if not rows:
            return Dataset(small_rows_df(self.df.sparkSession, [], "column string"))
        header = ["column"] + [str(r[0]) for r in rows]
        out_rows = []
        for ci in range(1, len(cols)):
            out_rows.append(tuple([cols[ci]] + [str(r[ci]) if r[ci] is not None else None for r in rows]))
        schema = ", ".join(f"`{h}` string" for h in header)
        return Dataset(small_rows_df(self.df.sparkSession, out_rows, schema))

    # -- app-level steps (SURVEY.md §2.1 #17-24) ---------------------------
    def explode_vertical(self, column: str, separator: Optional[str] = None) -> "Dataset":
        """Split a cell into one row per element (QBEExplodeStep.swift:15-62).
        String cells split on ``separator``; array cells explode natively."""
        c = F.col(column)
        if separator is not None:
            c = F.split(c.cast("string"), F.lit(separator).cast("string"), -1)
        return Dataset(self.df.withColumn(column, F.explode(c)))

    def explode_horizontal(
        self, column: str, separator: str, n: int, keep_source: bool = False
    ) -> "Dataset":
        """Split a cell into the first N pieces as new columns
        (QBEExplodeStep.swift:64-150). New columns named ``<col>_<i>``."""
        parts = F.split(F.col(column).cast("string"), separator, -1)
        new = {f"{column}_{i + 1}": F.try_element_at(parts, F.lit(i + 1)) for i in range(n)}
        out = self.df.withColumns(new)
        if not keep_source:
            out = out.drop(column)
        return Dataset(out)

    def dummies(self, column: str, values: Optional[Sequence] = None) -> "Dataset":
        """One-hot: boolean column ``<col>_<v>`` per distinct value
        (QBEDummiesStep.swift:15-95). Pass ``values`` to skip the
        distinct-collect job at scale."""
        if values is None:
            values = [r[0] for r in self.df.select(column).distinct().orderBy(column).collect()]
        new = {f"{column}_{v}": (F.col(column) == F.lit(v)) for v in values}
        return Dataset(self.df.withColumns(new))

    def search(self, query: str, columns: Optional[Sequence[str]] = None) -> "Dataset":
        """OR of case-insensitive contains over all columns
        (QBESearchStep.swift:39-60)."""
        cols = columns or _split_hidden(self.df.columns)[0]
        preds = [F.lower(F.col(c).cast("string")).contains(query.lower()) for c in cols]
        return Dataset(self.df.filter(_functools_reduce(lambda a, b: a | b, preds)))

    def filter_set(self, column: str, values: Iterable) -> "Dataset":
        """Per-column value-set filter → IN (QBERowsStep.swift:180-269)."""
        return Dataset(self.df.filter(F.col(column).isin(list(values))))

    # -- materialization ---------------------------------------------------
    def cache(self) -> "Dataset":
        """QBECacheStep analog (QBECacheStep.swift:15-140)."""
        return Dataset(self.df.cache())

    def to_df(self) -> DataFrame:
        return self.df

    def collect(self):
        return self.df.collect()

    def collect_incremental(self, batch_rows: int = 10_000):
        """Incremental delivery (reference ``raster(job, deliver:
        .incremental)``, Data.swift:200-209,278-286: partial results
        streamed to the consumer as they materialize).

        Spark-first shape: ``toLocalIterator(prefetchPartitions=True)``
        pulls one partition at a time to the driver while the next is
        computed, so the first batch arrives after the first partition
        finishes — not after the whole query. Yields lists of Rows of
        ≤ ``batch_rows``. Unbounded/streaming sources get this natively
        from the Structured Streaming tier (streaming/windows.py); this
        is the batch-preview analog."""
        batch: list = []
        for row in self.df.toLocalIterator(prefetchPartitions=True):
            batch.append(row)
            if len(batch) >= batch_rows:
                yield batch
                batch = []
        if batch:
            yield batch

    def explain(self, mode: str = "formatted"):
        return self.df.explain(mode)
