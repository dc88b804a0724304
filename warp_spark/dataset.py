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
from warp_spark.values import to_number  # noqa: F401  (used by rank windows)

ROW_ID = "__row_id"

ExprLike = Union[Column, str]


def _col(e: ExprLike) -> Column:
    """Accept a Column or a SQL expression string."""
    return F.expr(e) if isinstance(e, str) else e


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
        existing = {c.lower(): c for c in self.df.columns}
        keep = [existing[c.lower()] for c in columns if c.lower() in existing]
        if not keep:
            # empty selection → empty dataset (Data.swift:662-664)
            return Dataset(self.df.select().limit(0))
        return Dataset(self.df.select(*keep))

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
        cols = list(columns) if columns else list(self.df.columns)
        df = self.df
        id_cols = []
        if row_identifier is not None:
            df = df.withColumn(row_identifier_to, _col(row_identifier))
            id_cols = [row_identifier_to]
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
        clashing = {c.lower() for c in left.columns} & {c.lower() for c in right.columns}
        if all(c.lower() in clashing for c in right.columns):
            # "ineffective join" elimination, replicated deliberately: when
            # every right column name-clashes the join adds no columns, and
            # the reference passes left rows through unchanged — no
            # duplication from multi-matches, no filtering even for inner
            # (Raster.swift:383-389; Transformer.swift:793-796,822-825)
            return self
        right_kept = right  # keep clashing cols for the predicate, drop after
        joined = left.join(right_kept, on=_col(on) if not isinstance(on, list) else on, how=how)
        drop_cols = [right_kept[c] for c in right.columns if c.lower() in clashing]
        for dc in drop_cols:
            joined = joined.drop(dc)
        return Dataset(joined)

    def union(self, other: "Dataset") -> "Dataset":
        """UNION ALL with column alignment by name; missing cells → NULL
        (Data.swift:300-304 — explicitly "not SQL UNION")."""
        return Dataset(self.df.unionByName(other.df, allowMissingColumns=True))

    # reducers the distributed prefix-sum path can decompose (running
    # value = f(local running value within range partition, exclusive
    # prefix of per-partition totals))
    _PREFIX_REDUCERS = frozenset({"countAll", "count", "sum", "average", "min", "max"})
    # countDistinct distributes too, via a first-occurrence-marking
    # pre-pass (mark each value's first row in the total order, then
    # running-SUM the 0/1 markers through the same prefix machinery);
    # only concat/list remain window-only, and for those the OUTPUT is
    # O(n²) bytes — no partition strategy fixes byte volume, so the
    # single-task window is not what caps them at scale
    _GLOBAL_DISTRIBUTABLE = _PREFIX_REDUCERS | {"countDistinct"}

    def rank(
        self,
        ranks: Mapping[str, Aggregator],
        by: Sequence[Order],
        partition_by: Optional[Sequence[ExprLike]] = None,
        strategy: str = "auto",
        num_partitions: Optional[int] = None,
        max_window_rows: int = 100_000,
    ) -> "Dataset":
        """Running aggregates over sorted rows (Data.swift:306-311;
        window pushdown SQL.swift:1491-1537). ``partition_by`` is a scale
        extension: the reference computes one global running aggregate
        (single sequential reducer, Transformer.swift:476-547).

        Strategies for the *global* (no ``partition_by``) case:

        - ``"prefix"`` (chosen by ``"auto"`` whenever every reducer is
          decomposable): two-phase distributed prefix aggregation.
          Range-partition by the sort keys, compute the running aggregate
          *within* each partition with an ordinary window (parallel), then
          combine each row's local value with the exclusive prefix of the
          per-partition totals (one tiny N_partitions-row side table,
          broadcast back). No stage ever moves the full data to a single
          task — this is the 100 TB path. ``countDistinct`` rides the
          same path via a first-occurrence-marking pre-pass
          (``_rank_prefix_with_count_distinct``).
        - ``"window"``: single global window
          (``Window.orderBy(...).rowsBetween(unboundedPreceding,
          currentRow)``) — Spark serializes this into ONE task; kept only
          as the fallback for the reducers whose running OUTPUT is
          inherently O(n²) bytes (concat, list — no partition strategy
          fixes byte volume) and for differential-testing the prefix
          path.
        """
        # windowed variants of the reducers (plain aggregate functions —
        # the batch reducers in aggregators.py wrap them with group-level
        # null handling that cannot sit under .over())
        window_reducers = {
            "sum": lambda c: F.sum(to_number(c)),
            "average": lambda c: F.avg(to_number(c)),
            "min": F.min,
            "max": F.max,
            "count": lambda c: F.count(F.when(to_number(c).isNotNull(), 1)),
            "concat": lambda c: F.concat_ws("", F.collect_list(c.cast("string"))),
            "list": F.collect_list,
        }
        order_keys = self._order_columns(by) if by else [F.col(ROW_ID)]
        if (
            not partition_by
            and strategy in ("auto", "prefix")
            and all(a.reduce in self._GLOBAL_DISTRIBUTABLE for a in ranks.values())
        ):
            if any(a.reduce == "countDistinct" for a in ranks.values()):
                return self._rank_prefix_with_count_distinct(
                    ranks, order_keys, num_partitions
                )
            return self._rank_prefix(ranks, order_keys, num_partitions)
        if strategy == "prefix":
            bad = [n for n, a in ranks.items() if a.reduce not in self._GLOBAL_DISTRIBUTABLE]
            raise ValueError(f"reducers not prefix-decomposable: {bad}")
        if not partition_by:
            import warnings

            bad = [n for n, a in ranks.items() if a.reduce not in self._GLOBAL_DISTRIBUTABLE]
            reason = (
                f"reducers {bad} are not prefix-decomposable"
                if bad
                else "strategy='window' was forced (strategy='prefix' would distribute)"
            )
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
                    f"rank: un-partitioned global window ({reason}) over "
                    f"more than max_window_rows={max_window_rows} rows "
                    "would run on a single task; partition_by a key, use a "
                    "prefix-decomposable reducer, or raise max_window_rows "
                    "explicitly for genuinely small data"
                )
            warnings.warn(
                "rank: un-partitioned global window over the data — "
                f"{reason}, so the running aggregate runs on a single task; "
                "fine for preview-sized data, a bottleneck at scale",
                RuntimeWarning,
                stacklevel=2,
            )
        out = self.df
        cd_present = any(a.reduce == "countDistinct" for a in ranks.values())
        added_id = False
        if cd_present:
            # the marker window and the running-sum frame must resolve
            # ties from ONE total order (otherwise a tied row can see a
            # running count that excludes its own value) — extend the
            # sort keys with a row id, mirroring the prefix path
            if ROW_ID not in out.columns:
                out = out.withColumn(ROW_ID, F.monotonically_increasing_id())
                added_id = True
            order_keys = [*order_keys, F.col(ROW_ID)]
        base = Window.orderBy(*order_keys)
        if partition_by:
            base = Window.partitionBy(*[_col(p) for p in partition_by]).orderBy(*order_keys)
        framed = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cd_markers: list[str] = []
        for name, agg in ranks.items():
            if agg.reduce == "countAll":
                # simple rank = running countAll (QBERankStep.swift:107-122)
                c = F.row_number().over(base)
            elif agg.reduce == "countDistinct":
                # Spark rejects count(DISTINCT) as a window function
                # (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED), so even the
                # fallback uses first-occurrence marking: mark each
                # value's first row, running-sum the markers
                cval = agg._map_col()
                parts = [_col(p) for p in partition_by] if partition_by else []
                mw = Window.partitionBy(cval, *parts).orderBy(*order_keys)
                m = f"__cdw_{name}"
                out = out.withColumn(
                    m,
                    (cval.isNotNull() & (F.row_number().over(mw) == 1)).cast("long"),
                )
                cd_markers.append(m)
                c = F.sum(F.col(m)).over(framed)
            elif agg.reduce in window_reducers:
                c = window_reducers[agg.reduce](agg._map_col()).over(framed)
            else:
                raise ValueError(f"reducer {agg.reduce!r} not supported as running aggregate")
            out = out.withColumn(name, c)
        drop = cd_markers + ([ROW_ID] if added_id else [])
        return Dataset(out.drop(*drop))

    def _rank_prefix_with_count_distinct(
        self,
        ranks: Mapping[str, Aggregator],
        order_keys: Sequence[Column],
        num_partitions: Optional[int],
    ) -> "Dataset":
        """Distributed global running countDistinct: mark each value's
        FIRST occurrence in the total order (a value-partitioned window
        — one hash shuffle on the value, state = one row_number), then
        running-SUM the 0/1 markers through the standard two-phase
        prefix path.  The running sum of first-occurrence markers at
        row r is exactly the number of distinct non-null values among
        rows ≤ r.

        Consistency requires ONE total order shared by the marker pass
        and the prefix pass, so the sort keys are extended with a row
        id (attached here if absent — arbitrary but FIXED, the same
        role physical row order plays in the single-window fallback's
        tie behavior) and the whole lineage is pinned by the prefix
        path's persist.  Skew bound: the marker window colocates the
        hottest value's rows, but carries only (value, keys, id) —
        at 100 TB that is the narrow projection, not the data."""
        df = self.df
        added_id = ROW_ID not in df.columns
        if added_id:
            df = df.withColumn(ROW_ID, F.monotonically_increasing_id())
        full_keys = [*order_keys, F.col(ROW_ID)]
        markers: dict[str, Column] = {}
        for name, agg in ranks.items():
            if agg.reduce == "countDistinct":
                c = agg._map_col()
                w = Window.partitionBy(c).orderBy(*full_keys)
                markers[f"__cd_{name}"] = (
                    c.isNotNull() & (F.row_number().over(w) == 1)
                ).cast("long")
        out = Dataset(df.withColumns(markers))._rank_prefix(
            ranks, full_keys, num_partitions
        )
        drop = list(markers) + ([ROW_ID] if added_id else [])
        return Dataset(out.df.drop(*drop))

    def _rank_prefix(
        self,
        ranks: Mapping[str, Aggregator],
        order_keys: Sequence[Column],
        num_partitions: Optional[int],
    ) -> "Dataset":
        """Distributed global running aggregate: range-partition on the
        sort keys, window *within* each partition, then add the exclusive
        prefix of per-partition totals. Equivalent to the global window
        for every decomposable reducer, but every stage is parallel."""
        df = self.df
        spark = df.sparkSession
        n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        pid = "__rank_pid"
        # The plan branches below (row-level windows + the tiny per-partition
        # totals) — the branch point MUST be pinned: repartitionByRange
        # samples its boundaries per materialization, so without a persist
        # the two branches can land rows in different partitions and the
        # offsets would not line up with the local running values.
        ranged = (
            df.repartitionByRange(n, *order_keys)
            .withColumn(pid, F.spark_partition_id())
            .persist()
        )
        wrow = Window.partitionBy(pid).orderBy(*order_keys)
        wframe = wrow.rowsBetween(Window.unboundedPreceding, Window.currentRow)

        helpers: dict[str, Column] = {}  # local (within-partition) running values
        totals: list[Column] = []  # per-partition totals feeding the offsets
        prefix_fns: dict[str, Column.__class__] = {}  # helper -> combiner over totals
        finals: dict[str, Column] = {}  # output expression per rank column

        def add(helper: str, win: Column, tot: Column, prefix_fn) -> tuple[Column, Column]:
            helpers[helper] = win
            totals.append(tot.alias(f"__t_{helper}"))
            prefix_fns[helper] = prefix_fn
            return F.col(helper), F.col(f"__o_{helper}")

        for name, agg in ranks.items():
            c = agg._map_col()
            num = to_number(c)
            kind = agg.reduce
            h = f"__h_{name}"
            if kind == "countAll":
                local, off = add(h, F.row_number().over(wrow), F.count(F.lit(1)), F.sum)
                finals[name] = local + F.coalesce(off, F.lit(0))
            elif kind == "count":
                cnt = F.count(F.when(num.isNotNull(), 1))
                local, off = add(h, cnt.over(wframe), cnt, F.sum)
                finals[name] = local + F.coalesce(off, F.lit(0))
            elif kind == "countDistinct":
                # running sum of the 0/1 first-occurrence markers built
                # by _rank_prefix_with_count_distinct (LONG, not the
                # to_number double path — the fallback returns long)
                m = F.sum(F.col(f"__cd_{name}"))
                local, off = add(h, m.over(wframe), m, F.sum)
                finals[name] = (local + F.coalesce(off, F.lit(0))).cast("long")
            elif kind == "sum":
                local, off = add(h, F.sum(num).over(wframe), F.sum(num), F.sum)
                finals[name] = F.when(
                    local.isNull() & off.isNull(), F.lit(None)
                ).otherwise(F.coalesce(local, F.lit(0)) + F.coalesce(off, F.lit(0)))
            elif kind in ("min", "max"):
                fn = F.min if kind == "min" else F.max
                comb = F.least if kind == "min" else F.greatest  # both skip NULLs
                local, off = add(h, fn(c).over(wframe), fn(c), fn)
                finals[name] = comb(local, off)
            elif kind == "average":
                s = F.sum(num)
                cnt = F.count(num)
                ls, os_ = add(f"{h}_s", s.over(wframe), s, F.sum)
                lc, oc = add(f"{h}_c", cnt.over(wframe), cnt, F.sum)
                tot_c = lc + F.coalesce(oc, F.lit(0))
                tot_s = F.coalesce(ls, F.lit(0.0)) + F.coalesce(os_, F.lit(0.0))
                finals[name] = F.when(tot_c > 0, tot_s / tot_c)
            else:  # pragma: no cover — guarded by _PREFIX_REDUCERS
                raise AssertionError(kind)

        local_df = ranged.withColumns(helpers)
        # exclusive prefix over the per-partition totals: N_partitions rows
        # total, so the single-partition window here is over a side table of
        # at most a few thousand rows — not the data
        totals_df = ranged.groupBy(pid).agg(*totals)
        ow = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
        offsets = totals_df.select(
            pid,
            *[
                prefix_fns[helper](F.col(f"__t_{helper}")).over(ow).alias(f"__o_{helper}")
                for helper in helpers
            ],
        )
        out = local_df.join(F.broadcast(offsets), pid, "left").withColumns(finals)
        drop = [pid, *helpers.keys(), *[f"__o_{helper}" for helper in helpers]]
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
        cols = columns or self.df.columns
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
