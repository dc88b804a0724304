"""The chain-of-steps layer: the reference's primary query lifecycle.

Reference: a document holds chains of steps (QBEChain.swift:15-145,
QBEStep.swift:47-151); ``step.fullDataset`` folds each step's ``apply``
over its predecessor's output (QBEStep.swift:118-133), and
``exampleDataset`` runs the same chain over a truncated source
(QBEStep.swift:98-116, §3.2).

Spark-first: a ``Chain`` is a declarative list of step descriptors that
compiles onto the ``Dataset`` algebra — Catalyst sees ONE logical plan
for the whole chain, so cross-step optimization (filter pushdown through
calculates, projection pruning, limit combining — everything the
reference's CoalescedDataset did by hand, Data.swift:375-755) is free.

Previews (``example_dataset``) read each parquet, csv or json source
through a per-session, driver-local sample (warp_spark.sources.parquet):
the first ``N`` rows, ``N`` the largest preview size asked for so far,
read once per file version. The source rows of a preview therefore stay
the same from one edit to the next, and the sample is refreshed when the
file changes (like the reference's example cache,
QBECacheStep.swift:100-140). Each preview is a local relation over the
first ``n`` of those rows, which Catalyst folds projections, filters
and limits into without a Spark job. Full runs read the file itself.

**Prefix memo.** A copy of every sample carries a hidden row index
that grows with the row's position in the sample. For row-wise steps,
inner joins and unions, the chain over the first ``n`` rows of every
source equals the chain over the first ``N`` rows cut to the rows whose
every index is below the ``n``-th row's (a union row has no index from the other
side). So a preview materializes the longest prefix of row-wise steps
that ends in a join or union once, at ``N``: its rows stay in the JVM
(``collectAsList``), kept per session under the prefix's steps JSON and
the samples it was computed from. A preview at any ``n <= N`` is a new
local relation over those rows, cut on the indexes, the index columns
dropped; only the steps after the prefix are planned on top of it, over
one partition when one of them shuffles (an aggregate, pivot or sort
then runs as one job, not one per stage). A prefix that extends a
kept shorter one starts from its rows. The preview falls back to the
plain fold, which returns the same rows, when:

- no prefix qualifies: a left join, or a step that is not row-wise
  (``crawl``, ``limit``, ``offset``, ``random``, ``distinct``, ``sort``,
  ``aggregate``, ``pivot``, ``rank``, ``transpose``, ``sequencer``,
  ``dummies`` that finds its values) comes before the first join or
  union, or a step is not JSON;
- a source of the prefix has no sample of its current file version read
  for at least ``n`` rows (``n > N``; the fold reads it);
- the prefix's plan is nondeterministic, it fails, or it holds more than
  ``_MEMO_MAX_ROWS`` rows (such a prefix is remembered and not run again).

Steps are plain dicts (kind + params), so chains serialize to/from JSON
like the reference's saved documents. Expressions may be given as Warp
formula strings (compiled via warp_spark.formula) or left as Spark SQL
expression strings.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Iterator, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator
from warp_spark.dataset import SAMPLE_INDEX, Dataset, Order

# a prefix with more rows is not kept: Catalyst would fold the steps
# after it over that many rows on the driver, interpreted
_MEMO_MAX_ROWS = 20_000

# steps whose output row for an input row depends on that row alone
_ROW_WISE = frozenset({
    "filter", "calculate", "select_columns", "rename", "flatten", "explode_vertical",
    "explode_horizontal", "search", "filter_set", "cache", "debug",
})


def step(kind: str, **params) -> dict:
    """Build a step descriptor; chains are lists of these."""
    return {"kind": kind, **params}


def _expr(e) -> Column:
    """Expression resolution: '=...' → Warp formula; str → SQL expr;
    Column passes through. (The '=' prefix is the reference's formula
    marker, Formula.swift:24.)"""
    if isinstance(e, Column):
        return e
    if isinstance(e, str) and e.startswith("="):
        from warp_spark.formula import formula

        return formula(e)
    return F.expr(e)


def _orders(specs) -> list[Order]:
    out = []
    for s in specs:
        if isinstance(s, Order):
            out.append(s)
        elif isinstance(s, str):
            out.append(Order(_expr(s)))
        else:
            out.append(
                Order(
                    _expr(s["expression"]),
                    ascending=s.get("ascending", True),
                    numeric=s.get("numeric", True),
                )
            )
    return out


def _aggs(specs: Mapping) -> dict[str, Aggregator]:
    out = {}
    for name, a in specs.items():
        if isinstance(a, Aggregator):
            out[name] = a
        else:
            out[name] = Aggregator(
                _expr(a["map"]), a["reduce"], a.get("minimum_count")
            )
    return out


def _row_wise(st: dict) -> bool:
    kind = st["kind"]
    if kind == "dummies":  # without values it finds them over all rows
        return st.get("values") is not None
    if kind == "join" and st.get("how", "inner") != "inner":
        return False
    if kind in ("join", "union"):
        sub = st["chain"]
        return bool(sub) and sub[0]["kind"] == "source" and all(map(_row_wise, sub[1:]))
    return kind in _ROW_WISE


def _prefix_cuts(steps: Sequence[dict]) -> list[int]:
    """The lengths of the row-wise prefixes of ``steps`` that end in a
    join or union, shortest first."""
    cuts: list[int] = []
    if not steps or steps[0]["kind"] != "source":
        return cuts
    for i, st in enumerate(steps[1:], 2):
        if not _row_wise(st):
            break
        if st["kind"] in ("join", "union"):
            cuts.append(i)
    return cuts


def _sources(steps: Sequence[dict]) -> Iterator[dict]:
    """The source steps in the order a fold reads them."""
    for st in steps:
        if st["kind"] == "source":
            yield st
        elif st["kind"] in ("join", "union"):
            yield from _sources(st["chain"])


@dataclass
class _Prefix:
    """A prefix's rows at the samples' N, one SAMPLE_INDEX_<i> column
    per source ``samples[i]`` still in them; ``rows`` None marks a
    prefix that is not kept (see the module docstring)."""

    samples: tuple
    rows: Any = None  # java.util.List[Row]
    schema: Any = None  # the JVM StructType of the rows

    def frame(self, spark: SparkSession, n: Optional[int] = None) -> DataFrame:
        """A new local relation over the rows: all of them with their
        indexes, or those of the first ``n`` rows of every source
        without."""
        df = DataFrame(spark._jsparkSession.createDataFrame(self.rows, self.schema), spark)
        if n is None:
            return df
        index = [c for c in df.columns if c.startswith(SAMPLE_INDEX)]
        cuts = []
        for c in index:
            bound = self.samples[int(c[len(SAMPLE_INDEX) + 1:])].bound(n)
            if bound is not None:
                cuts.append(F.col(c).isNull() | (F.col(c) < bound))
        if cuts:
            df = df.filter(reduce(lambda a, b: a & b, cuts))
        return df.drop(*index)


def _source_reader(spark: SparkSession, rows: Optional[int]) -> Callable[[dict], DataFrame]:
    """A source step's frame: the file, or a preview of its first ``rows``."""
    from warp_spark.sources import preview_source, read_source

    def read(st: dict) -> DataFrame:
        fmt, options = st.get("format", "parquet"), st.get("options")
        if rows is None:
            return read_source(spark, st["path"], fmt, options)
        return preview_source(spark, st["path"], rows, fmt, options)

    return read


def _memo_preview(spark: SparkSession, steps: Sequence[dict], n: int) -> Optional[Dataset]:
    """The preview of ``steps`` at ``n`` over the memo of its longest
    qualifying prefix (filled here if missing), or None to fall back
    to the plain fold."""
    from warp_spark.sources import current_sample
    from warp_spark.sources.parquet import session_reads

    cuts = _prefix_cuts(steps)
    if not cuts:
        return None
    samples = tuple(
        current_sample(spark, st["path"], n, st.get("format", "parquet"), st.get("options"))
        for st in _sources(steps[: cuts[-1]])
    )
    if None in samples:
        return None
    try:
        keys = [json.dumps(steps[:c], sort_keys=True) for c in cuts]
    except TypeError:  # a Column or other object in a step
        return None
    memo = session_reads(spark)
    kept = [memo.prefix(k) for k in keys]
    # a memo holds while its sources' samples are the current ones
    kept = [p if p is not None and p.samples == samples[: len(p.samples)] else None for p in kept]
    end = kept[-1]
    if end is None:
        end = _fill(spark, steps, cuts, samples, kept)
        memo.keep_prefix(keys[-1], end)
    if end.rows is None:
        return None
    df = end.frame(spark, n)
    if not all(map(_row_wise, steps[cuts[-1]:])):
        # a bounded relation: one partition spares a shuffle per stage
        df = df.coalesce(1)
    return _fold(spark, steps[cuts[-1]:], n, _source_reader(spark, n), Dataset(df))


def _fill(
    spark: SparkSession, steps: Sequence[dict], cuts: list[int], samples: tuple, kept: list
) -> _Prefix:
    """The prefix ``steps[:cuts[-1]]`` over the whole ``samples``, run
    from the longest shorter prefix ``kept``, if any."""
    start, ds, first = 0, None, 0
    for cut, p in zip(cuts[-2::-1], kept[-2::-1]):
        if p is not None and p.rows is not None:
            start, ds, first = cut, Dataset(p.frame(spark)), len(p.samples)
            break
    at = iter(range(first, len(samples)))

    def read(st: dict) -> DataFrame:
        i = next(at)
        return samples[i].frame(spark, index=f"{SAMPLE_INDEX}_{i}")

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    out = _Prefix(samples)
    jdf = _fold(spark, steps[start: cuts[-1]], None, read, ds).to_df()._jdf
    try:
        if jdf.queryExecution().analyzed().deterministic():
            rows = jdf.collectAsList()
            if rows.size() <= _MEMO_MAX_ROWS:
                out.rows, out.schema = rows, jdf.schema()
    except (PySparkException, Py4JJavaError):
        # a row past the first n may fail a cast or a check; the plain
        # fold at n raises the error if it is one of the preview's own
        pass
    return out


def _fold(
    spark: SparkSession,
    steps: Sequence[dict],
    example_rows: Optional[int],
    read: Callable[[dict], DataFrame],
    ds: Optional[Dataset] = None,
) -> Dataset:
    """QBEStep.fullDataset: each step's ``apply`` over its
    predecessor's output, from ``ds``; ``read`` gives each source."""
    for st in steps:
        ds = Chain._apply(spark, ds, dict(st), example_rows, read)
    if ds is None:
        raise ValueError("chain has no steps")
    return ds


class Chain:
    """An ordered list of steps; the last step's output is the chain's
    output (QBEChain semantics). ``source`` steps start a dataset,
    every other step transforms its predecessor's."""

    def __init__(self, steps: Optional[Sequence[dict]] = None):
        self.steps: list[dict] = list(steps or [])

    # -- authoring ---------------------------------------------------------
    def add(self, kind: str, **params) -> "Chain":
        self.steps.append(step(kind, **params))
        return self

    # -- persistence (reference: saved documents) --------------------------
    def to_json(self) -> str:
        return json.dumps({"steps": self.steps}, indent=2)

    @staticmethod
    def from_json(text: str) -> "Chain":
        return Chain(json.loads(text)["steps"])

    # -- execution (QBEStep.fullDataset fold) ------------------------------
    def full_dataset(self, spark: SparkSession, example_rows: Optional[int] = None) -> Dataset:
        return _fold(spark, self.steps, example_rows, _source_reader(spark, example_rows))

    def example_dataset(self, spark: SparkSession, max_input_rows: int = 500) -> Dataset:
        """The reference's sampled path (§3.2): truncate at the source,
        run the identical chain. A chain with a join or union is planned
        over its prefix memo (see the module docstring); a memo fill
        runs the prefix's Spark jobs here, at build, not at the action."""
        memo = _memo_preview(spark, self.steps, max_input_rows)
        return memo if memo is not None else self.full_dataset(spark, example_rows=max_input_rows)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        return self.full_dataset(spark).to_df()

    # -- step dispatch -----------------------------------------------------
    @staticmethod
    def _apply(
        spark: SparkSession,
        ds: Optional[Dataset],
        st: dict,
        example_rows: Optional[int],
        read: Callable[[dict], DataFrame],
    ) -> Dataset:
        kind = st.pop("kind")

        if kind == "source":
            return Dataset(read(st))

        if kind == "sequencer":
            from warp_spark.sequencer import sequencer_dataframe

            out = Dataset(
                sequencer_dataframe(spark, st["pattern"], st.get("column", "value"))
            )
            if example_rows is not None:
                out = out.limit(example_rows)
            return out

        if ds is None:
            raise ValueError(f"step {kind!r} has no upstream source")

        if kind == "filter":
            return ds.filter(_expr(st["condition"]))
        if kind == "calculate":
            return ds.calculate({k: _expr(v) for k, v in st["calculations"].items()})
        if kind == "select_columns":
            return ds.select_columns(st["columns"])
        if kind == "rename":
            return ds.rename(st["mapping"])
        if kind == "limit":
            return ds.limit(st["n"])
        if kind == "offset":
            return ds.offset(st["n"])
        if kind == "random":
            return ds.random(st["n"], seed=st.get("seed"))
        if kind == "distinct":
            return ds.distinct()
        if kind == "sort":
            return ds.sort(_orders(st["orders"]))
        if kind == "aggregate":
            return ds.aggregate(
                {k: _expr(v) for k, v in st.get("groups", {}).items()},
                _aggs(st.get("values", {})),
            )
        if kind == "pivot":
            return ds.pivot(
                st["horizontal"],
                st["vertical"],
                _aggs(st["values"]),
                horizontal_values=st.get("horizontal_values"),
            )
        if kind == "flatten":
            return ds.flatten(
                value_to=st.get("value_to", "value"),
                column_name_to=st.get("column_name_to", "column"),
                columns=st.get("columns"),
            )
        if kind == "join":
            other = _fold(spark, st["chain"], example_rows, read)
            return ds.join(other, on=_expr(st["on"]), how=st.get("how", "inner"))
        if kind == "union":
            other = _fold(spark, st["chain"], example_rows, read)
            return ds.union(other)
        if kind == "rank":
            return ds.rank(_aggs(st["ranks"]), _orders(st.get("by", [])))
        if kind == "transpose":
            return ds.transpose()
        if kind == "explode_vertical":
            return ds.explode_vertical(st["column"], separator=st.get("separator"))
        if kind == "explode_horizontal":
            return ds.explode_horizontal(
                st["column"], st["separator"], st["n"], keep_source=st.get("keep_source", False)
            )
        if kind == "dummies":
            return ds.dummies(st["column"], values=st.get("values"))
        if kind == "search":
            return ds.search(st["query"], columns=st.get("columns"))
        if kind == "filter_set":
            return ds.filter_set(st["column"], st["values"])
        if kind == "crawl":
            from warp_spark.crawl import crawl

            return Dataset(
                crawl(
                    ds.to_df(),
                    st["url_column"],
                    max_requests_per_second=st.get("max_requests_per_second"),
                )
            )
        if kind == "cache":
            return ds.cache()
        if kind == "debug":  # force materialization (QBEDebugStep)
            cached = ds.cache()
            cached.to_df().count()
            return cached

        raise ValueError(f"unknown step kind {kind!r}")
