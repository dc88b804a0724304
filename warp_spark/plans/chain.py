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

Steps are plain dicts (kind + params), so chains serialize to/from JSON
like the reference's saved documents. Expressions may be given as Warp
formula strings (compiled via warp_spark.formula) or left as Spark SQL
expression strings.
"""

from __future__ import annotations

import json
from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warp_spark.aggregators import Aggregator
from warp_spark.dataset import Dataset, Order


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
        ds: Optional[Dataset] = None
        for st in self.steps:
            ds = self._apply(spark, ds, dict(st), example_rows)
        if ds is None:
            raise ValueError("chain has no steps")
        return ds

    def example_dataset(self, spark: SparkSession, max_input_rows: int = 500) -> Dataset:
        """The reference's sampled path (§3.2): truncate at the source,
        run the identical chain."""
        return self.full_dataset(spark, example_rows=max_input_rows)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        return self.full_dataset(spark).to_df()

    # -- step dispatch -----------------------------------------------------
    def _apply(
        self,
        spark: SparkSession,
        ds: Optional[Dataset],
        st: dict,
        example_rows: Optional[int],
    ) -> Dataset:
        kind = st.pop("kind")

        if kind == "source":
            from warp_spark.sources import preview_source, read_source

            fmt, options = st.get("format", "parquet"), st.get("options")
            if example_rows is not None:
                return Dataset(preview_source(spark, st["path"], example_rows, fmt, options))
            return Dataset(read_source(spark, st["path"], fmt, options))

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
            other = Chain(st["chain"]).full_dataset(spark, example_rows)
            return ds.join(other, on=_expr(st["on"]), how=st.get("how", "inner"))
        if kind == "union":
            other = Chain(st["chain"]).full_dataset(spark, example_rows)
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
