"""Previews over the driver-local sample give the rows of a plain
truncated read.

For every step kind ``Chain._apply`` dispatches, the preview of a chain
(each source a local relation over the session's sample,
warp_spark.sources.parquet) is compared with the same chain folded over
``read_source(path).limit(n)``. The source holds NULLs and Warp's
invalid values (text where a number is expected, NaN, a zero divisor)
and a ``__row_id`` column, which the order-dependent steps (limit,
offset, rank without an order) fall back to. Sources are single files,
so the plain read's first ``n`` rows are the sample's.

Rows are compared with ``tools/check_correctness.normalize_rows`` after
rounding floats to 12 significant digits: a local relation is split into
other partitions than the file scan, so a double sum may differ in its
last ulp.
"""

from __future__ import annotations

import os
import sys

import pytest

import warp_spark.sources as sources
from warp_spark.plans import Chain, step

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import normalize_rows  # noqa: E402

N = 40  # preview rows; the sample is read at SAMPLE_N first
SAMPLE_N = 60


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 100
    words = ["12", "abc", "", None, "7.5", "-3"]
    table = pa.table({
        "__row_id": pa.array(range(n), pa.int64()),
        "k": pa.array([None if i % 9 == 0 else i % 7 for i in range(n)], pa.int64()),
        "g": pa.array([None if i % 11 == 0 else "abc"[i % 3] for i in range(n)]),
        "x": pa.array([None if i % 8 == 0 else float("nan") if i % 13 == 0 else i * 1.1 - 30
                       for i in range(n)], pa.float64()),
        "s": pa.array([words[i % len(words)] for i in range(n)]),
        "tags": pa.array([None if i % 10 == 0 else ",".join("pqr"[: 1 + i % 3]) for i in range(n)]),
        "url": pa.array([f"http://example.invalid/{i % 4}" for i in range(n)]),
    })
    p = str(tmp_path_factory.mktemp("preview") / "src.parquet")
    pq.write_table(table, p)
    return p


def _round(v):
    if isinstance(v, float) and v == v and v not in (float("inf"), float("-inf")):
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return type(v)(_round(x) for x in v)
    return v


def _rows(df, drop=()):
    cols = [c for c in df.columns if c not in drop]
    rows = [tuple(_round(r[c]) for c in cols) for r in df.collect()]
    return normalize_rows(cols, rows)


def _both(spark, monkeypatch, sql_plans, steps, drop=()):
    """(local-path rows, plain-read rows) of the preview of ``steps``."""
    ch = Chain(steps)
    ch.example_dataset(spark, max_input_rows=SAMPLE_N).to_df().collect()

    ranked = any(s["kind"] == "rank" for s in steps)
    # a rank step's analyzed plan starts at its pin's LogicalRDD, so the
    # source shows in the pin's plan (a LocalTableScan), not in the
    # analyzed one (a LocalRelation)
    local_source = "LocalTableScan" if ranked else "LocalRelation"

    def preview():
        df, ran = sql_plans(lambda: ch.example_dataset(spark, max_input_rows=N).to_df())
        return df, ran if ranked else df._jdf.queryExecution().analyzed().toString()

    local, plan = preview()
    if steps[0]["kind"] == "source" and steps[-1]["kind"] != "transpose":  # transpose collects
        assert local_source in plan
    got = _rows(local, drop)
    with monkeypatch.context() as m:
        m.setattr(
            sources,
            "preview_source",
            lambda spark, path, rows, fmt="parquet", options=None: sources.read_source(
                spark, path, fmt, options
            ).limit(rows),
        )
        plain, plan = preview()
    assert local_source not in plan
    return got, _rows(plain, drop)


AGG = {"map": "x", "reduce": "sum"}

STEPS = {
    "source": [],
    "filter": [step("filter", condition="=[x] > 2")],
    "filter_invalid": [step("filter", condition="=[s] > 5")],
    "calculate": [step("calculate", calculations={
        "y": "=[s] * 2", "z": "=[x] / [k]", "t": "=[g] & [s]", "u": "k + 1"})],
    "select_columns": [step("select_columns", columns=["g", "s"])],
    "rename": [step("rename", mapping={"g": "group", "s": "text"})],
    "limit": [step("limit", n=7)],
    "offset": [step("offset", n=5)],
    "distinct": [step("select_columns", columns=["g", "k"]), step("distinct")],
    "sort": [step("sort", orders=[{"expression": "x", "ascending": False}]), step("limit", n=9)],
    "sort_formula": [step("sort", orders=[{"expression": "=[s]", "numeric": False}])],
    "aggregate": [step("aggregate", groups={"g": "=[g]"}, values={
        "n": {"map": "k", "reduce": "countAll"}, "total": AGG,
        "avg": {"map": "=[x] * 2", "reduce": "average"}})],
    "pivot": [step("pivot", horizontal="g", vertical=["k"], values={"total": AGG},
                   horizontal_values=["a", "b", "c"])],
    "flatten": [step("flatten", columns=["g", "s"])],
    "self_join": [step("calculate", calculations={"k1": "__row_id"}), step("join", chain=[
        step("source", path="{src}"),
        step("calculate", calculations={"k2": "__row_id", "x2": "=[x] * 2"}),
    ], on="k1 = k2")],
    "union": [step("union", chain=[step("source", path="{src}"), step("filter", condition="k > 3")])],
    "rank_row_id": [step("rank", ranks={"running": AGG})],
    "rank_ordered": [step("rank", ranks={"running": {"map": "k", "reduce": "count"}},
                          by=[{"expression": "x", "ascending": True}])],
    "transpose": [step("select_columns", columns=["__row_id", "g", "s"]), step("limit", n=5),
                  step("transpose")],
    "explode_vertical": [step("explode_vertical", column="tags", separator=",")],
    "explode_horizontal": [step("explode_horizontal", column="tags", separator=",", n=2)],
    "dummies": [step("dummies", column="g", values=["a", "b"])],
    "dummies_found": [step("dummies", column="g")],
    "search": [step("search", query="B")],
    "filter_set": [step("filter_set", column="g", values=["a", "c"])],
    "crawl": [step("crawl", url_column="url")],
    "cache": [step("filter", condition="=[k] >= 3"), step("cache")],
    "debug": [step("calculate", calculations={"y": "=[x] + 1"}), step("debug")],
}


def _fill(steps, path):
    import json

    return json.loads(json.dumps(steps).replace("{src}", path))


@pytest.mark.parametrize("name", sorted(STEPS))
def test_preview_rows_match_plain_truncated_read(spark, monkeypatch, sql_plans, src, name):
    steps = [step("source", path=src)] + _fill(STEPS[name], src)
    # crawl measures each fetch's duration, which no two runs share
    drop = ("duration_ms",) if name == "crawl" else ()
    got, want = _both(spark, monkeypatch, sql_plans, steps, drop)
    assert got == want
    assert got[1]  # every chain above keeps some rows


def test_random_step_preview_row_counts_match(spark, monkeypatch, sql_plans, src):
    for seed in (None, 7):
        steps = [step("source", path=src), step("random", n=12, seed=seed)]
        got, want = _both(spark, monkeypatch, sql_plans, steps)
        assert len(got[1]) == len(want[1]) == 12


def test_sequencer_chain_previews_alike(spark, monkeypatch, sql_plans):
    got, want = _both(spark, monkeypatch, sql_plans, [step("sequencer", pattern="[ab]{3}")])
    assert got == want and len(got[1]) == 8


def test_every_dispatched_step_kind_is_covered():
    import inspect
    import re

    kinds = set(re.findall(r'kind == "(\w+)"', inspect.getsource(Chain._apply)))
    covered = {"source", "sequencer", "random"} | {
        st["kind"] for steps in STEPS.values() for st in steps
    }
    assert kinds <= covered, kinds - covered
