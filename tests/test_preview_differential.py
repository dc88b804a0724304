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

The same holds after a join or union prefix, which a preview plans
over the prefix's memo (warp_spark.plans.chain): every step kind after
an inner join, a union and a self-join, at preview sizes asked out of
order, gives the rows of the plain fold at that size.

Rows are compared with ``tools/check_correctness.normalize_rows`` after
rounding floats to 12 significant digits: a local relation is split into
other partitions than the file scan, and a memo holds its rows in
another order, so a double sum may differ in its last ulp.
"""

from __future__ import annotations

import os
import sys

import pytest

import warp_spark.plans.chain as chain_module
from warp_spark.dataset import SAMPLE_INDEX
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


@pytest.fixture(scope="module")
def dim(spark, tmp_path_factory):
    """15 rows keyed 14..0: the keys 0..4 of ``src`` find their row only
    past the first 10."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = list(range(14, -1, -1))
    table = pa.table({
        "dk": pa.array(keys, pa.int64()),
        "label": pa.array([None if k == 3 else f"L{k}" for k in keys]),
    })
    p = str(tmp_path_factory.mktemp("preview") / "dim.parquet")
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


def _both(spark, plain_reads, sql_plans, steps, drop=()):
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
    with plain_reads():
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


def _fill(steps, path, dim=""):
    import json

    return json.loads(json.dumps(steps).replace("{src}", path).replace("{dim}", dim))


@pytest.mark.parametrize("name", sorted(STEPS))
def test_preview_rows_match_plain_truncated_read(spark, plain_reads, sql_plans, src, name):
    steps = [step("source", path=src)] + _fill(STEPS[name], src)
    # crawl measures each fetch's duration, which no two runs share
    drop = ("duration_ms",) if name == "crawl" else ()
    got, want = _both(spark, plain_reads, sql_plans, steps, drop)
    assert got == want
    assert got[1]  # every chain above keeps some rows


def test_random_step_preview_row_counts_match(spark, plain_reads, sql_plans, src):
    for seed in (None, 7):
        steps = [step("source", path=src), step("random", n=12, seed=seed)]
        got, want = _both(spark, plain_reads, sql_plans, steps)
        assert len(got[1]) == len(want[1]) == 12


def test_sequencer_chain_previews_alike(spark, plain_reads, sql_plans):
    got, want = _both(spark, plain_reads, sql_plans, [step("sequencer", pattern="[ab]{3}")])
    assert got == want and len(got[1]) == 8


def test_every_dispatched_step_kind_is_covered():
    import inspect
    import re

    kinds = set(re.findall(r'kind == "(\w+)"', inspect.getsource(Chain._apply)))
    covered = {"source", "sequencer", "random"} | {
        st["kind"] for steps in STEPS.values() for st in steps
    }
    assert kinds <= covered, kinds - covered


PREFIXES = {
    "inner_join": [step("join", chain=[step("source", path="{dim}")], on="k = dk")],
    "union": STEPS["union"],
    "self_join": STEPS["self_join"],
}


@pytest.mark.parametrize("name", sorted(STEPS))
@pytest.mark.parametrize("prefix", sorted(PREFIXES))
def test_previews_over_a_prefix_memo_match_plain_read(
    spark, plain_reads, memo_cuts, src, dim, prefix, name
):
    steps = [step("source", path=src)] + _fill(PREFIXES[prefix] + STEPS[name], src, dim)
    drop = ("duration_ms",) if name == "crawl" else ()
    ch = Chain(steps)
    for n in (SAMPLE_N, 10, 40, 25):
        local = ch.example_dataset(spark, max_input_rows=n).to_df()
        assert not [c for c in local.columns if c.startswith(SAMPLE_INDEX)]
        got = _rows(local, drop)
        with plain_reads():
            want = _rows(ch.example_dataset(spark, max_input_rows=n).to_df(), drop)
        assert got == want, n
    # the first preview read the samples at SAMPLE_N if they were smaller
    assert memo_cuts[-3:] == [10, 40, 25]


ROW_WISE = sorted(
    name for name, steps in STEPS.items() if steps and all(map(chain_module._row_wise, steps))
)


@pytest.mark.parametrize("name", ROW_WISE)
def test_row_wise_steps_inside_a_memo_prefix_match_plain_read(
    spark, plain_reads, memo_cuts, src, name
):
    """The steps run inside the memo fill, over the samples' hidden
    index columns, and a union ends the prefix."""
    steps = [step("source", path=src)] + _fill(STEPS[name], src) + [
        step("union", chain=[step("source", path=src)])]
    ch = Chain(steps)
    for n in (SAMPLE_N, 10, 40, 25):
        local = ch.example_dataset(spark, max_input_rows=n).to_df()
        assert not [c for c in local.columns if c.startswith(SAMPLE_INDEX)]
        got = _rows(local)
        with plain_reads():
            want = _rows(ch.example_dataset(spark, max_input_rows=n).to_df())
        assert got == want, n
    assert memo_cuts[-3:] == [10, 40, 25]


def test_ineffective_join_passes_left_rows_through_a_memo(spark, plain_reads, memo_cuts, src):
    """Every right column clashes with a left one, so the join passes
    the left rows through; the right's index column does not count."""
    steps = [step("source", path=src),
             step("join", chain=[step("source", path=src)], on="k = k"),
             step("aggregate", groups={"g": "g"}, values={"n": {"map": "k", "reduce": "countAll"}})]
    ch = Chain(steps)
    for n in (SAMPLE_N, 30):
        got = _rows(ch.example_dataset(spark, max_input_rows=n).to_df())
        with plain_reads():
            want = _rows(ch.example_dataset(spark, max_input_rows=n).to_df())
        assert got == want
        assert sum(r[1] for r in got[1]) == n
    assert memo_cuts[-1] == 30
