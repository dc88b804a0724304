"""Every un-partitioned window in ``warp_spark/`` has a stated bound.

A window with no PARTITION BY runs on one task over its whole input
(Spark logs "No Partition Defined for Window"): fine over a small side
table, a scale hazard over data. The scan finds every window spec built
without partition keys — ``Window.orderBy``, ``Window.rowsBetween`` /
``rangeBetween``, ``Window.partitionBy()``, and ``Window.partitionBy(*keys)``
whose keys may be empty — and requires its function to be listed in
``ALLOWED`` with the number of such specs and the bound on the rows they
see. A new site fails until its bound is written down here.
"""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent

# (file, function) -> (un-partitioned window specs, rows each one sees)
ALLOWED = {
    ("warp_spark/asof.py", "_directional_match"): (
        1, "partitioned by the `by` keys; with none, the whole union of both sides"
    ),
    ("warp_spark/catalog.py", "events_changepoint_cusum"): (1, "≤ |hours| rows"),
    ("warp_spark/catalog.py", "orders_open_backlog"): (1, "≤ |days| rows"),
    ("warp_spark/catalog.py", "stats_chisq_priority_status"): (
        1, "≤ |priorities| × |statuses| rows"
    ),
    ("warp_spark/catalog.py", "stats_runs_test_daily_orders"): (3, "≤ |days| rows"),
    ("warp_spark/catalog.py", "text_rake_keywords"): (1, "15 rows (after limit)"),
    ("warp_spark/dataset.py", "rank"): (
        2,
        "global concat/list window: ≤ max_window_rows rows, else it raises; "
        "partition_by spec: non-empty keys on that branch",
    ),
    ("warp_spark/median.py", "grouped_median"): (
        2, "partitioned by group_cols, which must be non-empty (ValueError)"
    ),
    ("warp_spark/pipeline/text.py", "dsir_importance"): (1, "≤ buckets rows"),
    ("warp_spark/pipeline/text.py", "source_token_kl"): (
        1, "≤ |groups| × |vocab| rows"
    ),
    ("warp_spark/pipeline/text.py", "zipf_spectrum"): (2, "≤ k rows (after limit)"),
    ("warp_spark/prefix.py", "running"): (
        2, "the totals side table: ≤ |groups| × partitions rows"
    ),
    ("warp_spark/sampling.py", "epoch_allocation"): (2, "≤ |sources| rows"),
    ("warp_spark/sampling.py", "rebalance_weights"): (3, "≤ |groups| rows"),
    ("warp_spark/stats.py", "pareto_frontier_2d"): (1, "≤ |distinct m1| rows"),
}


def _unpartitioned_windows():
    """(file, function) -> (un-partitioned window specs, calls ntile)."""
    sites = collections.Counter()
    ntile = set()
    for path in sorted((ROOT / "warp_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            # nested functions are scanned on their own
            inner = {
                id(n)
                for d in ast.walk(fn)
                if d is not fn and isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef))
                for n in ast.walk(d)
            }
            for n in ast.walk(fn):
                if id(n) in inner or not isinstance(n, ast.Call):
                    continue
                f = n.func
                if isinstance(f, ast.Attribute) and f.attr == "ntile":
                    ntile.add((rel, fn.name))
                if not (
                    isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "Window"
                ):
                    continue
                if f.attr in ("orderBy", "rowsBetween", "rangeBetween") or (
                    f.attr == "partitionBy"
                    and all(isinstance(a, ast.Starred) for a in n.args)
                ):
                    sites[(rel, fn.name)] += 1
    return sites, ntile


def test_every_unpartitioned_window_is_allowlisted_with_its_bound():
    sites, _ = _unpartitioned_windows()
    found = dict(sites)
    allowed = {k: n for k, (n, _) in ALLOWED.items()}
    assert found == allowed, {
        "unlisted or changed": {k: v for k, v in found.items() if allowed.get(k) != v},
        "listed but gone": sorted(set(allowed) - set(found)),
    }


def test_no_ntile_next_to_an_unpartitioned_window():
    """``F.ntile`` over an un-partitioned window is one task over the
    data; the global form is ``prefix.ntile``."""
    sites, ntile = _unpartitioned_windows()
    assert not set(sites) & ntile, sorted(set(sites) & ntile)


def test_scan_sees_each_unpartitioned_form(tmp_path, monkeypatch):
    pkg = tmp_path / "warp_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "from pyspark.sql import Window, functions as F\n"
        "def a(df, keys):\n"
        "    w1 = Window.orderBy('x')\n"
        "    w2 = Window.partitionBy()\n"
        "    w3 = Window.partitionBy(*keys).orderBy('x')\n"
        "    w4 = Window.rowsBetween(Window.unboundedPreceding, 0)\n"
        "    ok = Window.partitionBy('g', *keys).orderBy('x')\n"
        "    return df.select(F.ntile(3).over(w1))\n"
        "def b(df):\n"
        "    return Window.partitionBy('g').orderBy('x')\n"
    )
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    sites, ntile = _unpartitioned_windows()
    assert dict(sites) == {("warp_spark/m.py", "a"): 4}
    assert ntile == {("warp_spark/m.py", "a")}
