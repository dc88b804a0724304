"""One benchmark run of one workload, inside the run directory that
``run.py`` prepared.  Prints nothing on stdout; writes the result JSON to
``<run_dir>/result.json`` and, when traced, the spans to
``<run_dir>/trace.json``.

Phases (``run.py`` has already generated the inputs from the seed and
started the set-up clock): import; start Spark and run a first job; warm
up by running the workload's own operations once at the timed scale;
then the timed region (a closed loop, one client, no think time) until
``--seconds`` have passed and the current pass ends; then, untimed, the
correctness checks against DuckDB.  Peak memory is that of the timed
region: the peak-RSS counters are reset when it starts and read when it
ends.

A pass is one round of the workload's operations: a QBE block, or one
run over the catalog entry list; an operation's slot is its place in
the pass.  ``pass_s`` sums, and ``op_p50_s`` takes the median of, each
slot's median time across the run's passes, so one slow pass (the JVM
is still compiling during the first ones) moves them little, and the
median does not jump between neighbouring operations as the number of
passes changes.

The gated ``setup_s`` and ``pass_s`` leave out the time the hypervisor
gave to other guests (``spans.unstolen``, per operation for ``pass_s``);
the raw wall times are per-layer metrics (``wall.*``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, catalyst_phases, cpu_ticks, p50, steal_share, task_metrics, unstolen  # noqa: E402,E501

CORES = 4
SF_READ, SF_WRITE = 0.1, 0.01

# catalog_pass reads, run at sf0.1 in a seeded order, with the layer each
# mainly loads: one per pipeline kernel module (dedup, text, similarity),
# each the cheapest entry of that module in the read list the benchmark
# was specified with.  The graph module is loaded by the write
# graph_edges_persist, as its reads took 3.5-27 s each.
READS = {
    "q1_pricing_summary": "relational",
    "dedup_minhash_lsh": "pipeline.dedup",
    "text_lm_score": "pipeline.text",
    "ann_topk_ivf": "pipeline.similarity",
}
# catalog_pass writes, run after the reads at sf0.01 in lifecycle order,
# each pass from an empty artifact root.
WRITES = {
    "graph_edges_persist": "pipeline.graph",
    "mutable_cdc_merge": "mutable",
    "events_hourly_rollup_streamed": "streaming",
}
# the writes that are artifact verbs (persist/append/delete/compact/probe)
ARTIFACT_VERBS = ("graph_edges_persist",)
# per-entry layer times that catalog_pass reports
ENTRY_LAYERS = tuple(f"{layer}.entry_s" for layer in sorted(set(READS.values()) | set(WRITES.values())))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def reset_hwm(pid: int) -> None:
    """Restart the peak-RSS counter (VmHWM) of ``pid`` at its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list[int]:
    """Descendants of this process whose command is ``java``."""
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            kids = []
        for k in kids:
            try:
                with open(f"/proc/{k}/comm") as f:
                    if f.read().strip() == "java":
                        out.append(k)
            except OSError:
                pass
            todo.append(k)
    return out


def dir_stats(path: str) -> tuple[int, dict]:
    """(bytes, {file: (size, mtime)}) under ``path``."""
    files = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            files[p] = (st.st_size, st.st_mtime_ns)
    return sum(s for s, _ in files.values()), files


# -- correctness -------------------------------------------------------------
class Checker:
    """Compares Spark rows with DuckDB rows.  Catalog entries use the
    project's own oracle normalisation (``tools/check_correctness.py``);
    QBE chains compare floats with a relative tolerance, because their
    sums run in a different order on each engine."""

    def __init__(self):
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import check_correctness as cc

        self.cc = cc
        self.con = duckdb.connect()

    def use(self, data_dir: str) -> None:
        for t in gen.TABLES:
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def oracle(self, sql: str, scols: list, spdf) -> str | None:
        """None if equal, else a one-line reason."""
        cc = self.cc
        srows = [tuple(cc.from_pandas(v) for v in row)
                 for row in spdf.itertuples(index=False, name=None)]
        res = self.con.sql(sql)
        ocols, odf = list(res.columns), res.df()
        # DuckDB widens DATE to Timestamp in .df(); collapse it back, as
        # tools/check_correctness.py does
        for col, typ in zip(ocols, res.types):
            if str(typ) == "DATE" and odf[col].dtype.kind == "M":
                odf[col] = odf[col].dt.date
        orows = [tuple(cc.from_pandas(v) for v in row)
                 for row in odf.itertuples(index=False, name=None)]
        sc, sr = cc.normalize_rows(scols, srows)
        oc, orr = cc.normalize_rows(ocols, orows)
        if sc != oc:
            return f"schema spark={sc} oracle={oc}"
        if len(sr) != len(orr):
            return f"rowcount spark={len(sr)} oracle={len(orr)}"
        if sr != orr:
            return f"values differ, first: {next((a, b) for a, b in zip(sr, orr) if a != b)}"
        return None

    def chain(self, sql: str, rows: list) -> str | None:
        want = [tuple(r) for r in self.con.sql(sql).fetchall()]
        got = [tuple(r) for r in rows]
        if len(got) != len(want):
            return f"rowcount spark={len(got)} duckdb={len(want)}"
        key = lambda r: tuple(str(x) for x in r)  # noqa: E731
        for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
            for x, y in zip(a, b):
                if isinstance(x, float) or isinstance(y, float):
                    if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                        return f"value spark={a} duckdb={b}"
                elif x != y:
                    return f"value spark={a} duckdb={b}"
        return None


# -- workloads ---------------------------------------------------------------
class Workload:
    # per-layer metrics of BENCHMARK.json that this workload has no operation for
    NOT_MEASURED: tuple[str, ...] = ()

    def __init__(self, spark, tracer: Tracer, data: dict, seed: int, run_dir: str):
        self.spark, self.tr, self.data = spark, tracer, data
        self.seed, self.run_dir = seed, run_dir
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.pass_traced: list[bool] = []
        self.errors: list[str] = []

    def fail(self, what: str, err) -> None:
        self.failed += 1
        msg = f"{what}: {err}"
        self.errors.append(msg[:500])
        log("FAIL", msg[:2000])

    def timed(self, seconds: float, alternate: bool) -> None:
        """Closed loop: passes back to back until ``seconds`` have passed.
        With ``alternate`` (traced run) passes alternate untraced/traced so
        the difference is the tracing overhead."""
        self.tr.timing = True
        deadline = time.perf_counter() + seconds
        while True:
            traced = alternate and len(self.pass_traced) % 2 == 1
            self.tr.pass_no = len(self.pass_traced)
            self.one_pass(traced)
            self.pass_traced.append(traced)
            if time.perf_counter() >= deadline and (not alternate or len(self.pass_traced) >= 2):
                break
        self.tr.timing = False

    def n_passes(self, traced: bool) -> int:
        return sum(1 for t in self.pass_traced if t == traced)

    def timed_ops(self, traced: bool) -> list[dict]:
        return [o for o in self.tr.ops if o["timed"] and o["traced"] == traced]

    @staticmethod
    def slot_medians(ops, key: str) -> list[float]:
        """Each slot's median time across the run's passes."""
        by_slot = defaultdict(list)
        for o in ops:
            by_slot[o["slot"]].append(o[key])
        return [p50(v) for v in by_slot.values()]

    def pass_s(self, traced: bool, key: str = "s") -> float:
        """``key`` "s" for wall time, "s_adj" for wall time without steal."""
        return sum(self.slot_medians(self.timed_ops(traced), key))

    def per_traced_pass(self, ops, value) -> float:
        return sum(value(o) for o in ops) / max(1, self.n_passes(True))

    def op_p50_s(self, traced: bool) -> float:
        return p50(self.slot_medians(self.latency_ops(self.timed_ops(traced)), "s"))

    def latency_ops(self, ops):
        return ops


class CatalogRun(Workload):
    """Catalog entries to the ``noop`` sink: the reads at sf0.1, then the
    writes at sf0.01.  Every pass, the warm-up included, gets its own
    empty ``tempfile.tempdir``, where the catalog keeps its artifacts, so
    the write path runs each time and a timed pass never reuses what the
    warm-up wrote.  The warm-up collects each result instead, for the
    oracle check."""

    NOT_MEASURED = ("infer.suggest_p50_s", "formula.compile_p50_s", "plans.build_p50_s",
                    "calculator.proposed_rows", "driver.rows_collected",
                    "driver.collect_p50_s", "qbe.full_p50_s")

    def __init__(self, *a):
        super().__init__(*a)
        self.stored: list[float] = []
        self.root = None

    def names(self) -> list[str]:
        reads = list(READS)
        self.rng.shuffle(reads)
        return reads + list(WRITES)

    def layer_of(self, name: str) -> str:
        return READS.get(name) or WRITES[name]

    def sf_dir(self, name: str) -> str:
        return self.data[SF_WRITE if name in WRITES else SF_READ]

    def new_root(self, tag: str) -> None:
        """Point ``tempfile`` at a new empty root; drop the previous one
        so disk use stays flat."""
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = tempfile.mkdtemp(prefix=f"{tag}_", dir=os.path.join(self.run_dir, "tmp"))
        tempfile.tempdir = self.root

    def run_entry(self, name: str, traced: bool, collect: bool):
        from warp_spark.catalog import QUERIES

        tr = self.tr
        before = dir_stats(self.root)[1] if traced else {}
        got = None
        self.attempted += 1
        with tr.op("entry", name, name, traced) as op:
            try:
                with tr.span("build"):
                    df = QUERIES[name](self.spark, self.sf_dir(name))
                if op["traced"]:
                    op["eager_jobs"] = len(self.spark.sparkContext.statusTracker()
                                           .getJobIdsForGroup(f"op{op['op']}"))
                    with tr.span("plan"):
                        op.update(catalyst_phases(df))
                with tr.span("execute"):
                    if collect:
                        got = df.columns, df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted, never swallowed
                op["error"] = True
                self.fail(name, f"{type(e).__name__}: {e}")
        if traced:
            after = dir_stats(self.root)[1]
            op["files_written"] = sum(1 for p, v in after.items() if before.get(p) != v)
        return got

    def warmup(self) -> None:
        self.new_root("warmup")
        self.results = {n: self.run_entry(n, False, collect=True) for n in self.names()}

    def one_pass(self, traced: bool) -> None:
        self.new_root(f"pass{len(self.pass_traced)}")
        for name in self.names():
            self.run_entry(name, traced, collect=False)
        self.stored.append(dir_stats(self.root)[0] / 1e6)

    def check(self, checker: Checker) -> None:
        from warp_spark.catalog import ORACLES

        for name, got in self.results.items():
            if got is None:
                continue  # its exception is already counted
            if name not in ORACLES:
                if len(got[1]) == 0:
                    self.fail(name, "no rows and no oracle")
                continue
            checker.use(self.sf_dir(name))
            try:
                why = checker.oracle(ORACLES[name], list(got[0]), got[1])
            except Exception as e:
                why = f"oracle error {type(e).__name__}: {e}"
            if why:
                self.fail(name, f"oracle mismatch: {why}")

    def layers(self) -> dict:
        ops = self.timed_ops(True)
        build = lambda o: self.tr.child_s(o["op"], "build")  # noqa: E731
        out = {
            "catalog.build_sum_s": self.per_traced_pass(ops, build),
            "catalog.build_p50_s": p50(build(o) for o in ops),
            "catalog.eager_jobs": self.per_traced_pass(ops, lambda o: o.get("eager_jobs", 0)),
            "artifacts.verb_s": self.per_traced_pass(
                [o for o in ops if o["name"] in ARTIFACT_VERBS], lambda o: o["s"]),
            "artifacts.files_written": self.per_traced_pass(ops, lambda o: o.get("files_written", 0)),
            "artifacts.stored_mb": p50(self.stored),
        }
        for key in ENTRY_LAYERS:
            out[key] = self.per_traced_pass(
                [o for o in ops if f"{self.layer_of(o['name'])}.entry_s" == key], lambda o: o["s"])
        return out


class QbeRun(Workload):
    """A seeded session of chain edits with a preview after each edit
    and a full run at the end of each block."""

    NOT_MEASURED = ("catalog.build_sum_s", "catalog.build_p50_s", "catalog.eager_jobs",
                    "artifacts.verb_s", "artifacts.files_written", "artifacts.stored_mb",
                    *ENTRY_LAYERS)

    def __init__(self, *a):
        super().__init__(*a)
        import qbe
        from warp_spark.calculator import ExampleCalculator

        self.qbe = qbe
        self.data_dir = self.data[SF_READ]
        self.session = qbe.Session(self.data_dir, self.seed)
        self.calculator = ExampleCalculator()
        self.full_chains: list = []
        self.suggest_s: list[float] = []

    def suggest(self, target, row, column):
        from warp_spark.infer import suggest_formulas

        t0 = time.perf_counter()
        with self.tr.span("suggest"):
            out = suggest_formulas(target, row, input_column=column, level=3)
        self.suggest_s.append(time.perf_counter() - t0)
        return out

    def warmup(self) -> None:
        self.one_pass(False)

    def one_pass(self, traced: bool) -> None:
        """One block of edits, previewing after each, then a full run."""
        from warp_spark.formula import formula
        from warp_spark.plans import Chain

        qbe, tr = self.qbe, self.tr
        chain, row = qbe.Chain(self.data_dir), None
        for i, edit in enumerate(self.session.block()):
            self.attempted += 1
            with tr.op("preview", edit["kind"], i, traced) as op:
                op["rows_in"] = edit["rows"]
                try:
                    edit["apply"](chain, row, self.suggest)
                    if op["traced"]:
                        with tr.span("compile"):
                            for text in chain.formulas:
                                formula(text)
                    with tr.span("build"):
                        df = Chain(chain.steps).example_dataset(
                            self.spark, max_input_rows=edit["rows"]).to_df()
                    if op["traced"]:
                        with tr.span("plan"):
                            op.update(catalyst_phases(df))
                    with tr.span("execute"):
                        rows = df.collect()
                    op["rows_out"] = len(rows)
                except Exception as e:
                    op["error"] = True
                    self.fail(f"preview {edit['kind']}", f"{type(e).__name__}: {e}")
                    return
            self.calculator.observe(edit["rows"], op["rows_out"], op["s"])
            if rows and all(c in rows[0] for c in qbe.EXAMPLE_INPUTS):
                row = rows[0].asDict()
        self.attempted += 1
        with tr.op("full", "chain", "full", traced) as op:
            try:
                with tr.span("build"):
                    df = Chain(chain.steps).dataframe(self.spark)
                if op["traced"]:
                    with tr.span("plan"):
                        op.update(catalyst_phases(df))
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
                self.full_chains.append(chain)
            except Exception as e:
                op["error"] = True
                self.fail("full chain", f"{type(e).__name__}: {e}")

    def check(self, checker: Checker) -> None:
        from warp_spark.plans import Chain

        checker.use(self.data_dir)
        for chain in self.full_chains:
            try:
                why = checker.chain(chain.sql, Chain(chain.steps).dataframe(self.spark).collect())
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
            if why:
                self.fail("full chain check", f"{why} | {chain.sql}")

    def latency_ops(self, ops):
        return [o for o in ops if o["kind"] == "preview"]

    def layers(self) -> dict:
        ops = self.timed_ops(True)
        pv = self.latency_ops(ops)
        return {
            "infer.suggest_p50_s": p50(self.suggest_s),
            "formula.compile_p50_s": p50(self.tr.child_s(o["op"], "compile") for o in pv),
            "plans.build_p50_s": p50(self.tr.child_s(o["op"], "build") for o in pv),
            "calculator.proposed_rows": float(self.calculator.proposed_input_rows()),
            "driver.rows_collected": sum(o.get("rows_out", 0) for o in pv) / max(1, len(pv)),
            "driver.collect_p50_s": p50(self.tr.child_s(o["op"], "execute") for o in pv),
            "qbe.full_p50_s": p50(o["s"] for o in ops if o["kind"] == "full"),
        }


WORKLOADS = {"qbe_session": (QbeRun, (SF_READ,)),
             "catalog_pass": (CatalogRun, (SF_READ, SF_WRITE))}


def exec_layers(wl: Workload, per_op: dict) -> dict:
    """Spark-side counters over the traced timed latency ops (per-op
    means), and the artifact bytes per pass."""
    ops = wl.latency_ops(wl.timed_ops(True))
    n = max(1, len(ops))
    out = {k: sum(o.get(k.split(".")[1], 0) for o in ops) / n
           for k in ("exec.jobs", "exec.stages", "exec.tasks")}
    for k in ("exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "exec.task_run_s", "exec.gc_s"):
        out[k] = sum(per_op.get(o["op"], {}).get(k, 0.0) for o in ops) / n
    out["artifacts.bytes_written"] = wl.per_traced_pass(
        wl.timed_ops(True), lambda o: per_op.get(o["op"], {}).get("artifacts.bytes_written", 0.0))
    out["exec.run_p50_s"] = p50(wl.tr.child_s(o["op"], "execute") for o in ops)
    wall = sum(o["s"] for o in ops)
    out["exec.core_util"] = out["exec.task_run_s"] * n / (wall * CORES) if wall else 0.0
    for p in ("plan", "analysis", "optimization", "planning"):
        out[f"catalyst.{p}_p50_s"] = p50(o.get(f"catalyst.{p}_s", 0.0) for o in ops)
    # the op's own time outside its build/plan/execute/suggest/compile spans
    out["trace.residue_p50_s"] = p50(wl.tr.self_s(o["op"]) for o in ops)
    out["trace.spans_p50_s"] = p50(o["s"] - wl.tr.self_s(o["op"]) for o in ops)
    return out


def stream_layers(wl: Workload) -> dict:
    windows = [(o["wall_start"], o["wall_end"]) for o in wl.timed_ops(True)]
    mine = [p for p in wl.tr.progress if any(a <= p["t"] <= b + 1.0 for a, b in windows)]
    n = max(1, wl.n_passes(True))
    return {"streaming.triggers": len(mine) / n,
            "streaming.trigger_p50_s": p50(p["s"] for p in mine),
            "streaming.input_rows": sum(p["rows"] for p in mine) / n}


def check_layer_names(cls, layers: dict, units: dict) -> None:
    """Every per-layer metric of ``BENCHMARK.json`` is either measured by
    this workload or declared in its ``NOT_MEASURED`` (reported as 0,
    since every run prints every per-layer name); anything else is a
    misspelt or dropped metric and fails the run."""
    missing = set(units) - set(layers) - set(cls.NOT_MEASURED)
    unknown = (set(layers) | set(cls.NOT_MEASURED)) - set(units)
    both = set(layers) & set(cls.NOT_MEASURED)
    if missing or unknown or both:
        raise RuntimeError(f"per-layer metrics: missing {sorted(missing)}, not in "
                           f"BENCHMARK.json {sorted(unknown)}, measured and declared "
                           f"not measured {sorted(both)}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    a = ap.parse_args()
    # the set-up clock and CPU counters, as run.py read them before launching us
    t_origin = float(os.environ["PERFBENCH_T0"])
    ticks_origin = [int(x) for x in os.environ["PERFBENCH_TICKS0"].split()]
    traced = bool(a.trace)
    cls, scales = WORKLOADS[a.workload]

    data = {sf: os.path.join(a.run_dir, f"data_sf{sf}") for sf in scales}

    t = time.time()
    from warp_spark import get_spark
    import warp_spark.catalog  # noqa: F401  (the registry: part of import cost)
    import_s = time.time() - t

    t = time.time()
    conf = {"spark.ui.showConsoleProgress": "false"}
    event_dir = os.path.join(a.run_dir, "events")
    if traced:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=CORES, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    start_s = time.time() - t

    tracer = Tracer(spark, traced)
    wl = cls(spark, tracer, data, a.seed, a.run_dir)
    t = time.time()
    wl.warmup()
    warmup_s = time.time() - t
    setup_wall_s = time.time() - t_origin
    setup_s = unstolen(setup_wall_s, ticks_origin, cpu_ticks())
    log(f"setup {setup_wall_s:.2f}s (import {import_s:.2f} start {start_s:.2f} "
        f"warmup {warmup_s:.2f}; {setup_s:.2f}s without steal)")

    # the results the warm-up collected stay, the peak they caused does not
    for pid in (os.getpid(), *jvm_pids()):
        reset_hwm(pid)
    ticks = cpu_ticks()
    wl.timed(a.seconds, alternate=traced)
    steal = steal_share(ticks, cpu_ticks())
    log(f"timed region: steal share {steal:.1%}")
    for o in tracer.ops:
        log(f"op {o['kind']:8} {o['name']:30} {o['s']:7.3f}s pass={o['pass']} "
            f"timed={o['timed']} traced={o['traced']}")
    py_kb, jvm_kb = vm_hwm_kb(os.getpid()), sum(vm_hwm_kb(p) for p in jvm_pids())
    if traced:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
    wl.check(Checker())
    layers = wl.layers() if traced else {}
    spark.stop()

    wall_pass_s, wall_op_s = wl.pass_s(False), wl.op_p50_s(False)
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (wl.pass_s(False, "s_adj"), "s")}
    if traced:
        layers.update(exec_layers(wl, task_metrics(event_dir, tracer.ops)))
        layers.update(stream_layers(wl))
        layers.update({
            "session.import_s": import_s, "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "memory.peak_rss_mb": (py_kb + jvm_kb) / 1024.0,
            "memory.python_rss_mb": py_kb / 1024.0,
            "wall.setup_s": setup_wall_s, "wall.op_p50_s": wall_op_s,
            "wall.pass_s": wall_pass_s, "machine.steal_share": steal,
            "trace.overhead_pass_s": wl.pass_s(True) - wall_pass_s,
            "trace.overhead_op_p50_s": wl.op_p50_s(True) - wall_op_s,
            "error_frac": wl.failed / max(1, wl.attempted),
        })
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        check_layer_names(cls, layers, units)
        metrics = {name: (float(layers[name]) if name in layers else 0.0, unit)
                   for name, unit in units.items()}
        tracer.dump(os.path.join(a.run_dir, "trace.json"))
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        "samples": {"ops": len(wl.latency_ops(wl.timed_ops(False))),
                    "passes": wl.n_passes(False),
                    "wall": {"wall.setup_s": round(setup_wall_s, 4), "wall.pass_s": round(wall_pass_s, 4),
                             "wall.op_p50_s": round(wall_op_s, 4)},
                    "steal_share": round(steal, 4),
                    "peak_rss_mb": round((py_kb + jvm_kb) / 1024.0, 1)},
        "errors": wl.errors[:5],
    }
    with open(os.path.join(a.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
