"""Spans and counters taken at the layer boundaries the benchmark calls.

Tracing is off in the runs that report end-to-end metrics.  With it on,
every operation gets a Spark job group, its child spans (``build``,
``plan``, ``execute`` and, in QBE sessions, ``suggest``/``compile``) are
kept in memory, and after ``spark.stop()`` the event log is parsed for
task metrics and joined back to the operations.  Nothing here changes
what the program computes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

PHASES = ("analysis", "optimization", "planning")


def cpu_ticks() -> list[int]:
    """The machine-wide CPU counters of ``/proc/stat`` (user nice system
    idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the CPU time this machine wanted between two readings
    that the hypervisor gave to other guests instead: steal over
    steal + busy time, idle and iowait left out."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (b - a for a, b in zip(t0, t1))
    wanted = user + nice + system + irq + softirq + steal
    return steal / wanted if wanted > 0 else 0.0


def unstolen(seconds: float, t0: list[int], t1: list[int]) -> float:
    """``seconds`` of wall time minus the share stolen by other guests:
    the time the interval would have taken on an unshared machine, to
    first order.  The share is machine-wide and scales the whole
    interval, its idle and single-threaded parts too; with no steal it
    leaves the time unchanged."""
    return seconds * (1.0 - steal_share(t0, t1))


class Tracer:
    """In-memory span recorder.  ``op`` opens an operation; ``span``
    opens a child of whatever is open.  With ``on`` false both only
    yield, so the untraced run pays one generator per call."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self.progress: list[dict] = []
        self.timing = False  # set while the timed region runs
        self.pass_no = 0  # the workload's current pass
        if on:
            self._listen_streams()

    @contextmanager
    def op(self, kind: str, name: str, slot, traced: bool):
        """``slot`` names the op's place in a pass, the same in every pass."""
        rec = {"op": len(self.ops), "kind": kind, "name": name, "slot": slot,
               "pass": self.pass_no, "timed": self.timing,
               "wall_start": time.time(), "start": time.perf_counter(),
               "ticks": cpu_ticks()}
        self.ops.append(rec)
        on = self.on and traced
        rec["traced"] = on
        sc = self.spark.sparkContext
        if on:
            sc.setJobGroup(f"op{rec['op']}", f"{kind}:{name}")
            self._stack.append(self._open("op", rec["op"], None))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            rec["s"] = rec["end"] - rec["start"]
            rec["s_adj"] = unstolen(rec["s"], rec.pop("ticks"), cpu_ticks())
            if on:
                self._close(self._stack.pop())
                rec.update(self._job_counts(f"op{rec['op']}"))
                sc.setJobGroup("between-ops", "outside any operation")

    @contextmanager
    def span(self, name: str):
        if not (self.on and self._stack):
            yield
            return
        parent = self._stack[-1]
        sid = self._open(name, self.spans[parent]["op"], parent)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._close(self._stack.pop())

    def _open(self, name, op, parent) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "op": op,
                           "parent": parent, "start": time.perf_counter()})
        return len(self.spans) - 1

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def _listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({"t": time.time(), "rows": p.numInputRows,
                             "s": p.batchDuration / 1000.0})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    # -- derived numbers ---------------------------------------------------
    def child_s(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op and s["name"] == name)

    def self_s(self, op: int) -> float:
        """The op span minus the part its children cover."""
        top = next(s for s in self.spans if s["op"] == op and s["parent"] is None)
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == top["id"])
        return (top["end"] - top["start"]) - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans,
                       "stream_progress": self.progress}, f)


def catalyst_phases(df) -> dict:
    """Force the physical plan and read Catalyst's phase timings."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    out = {"catalyst.plan_s": time.perf_counter() - t0}
    phases = qe.tracker().phases()
    for p in PHASES:
        opt = phases.get(p)
        out[f"catalyst.{p}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def task_metrics(event_dir: str, ops: list[dict]) -> dict[int, dict]:
    """Sum ``SparkListenerTaskEnd`` metrics per op.  A job maps to its op
    by job group, or, for jobs without one (streaming micro-batches),
    by the op whose wall-clock window holds its submission time."""
    job_op, stage_op = {}, {}
    per = defaultdict(lambda: defaultdict(float))
    windows = [(o["wall_start"] * 1000, o["wall_end"] * 1000, o["op"]) for o in ops
               if o.get("traced")]
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    op = int(group[2:]) if group.startswith("op") else next(
                        (o for a, b, o in windows if a <= ev["Submission Time"] <= b), None)
                    if op is None:
                        continue
                    job_op[ev["Job ID"]] = op
                    for s in ev["Stage IDs"]:
                        stage_op.setdefault(s, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if op is None or not m:
                        continue
                    acc = per[op]
                    acc["exec.task_run_s"] += m["Executor Run Time"] / 1000.0
                    acc["exec.gc_s"] += m["JVM GC Time"] / 1000.0
                    acc["exec.input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    sr = m["Shuffle Read Metrics"]
                    acc["exec.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    acc["exec.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    acc["exec.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    acc["artifacts.bytes_written"] += m["Output Metrics"]["Bytes Written"]
    return {op: dict(v) for op, v in per.items()}


def p50(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0
