#!/usr/bin/env python3
"""Benchmark entry point: one isolated run of one workload.

    python3 perfbench/run.py --workload {qbe_session,catalog_pass}
                             --seed N --seconds S --trace {0,1}

Run it from the repository root.  Each run gets its own working
directory, ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under ``.perfbench/``,
all deleted afterwards, so no run sees what an earlier one left behind
(the catalog keeps artifacts under the temp dir).  The workload itself
runs in a child process (``workload.py``) in its own process group; this
launcher waits for it, then stops anything the group left running.

Fixed settings: Spark ``local[4]``, Spark driver heap 3g
(``WARP_SPARK_DRIVER_MEM``), inputs generated from ``--seed`` by
``gen.py`` at sf0.1 (and sf0.01 for the write entries of ``catalog_pass``).
The inputs are generated here, before the set-up clock starts, so
``setup_s`` covers only the workload process: its start, imports, Spark
start and warm-up.

The last stdout line is the result JSON: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``BENCHMARK.json`` with ``--trace 1``).  End-to-end
times leave out the share of CPU time the hypervisor gave to other
guests (``spans.unstolen``); the raw wall times are per-layer metrics
(``wall.*``) and are printed on stderr in every run.
Traced runs also keep their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import cpu_ticks  # noqa: E402
from workload import WORKLOADS  # noqa: E402

DRIVER_MEM = "3g"
CHILD_TIMEOUT_S = 140


def group_alive(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is the state, fields[2] the process group
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Give the group's JVM time to finish its own shutdown, then SIGTERM
    and SIGKILL whatever is left; return once nothing is."""
    for sig, wait_s in ((None, 15.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not group_alive(pgid):
            return
        try:
            if sig is not None:
                os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)


def run(a, run_dir: str) -> tuple[int, dict | None]:
    """Generate the inputs, run the workload process in ``run_dir`` and
    return its exit code and result."""
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    for sf in WORKLOADS[a.workload][1]:
        gen.generate(os.path.join(run_dir, f"data_sf{sf}"), a.seed, sf)
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # Spark's Python workers import warp_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "WARP_SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": "4",
        # the JVM's own temp files (java.io.tmpdir) stay in the run too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # the set-up clock and CPU counters start here, after the inputs exist
    env["PERFBENCH_T0"] = repr(time.time())
    env["PERFBENCH_TICKS0"] = " ".join(map(str, cpu_ticks()))
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir]
    child = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), env=env,
                             stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {CHILD_TIMEOUT_S}s; stopped", file=sys.stderr)
        code = -1
    finally:
        stop_group(child.pid)
        child.wait()
    path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(path):
        return code, None
    with open(path) as f:
        return code, json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description="warp-on-spark benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "warp_spark")):
        print(f"warp_spark not found beside {HERE}: nothing to benchmark", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        code, result = run(a, run_dir)
        trace = os.path.join(run_dir, "trace.json")
        if result is not None and os.path.exists(trace):
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.move(trace, os.path.join(base, "traces", f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"workload process failed (exit {code})", file=sys.stderr)
        return 1
    for e in result.pop("errors", []):
        print("error:", e, file=sys.stderr)
    print("samples:", json.dumps(result.pop("samples")), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
