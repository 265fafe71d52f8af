"""Benchmark launcher. Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

It prepares a private work directory under ``.perfbench-work/``, runs one
workload in a child process (``harness.py``) with the Spark conf the run
needs (event log only when tracing), samples the peak RSS of the child's
whole process tree (Python driver, JVM, Python workers) from ``/proc``,
stops every process the child left behind, and prints one JSON result as
the last line of stdout: the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The exit
code is 0 only when every op ran and passed its checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE = "dataingestionplayground_spark"
# the child's time limit is this allowance (session start, setup, probes,
# shutdown) plus twice the timed window, since the loop ends on a whole
# cycle
SETUP_ALLOWANCE_S = 140
HEAP = "1g"
# the heap is fixed, so the tree's memory moves slowly; a sparse sampler
# takes no CPU the measured run would notice
SAMPLE_S = 1.0


def host_calibration_ms(reps: int = 5) -> float:
    """Fixed CPU work (an interpreter loop and hashing), median of
    ``reps``: a host-speed reference, independent of the engine."""
    blob = bytes(range(256)) * 4096
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        h = 0
        for i in range(300_000):
            h = (h * 31 + i) & 0xFFFFFFFF
        for _ in range(8):
            hashlib.sha256(blob).digest()
        times.append(1000 * (time.perf_counter() - t0))
    return statistics.median(times)


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return int(stat.rsplit(")", 1)[1].split()[1])


def process_tree(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(name)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(children.get(pid, ()))
    return tree


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked Python workers) split among them, so a sum over
    the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: set[int], pgid: int) -> None:
    """Terminate whatever is left of the child's tree and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p for p in pids if alive(p)}
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while any(alive(p) for p in left) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not any(alive(p) for p in left):
            return


def child_env(work: str, eventlog: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    # a fixed-size heap: peak RSS and GC pauses then do not depend on how
    # far the heap happened to grow in one run
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{HEAP}"]
    if trace:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{eventlog}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    ncpu = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # engine calls that build their own session (the CLI functions)
        # get the same core count as the benchmark's session
        "SPARK_GRAFT_CPUS": ncpu,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped launcher still reaps the child's tree (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    eventlog = os.path.join(work, "eventlog")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    calib = host_calibration_ms() if args.trace else None

    cmd = [sys.executable, os.path.join(HERE, "harness.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--eventlog", eventlog, "--result", result_path]
    proc = subprocess.Popen(cmd, env=child_env(work, eventlog, bool(args.trace)),
                            stdout=sys.stderr, start_new_session=True)
    seen: set[int] = set()
    peak = 0
    timeout_s = SETUP_ALLOWANCE_S + 2 * args.seconds
    deadline = time.monotonic() + timeout_s
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                print(f"run exceeded {timeout_s:.0f}s; stopping it", file=sys.stderr)
                break
            tree = process_tree(proc.pid)
            seen |= tree
            peak = max(peak, sum(pss_bytes(p) for p in tree))
            time.sleep(SAMPLE_S)
    finally:
        reap(seen | {proc.pid}, proc.pid)
        proc.wait()
        raw = None
        if os.path.exists(result_path):
            with open(result_path) as f:
                raw = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        print(f"no result (child exit code {proc.returncode})", file=sys.stderr)
        return 1

    values = raw["values"]
    if args.trace:
        values["host.calib_ms"] = calib
        declared = spec["per_layer"]
    else:
        values["peak_rss_mb"] = peak / 2**20
        declared = spec["end_to_end"]
    # every end-to-end metric, and every per-layer metric of this
    # workload's layers, must have been measured; the other workloads'
    # per-layer metrics (layers this one leaves idle) read 0
    required = {"host.calib_ms", *raw["required"]} if args.trace else {m["name"] for m in declared}
    undeclared = required - {m["name"] for m in declared}
    if undeclared:
        print(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}", file=sys.stderr)
        return 1
    metrics = {}
    for m in declared:
        if m["name"] in required and m["name"] not in values:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    correct = raw["correct"] and proc.returncode == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
