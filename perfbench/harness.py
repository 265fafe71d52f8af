"""One benchmark run in one long-lived process; started by ``run.py``,
which sets up the environment, samples memory and prints the result.

Order: generate inputs (untimed) -> start the Spark session -> workload
setup (``setup_s`` spans both) -> timed closed loop for ``--seconds``.
With ``--trace 1`` the timed loop runs twice: untraced, then traced
(job groups + spans), so the tracing overhead is measured in-process;
the per-layer probes follow, and Spark's event log is folded after the
session stops. Raw metric values go to ``--result`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import tracing
from workloads import WORKLOADS


class Run:
    """State shared by the harness and the workload."""

    def __init__(self, args):
        self.seed = args.seed
        self.work = args.work
        self.spark = None
        self.tracer = tracing.Tracer()
        self.attempted = 0
        self.failed = 0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def timed_loop(run: Run, wl, seconds: float, first: int, min_cycles: int) -> tuple[dict, int]:
    """Closed loop: whole cycles of the workload's ops, back to back,
    until ``seconds`` have passed and at least ``min_cycles`` ran, so
    every op type gets the same share of samples. An op that raises (an
    engine error or a failed check) counts as failed."""
    samples: dict[str, list[dict]] = defaultdict(list)
    i = first
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or i - first < min_cycles * len(wl.cycle):
        for _ in wl.cycle:
            run.attempted += 1
            try:
                cpu0 = tree_cpu_s()
                op_type, sample = wl.op(i)
                sample["cpu_ms"] = 1000 * (tree_cpu_s() - cpu0)
                sample.update(run.tracer.job_counts(f"{op_type}#{i}"))
                samples[op_type].append(sample)
            except Exception:
                run.failed += 1
                traceback.print_exc()
            i += 1
    log(f"timed loop: {i - first} ops in {seconds + time.perf_counter() - deadline:.1f}s")
    for op_type, ss in samples.items():
        log(f"  {op_type}: " + " ".join(
            f"{x['ms']:.0f}ms/{x['cpu_ms']:.0f}cpu-ms/{x['jobs']}j/{x['tasks']}t" for x in ss))
    return samples, i


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(name))
        # utime, stime, cutime, cstime
        cpu[int(name)] = sum(int(x) for x in fields[11:15]) / tick
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, ()))
    return total


def cycle_metrics(samples: dict[str, list[dict]]) -> dict[str, float]:
    """One op of each type, back to back: the sum over op types of each
    type's median latency, CPU time, Spark jobs and completed tasks."""
    def total(key: str) -> float:
        return sum(statistics.median(s[key] for s in ss) for ss in samples.values())

    return {"cycle_ms": total("ms"), "cycle_cpu_ms": total("cpu_ms"),
            "spark_jobs_per_cycle": total("jobs"), "spark_tasks_per_cycle": total("tasks")}


def counter_key(op_type: str, counter: str) -> str:
    return f"{op_type}.{counter}" if counter == "driver_ms" else f"{op_type}.spark.{counter}"


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    run = Run(args)
    wl = WORKLOADS[args.workload](run)
    wl.generate()

    t0 = time.perf_counter()
    from dataingestionplayground_spark.session import get_spark

    run.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    log(f"session started in {session_s:.1f}s")
    run.tracer.sc = run.spark.sparkContext
    if args.trace:
        run.tracer.event_log(False)
        run.tracer.install()
        run.tracer.active = True
    wl.setup()
    setup_s = time.perf_counter() - t0
    log(f"setup done in {setup_s:.1f}s")

    values: dict[str, float] = {}
    if args.trace:
        # half the window untraced, half traced (spans and event log): the
        # difference of their cycle times is the tracing overhead
        run.tracer.active = False
        plain, i = timed_loop(run, wl, args.seconds / 2, 0, 1)
        run.tracer.event_log(True)
        run.tracer.active = True
        samples, _ = timed_loop(run, wl, args.seconds / 2, i, 1)
        base = cycle_metrics(plain)
        traced = cycle_metrics(samples)["cycle_ms"]
        values["session.start_s"] = session_s
        values["cycle_ms"] = base["cycle_ms"]
        values["cycle_cpu_ms"] = base["cycle_cpu_ms"]
        values["trace.cycle_ms"] = traced
        values["trace.overhead_pct"] = 100.0 * (traced - base["cycle_ms"]) / base["cycle_ms"]
        for op_type, ss in samples.items():
            values[f"{op_type}.p50_ms"] = statistics.median(x["ms"] for x in ss)
        try:
            values.update(wl.layer_metrics(samples))
        except Exception:
            run.failed += 1
            traceback.print_exc()
        run.tracer.active = False
    else:
        samples, _ = timed_loop(run, wl, args.seconds, 0, 1)
        values["setup_s"] = setup_s
        values.update(cycle_metrics(samples))
        values.update(wl.metrics())
    stop_spark(run.spark)
    required = []
    if args.trace:
        for op_type, counters in tracing.fold_event_log(args.eventlog, run.tracer.ops).items():
            for name, v in counters.items():
                values[counter_key(op_type, name)] = v
        # the per-layer metrics this workload must produce; run.py fails the
        # run when one is missing rather than print it as an idle layer's 0
        required = ["session.start_s", "cycle_ms", "cycle_cpu_ms", "trace.cycle_ms", "trace.overhead_pct", *wl.layers]
        for op_type in dict.fromkeys(wl.cycle):
            required.append(f"{op_type}.p50_ms")
            required += [counter_key(op_type, c) for c in tracing.COUNTERS]
    with open(args.result, "w") as f:
        json.dump({"correct": run.failed == 0, "attempted": run.attempted,
                   "failed": run.failed, "values": values, "required": required}, f)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
