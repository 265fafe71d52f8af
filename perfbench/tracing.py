"""Outside-in tracing: spans around calls into the engine's public
functions, a Spark job group around every timed op, and a fold of
Spark's own event log into per-op-type runtime counters.

Nothing here edits the engine. Functions are wrapped at their module
attribute (or class attribute for methods), so engine code that looks
them up at call time, and the benchmark's own calls, go through the
wrapper; the event log is switched on by the launcher's Spark conf.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict

ENGINE = "dataingestionplayground_spark"

# (module, attribute, span name): the public entry points of each layer
WRAPPED = (
    ("ingest.store", "CollectionStore.write", "store.write"),
    ("ingest.store", "CollectionStore.compact", "store.compact"),
    ("ingest.store", "CollectionStore.delete_documents", "store.delete"),
    ("ingest.ann_index", "build_ivf_index", "ann.ivf.build"),
    ("ingest.ann_index", "build_pq_index", "ann.pq.build"),
    ("ingest.ann_index", "refresh_ivf_index", "ann.ivf.refresh"),
    ("ingest.ann_index", "refresh_pq_index", "ann.pq.refresh"),
    ("sources.textfiles", "read_jsonl_docs", "sources.jsonl"),
    ("operators.dedup", "exact_dedup", "dedup.exact"),
    ("operators.dedup", "line_dedup", "dedup.line"),
    ("queries.textq", "quality_scores", "textq.quality"),
    ("ingest.export", "export_jsonl", "export.jsonl"),
    ("ingest.datacard", "write_datacard", "datacard.write"),
)

# physical operators that run Python workers (the Arrow/Python boundary)
_PYTHON_SCOPES = ("Pandas", "Python", "MapInArrow")


class Tracer:
    """Spans kept in memory: ``{"name", "start", "end", "parent"}`` with
    wall-clock seconds (comparable with the event log's epoch millis).
    While ``active`` is false the wrappers cost one branch and ``op`` only
    sets the job group."""

    def __init__(self):
        self.sc = None  # the SparkContext, set once the session exists
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []

    def install(self) -> None:
        for mod_name, attr, span_name in WRAPPED:
            owner = importlib.import_module(f"{ENGINE}.{mod_name}")
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            setattr(owner, leaf, self._wrap(getattr(owner, leaf), span_name))

    def event_log(self, on: bool) -> None:
        """Attach or detach Spark's event-log listener, which the launcher's
        conf created at session start: only the traced half of the loop
        pays for event logging. Reaches Spark-internal members through
        py4j (``SparkContext.eventLogger`` and ``listenerBus``)."""
        jsc = self.sc._jsc.sc()
        logger, bus = jsc.eventLogger().get(), jsc.listenerBus()
        if on:
            bus.addToEventLogQueue(logger)
        else:
            bus.removeListener(logger)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_type: str, index: int):
        """One timed op in job group ``<op_type>#<index>``, traced or not
        (``job_counts`` reads the group back); while ``active``, also an
        op span and a record for the event-log fold."""
        group = f"{op_type}#{index}"
        self.sc.setJobGroup(group, group)
        rec = {"type": op_type, "group": group, "start": time.time(), "end": None}
        try:
            with self.span(op_type):
                yield
        finally:
            rec["end"] = time.time()
            if self.active:
                self.ops.append(rec)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def job_counts(self, group: str) -> dict[str, int]:
        """Spark jobs and completed tasks of one job group, from the status
        tracker (no event log needed). Waits for the listener bus to drain
        first, so the group's last job is in the tracker; skipped stages
        count no tasks."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = {sid for j in jobs for sid in tracker.getJobInfo(j).stageIds}
        tasks = sum(tracker.getStageInfo(sid).numCompletedTasks for sid in stages)
        return {"jobs": len(jobs), "tasks": tasks}

    def durations_ms(self, name: str) -> list[float]:
        return [1000.0 * (s["end"] - s["start"]) for s in self.spans
                if s["name"] == name and s["end"] is not None]


COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "input_records",
            "executor_cpu_ms", "gc_ms", "python_ms", "driver_ms")


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_event_log(log_dir: str, ops: list[dict]) -> dict[str, dict[str, float]]:
    """Per op type, the median over its ops of each counter in COUNTERS.

    Jobs are attributed to ops by job group; tasks to jobs by stage id.
    ``python_ms`` is executor run time in stages whose plan holds a
    Python-worker operator; ``driver_ms`` is the op's wall time minus the
    union of its jobs' spans."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    python_stages: set[int] = set()
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"], "end": None}
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        name = json.loads(scope).get("name", "") if scope else ""
                        if any(tag in name for tag in _PYTHON_SCOPES):
                            python_stages.add(info["Stage ID"])
                elif ev == "SparkListenerTaskEnd":
                    tasks.append((e["Stage ID"], e.get("Task Metrics") or {}))
    for sid, m in tasks:
        group = stage_group.get(sid)
        if group is None:
            continue
        g = per_group[group]
        g["tasks"] += 1
        g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        g["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
        g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        g["gc_ms"] += m.get("JVM GC Time", 0)
        if sid in python_stages:
            g["python_ms"] += m.get("Executor Run Time", 0)
    spans_by_group: dict[str, list] = defaultdict(list)
    for j in jobs.values():
        if j["group"] is not None and j["end"] is not None:
            per_group[j["group"]]["jobs"] += 1
            spans_by_group[j["group"]].append((j["start"], j["end"]))
    by_type: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for op in ops:
        g = per_group[op["group"]]
        lo, hi = 1000.0 * op["start"], 1000.0 * op["end"]
        clipped = [(max(s, lo), min(e, hi)) for s, e in spans_by_group[op["group"]] if e > lo and s < hi]
        g["driver_ms"] = (hi - lo) - _union_ms(clipped)
        for c in COUNTERS:
            by_type[op["type"]][c].append(g[c])
    return {t: {c: statistics.median(v) for c, v in cs.items()} for t, cs in by_type.items()}
