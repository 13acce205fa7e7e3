"""Spans around each operator call, and Spark's own metrics per span.

A span is ``(id, name, kind, start, end, parent, iter)``; kinds are
``iter`` (one pass over the workload), ``op`` (one operator), and its
two children ``build`` (the call returns a DataFrame) and ``exec``
(the action that runs it).  Spans are kept in memory and written out
when the run ends.

In a traced run every Spark job started inside a ``build`` or
``exec`` span carries the span id as the local property
``perfbench.span``.  After the session stops, the event log Spark
wrote is read back and each job, stage and task is charged to its
span.  That splits an operator's wall time three ways:

* driver: ``build_s`` and the jobs started while building
  (``plan_jobs``);
* JVM: ``exec_s``, jobs, stages, task time, shuffle bytes, task skew;
* Python: stages that ran Python workers, worker start and init time,
  and bytes sent to and returned from the workers.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROPERTY = "perfbench.span"

# SQL metric names Spark attaches to stages that run Python workers
PY_START = ("time to start Python workers",
            "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers",
            "data returned from Python workers")


@dataclass
class Span:
    id: str
    name: str
    kind: str
    start: float
    end: float
    parent: str | None
    iter: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; tags Spark jobs with the span id when ``tag``."""

    def __init__(self, sc, tag: bool):
        self.sc = sc
        self.tag = tag
        self.spans: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, kind: str, iteration: int,
             parent: Span | None = None):
        self._n += 1
        s = Span(f"s{self._n}", name, kind, time.time(), 0.0,
                 parent.id if parent else None, iteration)
        if self.tag and kind in ("build", "exec"):
            self.sc.setLocalProperty(SPAN_PROPERTY, s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.tag and kind in ("build", "exec"):
                self.sc.setLocalProperty(SPAN_PROPERTY, None)
            self.spans.append(s)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]},
                      f)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the uncompressed, unrolled event log
    Spark wrote under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    stage_acc: dict[int, dict[str, float]] = {}
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(f) and "appstatus" not in f]
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "span": props.get(SPAN_PROPERTY),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = \
                            e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time", 0) / 1000.0,
                        "end": si.get("Completion Time", 0) / 1000.0,
                        "acc": {},
                    }
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    # a task's own increments: a stage accumulable's
                    # value is the plan node's running total, shared
                    # by every stage that runs the node
                    acc = stage_acc.setdefault(e["Stage ID"], {})
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in PY_START + PY_BYTES:
                            acc[a["Name"]] = acc.get(a["Name"], 0.0) \
                                + _num(a.get("Update"))
                    tasks.setdefault(e["Stage ID"], []).append({
                        "wall": (info.get("Finish Time", 0)
                                 - info.get("Launch Time", 0)) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                    })
    for st, acc in stage_acc.items():
        if st in stages:
            stages[st]["acc"] = acc
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


SPAN_METRICS = ("jobs", "stages", "tasks", "task_s", "cpu_s",
                "shuffle_bytes", "task_skew", "python_stages",
                "python_start_s", "python_bytes")


def span_metrics(log: dict) -> dict[str, dict[str, float]]:
    """Spark metrics per tagged span id."""
    out: dict[str, dict[str, float]] = {}
    stage_span: dict[int, str] = {}
    for job in log["jobs"].values():
        sid = job["span"]
        if sid is None:
            continue
        m = out.setdefault(sid, dict.fromkeys(SPAN_METRICS, 0.0))
        m["jobs"] += 1
        for st in job["stages"]:
            stage_span.setdefault(st, sid)
    longest: dict[str, float] = {}
    for st, sid in stage_span.items():
        stage = log["stages"].get(st)
        ts = log["tasks"].get(st, [])
        if stage is None or not ts:
            continue  # skipped stage: its output was reused
        m = out[sid]
        acc = stage["acc"]
        m["stages"] += 1
        m["tasks"] += len(ts)
        m["task_s"] += sum(t["run"] for t in ts)
        m["cpu_s"] += sum(t["cpu"] for t in ts)
        m["shuffle_bytes"] += sum(t["shuffle"] for t in ts)
        if any(k in acc for k in PY_START + PY_BYTES):
            m["python_stages"] += 1
            m["python_start_s"] += sum(acc.get(k, 0.0)
                                       for k in PY_START) / 1000.0
            m["python_bytes"] += sum(acc.get(k, 0.0) for k in PY_BYTES)
        # skew of the span's longest stage: the one that most likely
        # set the span's wall time
        wall = stage["end"] - stage["start"]
        if wall > longest.get(sid, -1.0):
            longest[sid] = wall
            walls = sorted(t["wall"] for t in ts)
            med = statistics.median(walls)
            m["task_skew"] = walls[-1] / med if med > 0 else 1.0
    return out


def job_intervals(log: dict) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in log["jobs"].values()
            if j["end"] is not None]


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
