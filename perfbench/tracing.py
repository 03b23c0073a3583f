"""Tracing for the benchmark's traced run: spans recorded around each
call the benchmark makes into a pipeline layer, Spark job-group tagging,
the Spark event-log parser, and a StreamingQueryListener.

Spans stay in memory and are written out when the run ends. A span's
self time is its duration minus the part of it that its child spans
cover. Spark's jobs carry the innermost span's name as their job group,
so the event log attributes engine work (jobs, tasks, shuffle bytes, GC)
to layers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

BOOKKEEPING = "perfbench.bookkeeping"


class Tracer:
    """Span recorder. Disabled (the timed run), ``span`` is a no-op
    context manager, so untraced ops pay one attribute check per call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.ambient: dict | None = None  # parent for spans on foreign threads

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group, interruptOnCancel=False)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.ambient
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent or {}).get("op"),
            "thread": threading.get_ident(),
            **attrs,
        }
        stack.append(s)
        self._set_group(f"{s['op']}|{name}")
        s["wall_start"] = time.time()
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["wall_end"] = time.time()
            stack.pop()
            up = stack[-1] if stack else None
            self._set_group(f"{up['op']}|{up['name']}" if up else None)
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Benchmark-side actions (counting rows for ratios) run under a
        job group the engine totals exclude."""
        if not self.enabled:
            yield
            return
        self._set_group(BOOKKEEPING)
        try:
            yield
        finally:
            st = self._stack()
            self._set_group(f"{st[-1]['op']}|{st[-1]['name']}" if st else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total duration and self time (seconds).
    Self time subtracts the union of the child intervals, clipped to the
    parent, so overlapping children are not subtracted twice."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        dur = s["end"] - s["start"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        agg = out[s["name"]]
        agg["n"] += 1
        agg["total_s"] += dur
        agg["self_s"] += dur - covered
    return dict(out)


# ------------------------------------------------------------- event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (stopped) session's event log.

    Returns ``jobs`` {job id: {group, submit_ms, stages}} and ``tasks``
    [{job, stage, run_ms, gc_ms, shuffle_write, shuffle_read, dur_ms}]."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return {"jobs": {}, "tasks": []}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                stages = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time"),
                    "stages": stages,
                }
                for sid in stages:
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def engine_metrics(log: dict, n_ops: int, spans: list[dict]) -> tuple[dict, dict]:
    """``engine.*`` per-op numbers over every job tagged with a timed op's
    span (bookkeeping, set-up and warm-up jobs excluded), plus jobs per
    layer. Task skew is the median over multi-task stages of max / median
    task duration.

    A streaming query runs its micro-batches on its own thread, under a
    job group of its own (the query's run id): such a job submitted
    inside a ``streaming.trigger`` span is that span's."""

    def timed(group):
        head = (group or "").split("|", 1)[0]
        return head.isdigit()

    triggers = [s for s in spans if s["name"] == "streaming.trigger" and s["op"] >= 0]
    for j in log["jobs"].values():
        foreign = "|" not in (j["group"] or "") and j["group"] != BOOKKEEPING
        if foreign and j["submit_ms"] is not None:
            for s in triggers:
                if s["wall_start"] * 1e3 <= j["submit_ms"] <= s["wall_end"] * 1e3:
                    j["group"] = f"{s['op']}|streaming.trigger"
                    break

    op_jobs = {jid for jid, j in log["jobs"].items() if timed(j["group"])}
    tasks = [t for t in log["tasks"] if t["job"] in op_jobs]
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(max(t["dur_ms"], 1))
    skews = []
    for durs in by_stage.values():
        if len(durs) >= 2:
            durs.sort()
            skews.append(durs[-1] / durs[len(durs) // 2])
    skews.sort()
    run = sum(t["run_ms"] for t in tasks)
    n = max(n_ops, 1)
    metrics = {
        "engine.jobs_per_op": len(op_jobs) / n,
        "engine.tasks_per_op": len(tasks) / n,
        "engine.shuffle_bytes_per_op": sum(t["shuffle_write"] for t in tasks) / n,
        "engine.task_skew": skews[len(skews) // 2] if skews else 0.0,
        "engine.gc_share": sum(t["gc_ms"] for t in tasks) / run if run else 0.0,
    }
    per_layer = defaultdict(lambda: {"jobs": 0, "tasks": 0})
    for jid in op_jobs:
        per_layer[log["jobs"][jid]["group"].split("|", 1)[1]]["jobs"] += 1
    for t in tasks:
        per_layer[log["jobs"][t["job"]]["group"].split("|", 1)[1]]["tasks"] += 1
    return metrics, dict(per_layer)


# -------------------------------------------------------- streaming listener


def streaming_listener():
    """A StreamingQueryListener that keeps every progress event's
    duration breakdown, keyed by query run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self.cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.cv:
                self.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "rows": p.numInputRows,
                        "durations": dict(p.durationMs or {}),
                    }
                )
                self.cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cv:
                self.terminated.add(str(event.runId))
                self.cv.notify_all()

        def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
            deadline = time.monotonic() + timeout
            with self.cv:
                while len(self.terminated) < n and time.monotonic() < deadline:
                    self.cv.wait(deadline - time.monotonic())

    return Listener()
