"""Span tracing around the engine's public entry points, plus Spark
task metrics attributed to those spans through job groups.

The tracer wraps callables on the objects the benchmark holds (instance
attributes, or module attributes of the runner) -- the engine's own code
is untouched. Each span records name, start, end, parent and trace id;
spans stay in memory until ``dump``. On span entry the wrapper sets the
Spark job group to the span id, so every Spark job the span launches can
be found again in the event log and its tasks' metrics (input, shuffle,
spill, CPU, GC, run time) summed per span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Until ``start`` every method is a
    pass-through, so set-up and the untraced run pay nothing."""

    def __init__(self, spark):
        self.enabled = False
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def start(self) -> None:
        self.enabled = True

    def open_span(self) -> dict | None:
        """The innermost span not yet closed (None outside every span)."""
        return self._stack[-1] if self._stack else None

    # ------------------------------------------------------------ spans
    def _enter(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + 1
        span = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "start": time.monotonic(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"span-{sid}", name)
        return span

    def _exit(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"span-{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        """Root or nested span around a block of benchmark code."""
        if not self.enabled:
            yield None
            return
        s = self._enter(name)
        try:
            yield s
        finally:
            self._exit(s)

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_return(span, args, kwargs, result)`` may add attributes."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self._enter(name)
            try:
                out = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(s["attrs"], args, kwargs, out)
                return out
            finally:
                self._exit(s)

        setattr(owner, attr, traced)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover
        (children of one span run sequentially on the driver thread)."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in self.spans}

    def self_time_check(self) -> dict:
        """Children's self times must never exceed their parent's
        duration; a violation means overlapping or unclosed spans."""
        st = self.self_times()
        by_id = {s["id"]: s for s in self.spans}
        kids: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] += st[s["id"]]
        bad = [
            pid for pid, v in kids.items()
            if v > (by_id[pid]["end"] - by_id[pid]["start"]) + 1e-6
        ]
        neg = [sid for sid, v in st.items() if v < -1e-6]
        return {"parents_checked": len(kids), "violations": len(bad) + len(neg)}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------- event log
TASK_KEYS = (
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
    "cpu_s", "gc_s", "run_s", "tasks",
)


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed) Spark event log in ``log_dir``.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_id: {...}}}``:
    each job carries its span id (from the job group), wall interval and
    stage ids; each stage carries summed task metrics and the list of
    task run times (for skew)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    span = int(group[5:]) if group.startswith("span-") else None
                    jobs[ev["Job ID"]] = {
                        "span": span,
                        "start_ms": ev["Submission Time"],
                        "end_ms": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"], {k: 0 for k in TASK_KEYS} | {"task_run_s": []}
                    )
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    st["tasks"] += 1
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["run_s"] += run_s
                    st["task_run_s"].append(run_s)
    return {"jobs": jobs, "stages": stages}


def per_span_tasks(events: dict) -> dict[int, dict]:
    """Task metrics summed per span id (own jobs only, not children),
    plus the span's job count, job wall seconds and the stage list.
    A stage reused by a later job is counted once, under its first job."""
    out: dict[int, dict] = {}
    seen: set[int] = set()
    for jid in sorted(events["jobs"]):
        job = events["jobs"][jid]
        acc = out.setdefault(
            job["span"], {k: 0 for k in TASK_KEYS} | {"jobs": 0, "job_s": 0.0, "stages": []}
        )
        acc["jobs"] += 1
        acc["job_s"] += (job["end_ms"] - job["start_ms"]) / 1000.0
        for sid in job["stages"]:
            st = events["stages"].get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            for k in TASK_KEYS:
                acc[k] += st[k]
            acc["stages"].append(st)
    return out
