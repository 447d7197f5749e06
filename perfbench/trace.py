"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark's own code around its calls into
each layer (and by thin wrappers it installs around a few library
entry points for the traced run only). Spark job and stage metrics are
read from the JVM status store by job group. Everything stays in
memory until ``Tracer.dump`` at exit.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, ``span`` yields None and records
    nothing; ``enabled`` may be toggled between operations."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **(extra or {})}, fh, default=str)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self time in seconds: the span's duration minus the
    part of its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _union_length(kids)
    return out


def layer_self_ms(spans: list[dict]) -> dict[str, float]:
    """span name -> total self time in ms over all spans of that name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] * 1000.0
    return out


def breakdown(spans: list[dict], name: str) -> dict[str, float]:
    """For every span called ``name``: total ms, per-child-name ms and
    self ms, summed over those spans (child + self == total)."""
    by_id = {s["id"]: s for s in spans}
    st = self_times(spans)
    out = {"total_ms": 0.0, "self_ms": 0.0, "children_ms": {}}
    roots = {s["id"] for s in spans if s["name"] == name}
    for s in spans:
        if s["id"] in roots:
            out["total_ms"] += (s["end"] - s["start"]) * 1000.0
            out["self_ms"] += st[s["id"]] * 1000.0
        elif s["parent"] in roots:
            parent = by_id[s["parent"]]
            clipped = min(s["end"], parent["end"]) - max(s["start"], parent["start"])
            kids = out["children_ms"]
            kids[s["name"]] = kids.get(s["name"], 0.0) + max(0.0, clipped) * 1000.0
    return out


def wrap(tracer: Tracer, owner, attr: str, name: str, skip_nested: bool = False,
         record=None):
    """Replace ``owner.attr`` by a function that records a span around
    each call. ``record(rec, args, result)`` may add attributes.
    Returns an undo callable."""
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        if not tracer.enabled or (skip_nested and tracer.inside(name)):
            return orig(*args, **kwargs)
        with tracer.span(name) as rec:
            result = orig(*args, **kwargs)
            if record is not None:
                record(rec, args, result)
            return result

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


class SparkJobs:
    """Job and stage metrics of one job group, from the status store
    the Spark UI reads (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> dict:
        """Sum over the group's jobs: jobs, tasks, stage metrics, and
        the union of the jobs' submit-to-complete intervals."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {"jobs": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
               "input_bytes": 0, "input_rows": 0, "shuffle_write_bytes": 0,
               "output_bytes": 0, "job_ms": 0.0}
        intervals = []
        for jid in self.tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            it = job.stageIds().iterator()
            while it.hasNext():
                st = store.lastStageAttempt(it.next())
                if str(st.status()) == "SKIPPED":
                    continue
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["input_bytes"] += st.inputBytes()
                out["input_rows"] += st.inputRecords()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["output_bytes"] += st.outputBytes()
        out["job_ms"] = _union_length(intervals)
        return out


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # fields[1] is the parent pid, fields[21] the resident pages
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * page
    total, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        total += rss.get(pid, 0)
        frontier += children.get(pid, [])
    return total


class RssSampler:
    """Background thread sampling the resident size of this process
    tree (Python driver, JVM, Python workers); keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
