"""Span tracing and Spark event-log parsing for the traced benchmark run.

Everything here observes ``bifrost_spark`` from the outside: public
functions and methods are wrapped in place (``Tracer.wrap``) for the length
of the run, and executor work is read back from Spark's own event log after
the session stops.  Nothing inside ``bifrost_spark/`` is changed.

Span model: the benchmark opens one *root* span per batch, read or set-up
phase; each wrapped call made while a root is open becomes a child span of
the innermost open span, and each Spark job of the root's job group becomes
a child of the deepest span that was open when the job was submitted.  Spans stay in memory and are written out once, at
the end of the run.  Self time is a span's duration minus the part of its
interval that its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        # per-root event counters, e.g. counts[root_id]["py4j"]
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    # ------------------------------------------------------------- spans
    def _open(self, name: str, attrs: dict) -> dict:
        span = {"id": len(self.spans), "parent": self._stack[-1]["id"] if self._stack else None,
                "root": self._stack[0]["id"] if self._stack else len(self.spans),
                "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def root(self, name: str, **attrs):
        """A root span: one batch, one read or one set-up phase."""
        if self._stack:
            raise RuntimeError("root spans do not nest")
        span = self._open(name, attrs)
        try:
            yield span
        finally:
            self._close(span)

    def add_span(self, parent: dict, name: str, start: float, end: float, **attrs) -> None:
        self.spans.append({"id": len(self.spans), "parent": parent["id"], "root": parent["root"],
                           "name": name, "start": start, "end": end, **attrs})

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a child span for
        every call made while a root span is open."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self._stack:
                return fn(*a, **kw)
            span = self._open(name, {})
            try:
                return fn(*a, **kw)
            finally:
                self._close(span)

        self._patch(owner, attr, fn, traced)

    def count(self, owner, attr: str, name: str) -> None:
        """Like ``wrap`` but only counts calls per root (for calls too
        frequent to give each its own span, e.g. every Py4J round trip)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def counted(*a, **kw):
            if self._stack:
                self.counts[self._stack[0]["id"]][name] += 1
            return fn(*a, **kw)

        self._patch(owner, attr, fn, counted)

    def _patch(self, owner, attr: str, original, replacement) -> None:
        self._patches.append((owner, attr, original))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ---------------------------------------------------------- analysis
    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]].append(s)
        return out

    def descendants(self, root: dict) -> list[dict]:
        return [s for s in self.spans if s["root"] == root["id"] and s["id"] != root["id"]]

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total ms and self ms (duration minus the
        union of its children's intervals)."""
        kids = self.children()
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])]
            )
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["total_ms"] += dur * 1000
            agg["self_ms"] += (dur - covered) * 1000
        return {k: {m: round(v, 3) for m, v in d.items()} for k, d in sorted(out.items())}

    def dump(self, path: str) -> None:
        """Write one JSON line per span; root spans carry their counters."""
        with open(path, "w") as f:
            for s in self.spans:
                if s["parent"] is None:
                    s = {**s, **self.counts.get(s["id"], {})}
                f.write(json.dumps(s) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ------------------------------------------------------------ event log
# Task-metric accumulables summed per job, named as the per-layer metrics.
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.output.recordsWritten": "output_records",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def parse_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Spark jobs of an uncompressed event log, grouped by job group id.

    Each job: ``{"job", "start", "end", "tasks", <summed task metrics>}``
    with times in epoch seconds (the same clock as the spans).  A stage is
    charged to the lowest-numbered job that lists it."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[jid] = {"job": jid, "group": group, "start": ev["Submission Time"] / 1000, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = min(stage_job.get(sid, jid), jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                m: dict[str, float] = defaultdict(float)
                m["tasks"] = info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    key = _ACCUMULABLES.get(acc.get("Name"))
                    if key is not None:
                        m[key] += float(acc.get("Value") or 0)
                stages[info["Stage ID"]] = m
    for sid, m in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        for k, v in m.items():
            job[k] = job.get(k, 0.0) + v
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        if job["group"] is not None and job["end"] is not None:
            out[job["group"]].append(job)
    return out
