"""Call spans for the traced run, and the Spark event-log roll-up.

``Tracer.span(name, tag)`` times one call from outside the program and
tags every Spark job it starts with ``setJobGroup``. Jobs that carry no
group (the program submits some from its own worker threads, which do
not inherit the caller's job group) are attributed by submission time
to the innermost span open at that moment; the traced run makes its
calls one at a time, so that attribution is exact.

``rollup`` reads the event log that Spark writes with
``spark.eventLog.enabled`` and sums, per tag: shuffle read and write
bytes, spilled bytes, JVM GC time, executor run time, tasks and jobs.
A job counts toward the tag of its span and of every enclosing span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, tag: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "tag": tag,
            "parent": parent,
            "group": f"pb{sid}",
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["sec"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if parent is None:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            else:
                self.sc.setJobGroup(self.spans[parent]["group"], self.spans[parent]["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {k: s[k] for k in ("name", "tag", "start_ms", "end_ms", "parent")}
                    for s in self.spans
                ],
                f,
            )


def _read_events(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


_ZERO = {
    "shuffle_bytes": 0,
    "spill_bytes": 0,
    "gc_s": 0.0,
    "task_s": 0.0,
    "tasks": 0,
    "jobs": 0,
}


def rollup(log_dir: str, spans: list[dict]) -> tuple[dict[str, dict], dict[int, dict]]:
    """Per-tag engine totals, and the same totals per span id (for the
    jobs each span started itself)."""
    events = _read_events(log_dir)
    by_group = {s["group"]: s for s in spans}
    stage_job: dict[int, int] = {}
    job_span: dict[int, dict | None] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        jid = ev["Job ID"]
        props = ev.get("Properties") or {}
        span = by_group.get(props.get("spark.jobGroup.id"))
        if span is None:
            span = _innermost(spans, ev.get("Submission Time", 0))
        job_span[jid] = span
        for sid in ev.get("Stage IDs", []):
            stage_job[sid] = jid

    def tags_of(span: dict | None) -> list[str]:
        out: list[str] = []
        while span is not None:
            if span["tag"] not in out:
                out.append(span["tag"])
            span = spans[span["parent"]] if span["parent"] is not None else None
        return out

    per_tag: dict[str, dict] = {}
    per_span: dict[int, dict] = {}

    def targets(span: dict | None) -> list[dict]:
        out = [per_tag.setdefault(t, dict(_ZERO)) for t in tags_of(span)]
        if span is not None:
            out.append(per_span.setdefault(span["id"], dict(_ZERO)))
        return out

    for jid, span in job_span.items():
        for agg in targets(span):
            agg["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev.get("Stage ID"))
        if jid is None:
            continue
        tm = ev.get("Task Metrics") or {}
        rd = tm.get("Shuffle Read Metrics") or {}
        wr = tm.get("Shuffle Write Metrics") or {}
        for agg in targets(job_span.get(jid)):
            agg["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            agg["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            agg["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            agg["tasks"] += 1
    return per_tag, per_span


def _innermost(spans: list[dict], t_ms: float) -> dict | None:
    best = None
    for s in spans:
        end = s["end_ms"] if s["end_ms"] is not None else float("inf")
        if s["start_ms"] <= t_ms <= end and (best is None or s["start_ms"] >= best["start_ms"]):
            best = s
    return best
