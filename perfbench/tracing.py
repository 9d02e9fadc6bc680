"""Spans for the traced run, and the Spark event-log reader.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id). While a span is open every Spark job the main thread submits is
tagged with the span's id through ``setJobGroup``. Jobs submitted from
other threads (the engine overlaps its state appends on a thread pool)
carry no group; :func:`span_stats` gives those to the innermost span
whose interval holds the job's submission time.

:func:`span_stats` reads the uncompressed JSON-lines event log with the
standard library and totals, per span, the jobs, stages, shuffle
read/write bytes, spill and task times of the jobs it owns.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder. Disabled, :meth:`span` only yields a dict."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext whose jobs get tagged

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = self.add(name, time.time(), None)
        self._stack.append(rec["id"])
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = -1) -> dict:
        """Record a span directly; ``parent=-1`` means the open span."""
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": start, "end": end}
        self.spans.append(rec)
        return rec

    def _tag(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span_id}",
                                self.spans[span_id]["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _job_owner(props: dict, submit_s: float, spans: list[dict]) -> int | None:
    group = props.get("spark.jobGroup.id") or ""
    if group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    inner = None
    for s in spans:
        if s["end"] is not None and s["start"] <= submit_s <= s["end"]:
            if inner is None or s["start"] >= inner["start"]:
                inner = s
    return None if inner is None else inner["id"]


def span_stats(event_log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, stages, shuffle read/write MB, spill MB, and
    max / median task run time (ms) over the jobs the span owns.
    A parent's figures include its children's."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    tasks: dict[int, list[tuple]] = {}
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    owner = _job_owner(ev.get("Properties") or {},
                                       ev["Submission Time"] / 1000.0, spans)
                    if owner is not None:
                        job_span[ev["Job ID"]] = owner
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        wr.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        m.get("Executor Run Time", 0),
                    ))

    parent = {s["id"]: s["parent"] for s in spans}
    acc: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        return acc.setdefault(sid, {"jobs": 0, "stages": 0, "read": 0, "write": 0,
                                    "spill": 0, "task_ms": []})

    for job, owner in job_span.items():
        sid = owner
        while sid is not None:
            bucket(sid)["jobs"] += 1
            sid = parent.get(sid)
    for stage, job in stage_job.items():
        if stage not in stages_done:
            continue  # skipped stage: its shuffle output was reused
        sid = job_span[job]
        rows = tasks.get(stage, [])
        while sid is not None:
            b = bucket(sid)
            b["stages"] += 1
            for rd, wr, sp, ms in rows:
                b["read"] += rd
                b["write"] += wr
                b["spill"] += sp
                b["task_ms"].append(ms)
            sid = parent.get(sid)

    mb = 1024.0 * 1024.0
    return {
        sid: {
            "jobs": b["jobs"], "stages": b["stages"],
            "shuffle_read_mb": b["read"] / mb, "shuffle_write_mb": b["write"] / mb,
            "spill_mb": b["spill"] / mb,
            "task_max_ms": max(b["task_ms"], default=0),
            "task_p50_ms": statistics.median(b["task_ms"]) if b["task_ms"] else 0,
        }
        for sid, b in acc.items()
    }
