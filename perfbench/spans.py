"""Spans recorded from outside the engine, plus Spark's event log.

``Tracer.wrap`` replaces a public function by module attribute with a
wrapper that records a span (name, start, end, parent, run id) and gives
the span its own Spark job group, so every job the call launches can be
attributed to it. Spans stay in memory and are written as JSONL at exit.
``read_event_log`` turns the traced session's event log into per-job
records (group, start, end, stages, tasks, failed tasks, shuffle bytes
written, bytes spilled), which ``layers.per_layer`` joins to spans by
job group.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


class Tracer:
    """Span recorder. When ``enabled`` is false every method is a no-op,
    so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": f"perfbench-{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["group"] if self._stack else IDLE_GROUP
            self.sc.setJobGroup(outer, "")

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call to ``module.attr``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def read_event_log(log_dir: str) -> dict[int, dict]:
    """job id -> {group, start, end (s since epoch), stages, tasks,
    failed_tasks, shuffle_write_bytes, spill_bytes} from every event log
    file under ``log_dir`` (read after the SparkContext stopped, so the
    log is flushed)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a directory per application of rolled event files
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": 0,
                        "tasks": 0,
                        "failed_tasks": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    job = jobs[jid]
                    job["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        job["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    job["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
