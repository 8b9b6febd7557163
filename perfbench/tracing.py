"""Spans, Spark job-group attribution and event-log reduction.

A :class:`Tracer` records one span per call into a layer's public
function (name, start, end, parent, request id). With tracing on, each
span also owns a Spark job group, so the jobs and stages Spark runs
inside it attribute to it: job and stage counts come from the
``StatusTracker`` when the span closes, and executor run/CPU/GC time,
shuffle bytes, spill and Python-worker time come from the session's
event log, reduced per span after the session stops.

With tracing off every method is a near no-op and no job group is set.
With it on, the tracer times its own Spark calls, so a run can report
what tracing added to each end-to-end metric.
Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from pathlib import Path


def steal_seconds() -> float:
    """CPU-steal seconds accumulated on this process's allowed cores
    (the ``steal`` column of ``/proc/stat``)."""
    cpus = os.sched_getaffinity(0)
    total = 0
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("cpu") and line[3:4].isdigit():
                    parts = line.split()
                    if int(parts[0][3:]) in cpus and len(parts) > 8:
                        total += int(parts[8])
    except OSError:
        return 0.0
    return total / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext, once the session exists
        # (start, end) of every stretch the tracer itself spends on Spark
        # calls (job groups, StatusTracker), for the tracing overhead
        self.book: list[tuple[float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        """Time the block as span ``name``; ``rid`` tags one request
        (a query, a generation, a gate)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "group": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            t0 = time.perf_counter()
            sp["group"] = f"perfbench-span-{sp['id']}"
            self.sc.setJobGroup(sp["group"], name)
            self.book.append((t0, time.perf_counter()))
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if sp["group"] is not None:
                self._close_group(sp)
                self.book.append((sp["end"], time.perf_counter()))

    def cost_within(self, a: float, b: float) -> float:
        """Seconds of tracer bookkeeping inside the window [a, b]."""
        return sum(max(0.0, min(e, b) - max(s, a)) for s, e in self.book)

    def _close_group(self, sp: dict) -> None:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(sp["group"]))
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        sp["jobs"] = len(jobs)
        sp["stages"] = stages
        outer = next((s for s in reversed(self._stack) if s["group"]), None)
        if outer is not None:
            self.sc.setJobGroup(outer["group"], outer["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # -- reductions -------------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree_sum(self, sp: dict, key: str) -> float:
        """``key`` summed over the span and all its descendants."""
        total = sp.get(key, 0)
        for c in self.spans:
            if c["parent"] == sp["id"]:
                total += self.subtree_sum(c, key)
        return total

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part of it that its children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == sp["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def coverage(self, sp: dict) -> float:
        dur = sp["end"] - sp["start"]
        return 1.0 - self.self_time(sp) / dur if dur > 0 else 1.0

    def attach_event_log(self, log_dir: str) -> None:
        """Reduce the session's event log into per-span task metrics.

        Each task's metrics go to the span whose job group its stage
        ran under; a span's figures exclude its children's."""
        by_group = {s["group"]: s for s in self.spans if s["group"]}
        for s in by_group.values():
            s.update(dict.fromkeys(_TASK_KEYS, 0))
        stage_group: dict[int, str] = {}
        for path in sorted(Path(log_dir).rglob("*")):
            if not path.is_file() or path.name.startswith((".", "appstatus")):
                continue
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g:
                            stage_group[ev["Stage Info"]["Stage ID"]] = g
                    elif kind == "SparkListenerTaskEnd":
                        sp = by_group.get(stage_group.get(ev.get("Stage ID")))
                        if sp is not None:
                            _add_task(sp, ev)


_TASK_KEYS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_s", "tasks",
)


def _add_task(sp: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sp["tasks"] += 1
    sp["run_s"] += m.get("Executor Run Time", 0) / 1e3
    sp["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    sp["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sp["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sp["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sp["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":  # SQL metric, ms
            sp["python_s"] += float(acc.get("Update") or 0) / 1e3
