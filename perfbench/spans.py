"""Spans around the benchmark's calls into each layer, and the event-log fold.

A span records its name, start, end, parent and op id.  Each span sets its
own Spark job group, so every job a layer call starts carries the span's id
in the event log; :func:`fold_eventlog` then sums each group's ``TaskEnd``
metrics.  Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = -1

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        """A span; a span opened with no parent starts a new op."""
        if not self._stack:
            self._op += 1
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end_ms"] is not None]

    def subtree(self, sid: int) -> list[int]:
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children[cur])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Fold:
    """Per-job-group sums of the event log's task metrics."""

    def __init__(self):
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.m: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def group_of(self, sid: int) -> str:
        return f"{GROUP_PREFIX}{sid}"

    def total(self, tracer: Tracer, sids, key: str) -> float:
        """Sum of ``key`` over the spans ``sids`` and everything under them."""
        groups = {self.group_of(x) for s in sids for x in tracer.subtree(s)}
        if key == "jobs":
            return float(sum(self.jobs[g] for g in groups))
        return float(sum(self.m[g][key] for g in groups))

    def all_groups(self, key: str) -> float:
        if key == "jobs":
            return float(sum(self.jobs.values()))
        return float(sum(m[key] for m in self.m.values()))

    def driver_gap_ms(self, tracer: Tracer, sid: int) -> float:
        """Span wall time minus the union of its stages' run intervals."""
        span = tracer.spans[sid]
        lo, hi = span["start_ms"], span["end_ms"]
        ivs = sorted(
            (max(a, lo), min(b, hi))
            for x in tracer.subtree(sid)
            for a, b in self.stages[self.group_of(x)]
            if min(b, hi) > max(a, lo)
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (hi - lo) - covered


def fold_eventlog(eventlog_dir: str) -> Fold:
    """Fold ``TaskEnd`` metrics by job group (read after the session stops)."""
    files = sorted(
        (p for p in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True) if os.path.isfile(p)),
        key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)],
    )  # rolled files in numeric order: a job's start precedes its tasks
    fold = Fold()
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    fold.jobs[group] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    if info.get("Submission Time") and info.get("Completion Time"):
                        fold.stages[group].append(
                            (float(info["Submission Time"]), float(info["Completion Time"]))
                        )
                        fold.m[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    tm = ev.get("Task Metrics") or {}
                    m = fold.m[group]
                    m["tasks"] += 1
                    m["run_ms"] += tm.get("Executor Run Time", 0)
                    m["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    m["gc_ms"] += tm.get("JVM GC Time", 0)
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    inp = tm.get("Input Metrics") or {}
                    m["input_bytes"] += inp.get("Bytes Read", 0)
                    m["input_records"] += inp.get("Records Read", 0)
    return fold
