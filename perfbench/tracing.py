"""Span recording and Spark event-log accounting for the traced run.

A span is opened by the benchmark around each call into a layer (the
system code is not instrumented).  While a span is open its id is the
Spark job group of the calling thread, so every job, stage and task the
call triggers is attributed to it through the event log that the traced
run enables before the JVM starts.  Spans stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records spans (name, start, end, parent, workload) when ``enabled``;
    otherwise every method is a pass-through, so the untraced run sets no
    job groups and keeps no spans."""

    def __init__(self, workload: str, enabled: bool):
        self.sc = None  # the SparkContext job groups are set on, once started
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:  # between sessions during set-up
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log

def _zero() -> dict:
    return defaultdict(float)


def read_event_logs(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, executor run/CPU/GC time,
    shuffle/spill/input/output volumes, and JDBC-scan stage and task
    counts.

    A stage is charged to the job group of the job that submitted it
    (``SparkListenerStageSubmitted`` carries the submitting properties).
    JDBC-scan stages are those whose RDD lineage holds a ``JDBCRDD``; a
    scan task is useful when it passed >= 1 row on (read, shuffled or
    wrote a record)."""
    groups: dict[str, dict] = defaultdict(_zero)
    for f in sorted(log_dir.iterdir()):
        stage_group: dict[int, str] = {}
        jdbc_stage: set[int] = set()
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    groups[g or "-"]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    stage_group[sid] = g
                    if any("JDBCRDD" in r.get("Name", "") for r in info.get("RDD Info", [])):
                        jdbc_stage.add(sid)
                        groups[g]["jdbc_stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    acc = groups[stage_group.get(sid, "-")]
                    acc["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        acc["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    acc["input_records"] += im.get("Records Read", 0)
                    acc["input_bytes"] += im.get("Bytes Read", 0)
                    om = m.get("Output Metrics") or {}
                    acc["output_bytes"] += om.get("Bytes Written", 0)
                    if sid in jdbc_stage:
                        acc["jdbc_tasks"] += 1
                        passed = (im.get("Records Read", 0) + om.get("Records Written", 0)
                                  + sw.get("Shuffle Records Written", 0))
                        acc["jdbc_useful_tasks"] += passed >= 1
    return groups


def subtree_totals(spans: list[dict], groups: dict[str, dict]) -> dict[str, dict]:
    """Span id -> counters of its own job group plus all descendants'."""
    children: dict[str | None, list[str]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    memo: dict[str, dict] = {}

    def total(sid: str) -> dict:
        if sid not in memo:
            acc = _zero()
            for k, v in groups.get(sid, {}).items():
                acc[k] += v
            for c in children[sid]:
                for k, v in total(c).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: total(s["id"]) for s in spans}
