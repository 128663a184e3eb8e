"""Tracing for the benchmark's per-layer run.

Spans are recorded by the benchmark around its own calls into the
program's public functions; nothing inside the program changes. Each
span also sets a Spark job group, so the Spark event log attributes
every job started inside the call to one group. ``fold_event_log``
turns the task-end records into per-group figures.

Layers are the program's modules, named as in the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

LAYERS = (
    "session",
    "sources",
    "plans",
    "operators.bucketing",
    "operators.tags",
    "operators.textstats",
    "operators.dedup",
    "operators.packing",
    "operators.similarity",
    "sinks",
)
ADDITIVE = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
            "failed_tasks", "job_wall_s")
# Figures reported per layer, in metric-name order.
PER_LAYER = ("call_s", "exec_s", "jobs", "tasks", "task_cpu_s", "gc_s",
             "shuffle_bytes", "spill_bytes", "failed_tasks", "straggler_ratio")


class Tracer:
    """In-memory spans plus job-group tagging. A disabled tracer costs
    one attribute test per call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        group = group or layer
        parent = self._stack[-1][0] if self._stack else None
        sid = len(self.spans)
        self.spans.append({"id": sid, "layer": layer, "name": name, "group": group,
                           "parent": parent, "start": time.perf_counter(), "end": None})
        self._stack.append((sid, group))
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call_s(self) -> dict[str, float]:
        """Driver wall time per layer, counting nested spans of the same
        layer once."""
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            p = s["parent"]
            if p is not None and self.spans[p]["layer"] == s["layer"]:
                continue
            if s["layer"] in out:
                out[s["layer"]] += s["end"] - s["start"]
        return out


def empty() -> dict:
    return {k: 0 for k in ADDITIVE} | {"stages": {}}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task-end figures per job group from the event log(s) in
    ``log_dir``: jobs, tasks, CPU and GC seconds, shuffle-write and
    spill bytes, failed tasks, summed job wall time and, per stage, the
    task durations (for the straggler ratio)."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    groups: dict[str, dict] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    files += sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJob' not in line[:40] and '"SparkListenerTaskEnd"' not in line[:40]:
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[e["Job ID"]] = g
                    job_start[e["Job ID"]] = e["Submission Time"]
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                    groups.setdefault(g, empty())["jobs"] += 1
                elif ev == "SparkListenerJobEnd":
                    g = job_group.get(e["Job ID"], "")
                    groups.setdefault(g, empty())["job_wall_s"] += (
                        e["Completion Time"] - job_start.get(e["Job ID"], e["Completion Time"])
                    ) / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    g = groups.setdefault(stage_group.get(e["Stage ID"], ""), empty())
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += int(bool(info.get("Failed")))
                    g["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get(
                        "Memory Bytes Spilled", 0
                    )
                    g["stages"].setdefault(e["Stage ID"], []).append(
                        (info["Launch Time"], info["Finish Time"])
                    )
    return groups


def straggler_ratio(stages: dict[int, list]) -> float:
    """Slowest over median task time in the stage with the longest span
    from first launch to last finish; 0 when the group ran no task."""
    if not stages:
        return 0.0
    spans = {s: max(f for _, f in t) - min(l for l, _ in t) for s, t in stages.items()}
    tasks = stages[max(spans, key=spans.get)]
    durs = [max(f - l, 1) for l, f in tasks]
    return max(durs) / statistics.median(durs)


def minus(a: dict, b: dict | None) -> dict:
    """Additive figures of ``a`` less those of ``b``, floored at zero;
    stages (and so the straggler ratio) stay those of ``a``."""
    out = {k: max(a[k] - (b[k] if b else 0), 0) for k in ADDITIVE}
    out["stages"] = a["stages"]
    return out


def add(acc: dict, part: dict) -> None:
    for k in ADDITIVE:
        acc[k] += part[k]
    acc["stages"].update(part["stages"])
