"""Per-layer spans attributed through the Spark event log.

A span wraps one call into a public function of the package. It sets
a Spark job group named after the span, so every job the call starts
(and every stage and task of those jobs) can be charged to it once
the event log is read back after the session stops. Spans are kept in
memory; nothing is written until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class SpanStats:
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    cpu_s: float = 0.0
    input_bytes: int = 0  # size of the files the scans read
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    task_skew: float = 0.0  # max over stages of max / median task time
    _task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def summary(self) -> dict:
        return {k: v for k, v in vars(self).items() if not k.startswith("_")}


class Tracer:
    """Collects span walls in memory; ``attribute`` reads the event
    log once the session has stopped."""

    def __init__(self, sc):
        self.sc = sc
        self.walls: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def attribute(self, log_dir: str) -> dict[str, SpanStats]:
        stats: dict[str, SpanStats] = defaultdict(SpanStats)
        for name, wall in self.walls.items():
            stats[name].wall_s = wall
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        scan_size_ids: set[int] = set()
        exec_scan_bytes: dict[int, int] = defaultdict(int)
        logs = glob.glob(os.path.join(log_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log under {log_dir}, found {logs}")
        with open(logs[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if "sparkPlanInfo" in ev:  # SQL execution start / AQE update
                    scan_size_ids |= _metric_ids(ev["sparkPlanInfo"], "size of files read")
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        if acc_id in scan_size_ids:
                            exec_scan_bytes[ev["executionId"]] += value
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = group
                    stats[group].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        stats[group].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    _add_task(stats[group], ev)
        for execution, size in exec_scan_bytes.items():
            if execution in exec_group:
                stats[exec_group[execution]].input_bytes += size
        for s in stats.values():
            skews = [
                max(ms) / statistics.median(ms)
                for ms in s._task_ms.values()
                if len(ms) >= 2 and statistics.median(ms) > 0
            ]
            s.task_skew = max(skews, default=1.0)
        return stats


def _metric_ids(node: dict, name: str) -> set[int]:
    """Accumulator ids of every SQL metric called ``name`` in a plan."""
    ids = {m["accumulatorId"] for m in node.get("metrics", []) if m.get("name") == name}
    for child in node.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _add_task(s: SpanStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    s.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    s.output_bytes += out.get("Bytes Written", 0)
    s.output_rows += out.get("Records Written", 0)
    s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    if "Launch Time" in info and "Finish Time" in info:
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        s._task_ms[key].append(info["Finish Time"] - info["Launch Time"])
