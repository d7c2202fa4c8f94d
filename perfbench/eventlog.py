"""Fold a Spark event log (uncompressed JSON lines) into task totals per
job group, i.e. per span of the traced run.

Jobs carry their group in ``SparkListenerJobStart.Properties``; each
job lists its stage ids, and every ``SparkListenerTaskEnd`` names its
stage, so a task is charged to the group of the job that ran its stage.
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _empty() -> dict:
    return {k: 0 for k in FIELDS} | {"stage_task_run_s": {}, "stage_shuffle_read": {}}


def fold(path: str) -> dict[str, dict]:
    """Job group → totals. Tasks of jobs with no group land under ''.
    ``stage_task_run_s`` maps each stage id to its tasks' run times and
    ``stage_shuffle_read`` to the shuffle bytes its tasks read."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_empty)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue  # a task that failed before reporting
                sid = ev["Stage ID"]
                t = out[stage_group.get(sid, "")]
                run_s = tm.get("Executor Run Time", 0) / 1e3
                t["tasks"] += 1
                t["executor_run_s"] += run_s
                t["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                rd = tm.get("Shuffle Read Metrics") or {}
                read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                t["shuffle_read_bytes"] += read
                wr = tm.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                t["stage_task_run_s"].setdefault(sid, []).append(run_s)
                t["stage_shuffle_read"][sid] = t["stage_shuffle_read"].get(sid, 0) + read
    return dict(out)


def combine(totals: list[dict]) -> dict:
    """Sum several groups' totals (a span plus its child spans)."""
    out = _empty()
    for t in totals:
        for k in FIELDS:
            out[k] += t[k]
        out["stage_task_run_s"].update(t["stage_task_run_s"])
        out["stage_shuffle_read"].update(t["stage_shuffle_read"])
    return out


def core_util(t: dict, wall_s: float, cores: int) -> float:
    """Executor run time ÷ (wall × cores): 1.0 means every core ran a
    task for the whole span; the rest is waiting (driver work, stragglers,
    Python workers competing for the same cores)."""
    return t["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0


def task_skew(t: dict) -> float:
    """max/median task run time of the stage that read the most shuffle
    bytes in these totals (the salted repartition's reduce side)."""
    reads = t["stage_shuffle_read"]
    if not reads:
        return 0.0
    best = max(reads, key=lambda sid: (reads[sid], sid))
    return _max_over_median(t["stage_task_run_s"][best])


def _max_over_median(runs: list[float]) -> float:
    if not runs:
        return 0.0
    s = sorted(runs)
    mid = len(s) // 2
    med = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
    return max(s) / med if med > 0 else 0.0
