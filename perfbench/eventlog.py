"""Spark event-log folding keyed by job group.

The traced run gives every layer span its own ``spark.jobGroup.id``; Spark
copies the submitting thread's local properties into every job and stage
it runs, so each stage in the event log names the span that caused it.
``tools/stage_profile.parse_log`` keys by stage id and drops the
properties, hence this parser.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.harness import interval_union

GROUP_KEY = "spark.jobGroup.id"


def read_events(log_dir: str):
    """Yield the JSON events of every (uncompressed, non-rolling) event
    log file under ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log


def fold(events) -> dict:
    """Jobs and stages with their group, times (epoch seconds) and summed
    task metrics: ``{"jobs": [...], "stages": [...]}``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "id": sid, "group": None, "submit": None, "complete": None,
            "task_s": 0.0, "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0,
            "spill": 0, "input_bytes": 0, "task_times": [],
        })

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            st = stage(ev["Stage Info"]["Stage ID"])
            st["group"] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            if info.get("Submission Time") and info.get("Completion Time"):
                st["submit"] = info["Submission Time"] / 1000.0
                st["complete"] = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            st["task_s"] += run_s
            st["task_times"].append(run_s)
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {"jobs": list(jobs.values()), "stages": list(stages.values())}


def in_windows(t: float | None, windows: list[tuple[float, float]]) -> bool:
    return t is not None and any(a <= t <= b for a, b in windows)


def group_totals(stages: list[dict], groups: set) -> dict:
    """Summed metrics of the stages whose group is in ``groups``;
    ``task_skew`` is max ÷ median task time of the heaviest such stage."""
    sel = [s for s in stages if s["group"] in groups]
    out = {k: sum(s[k] for s in sel) for k in
           ("task_s", "gc_s", "shuffle_write", "shuffle_read", "spill", "input_bytes")}
    heavy = max(sel, key=lambda s: s["task_s"], default=None)
    if heavy and heavy["task_times"] and statistics.median(heavy["task_times"]) > 0:
        out["task_skew"] = max(heavy["task_times"]) / statistics.median(heavy["task_times"])
    else:
        out["task_skew"] = 0.0
    return out


def runner_totals(log: dict, windows: list[tuple[float, float]], cores: int) -> dict:
    """Engine totals over the operation ``windows`` (start, end): jobs and
    stages submitted inside them, task and GC seconds, the share of
    ``cores × wall`` that tasks kept busy, and the wall no stage covered."""
    stages = [s for s in log["stages"] if in_windows(s["submit"], windows)]
    jobs = [j for j in log["jobs"] if in_windows(j["submit"], windows)]
    wall = sum(b - a for a, b in windows)
    covered = 0.0
    for a, b in windows:
        covered += interval_union([
            (max(a, s["submit"]), min(b, s["complete"]))
            for s in log["stages"]
            if s["submit"] is not None and s["submit"] < b and s["complete"] > a
        ])
    task_s = sum(s["task_s"] for s in stages)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "task_s": task_s,
        "gc_s": sum(s["gc_s"] for s in stages),
        "busy_frac": task_s / (cores * wall) if wall > 0 else 0.0,
        "gap_s": max(0.0, wall - covered),
    }


def runner_layer(log: dict, windows: list[tuple[float, float]], cores: int) -> dict:
    """``runner.*`` metrics per operation: the totals over the windows
    divided by their count (``busy_frac`` is already a ratio)."""
    n = len(windows)
    return {f"runner.{k}": (v if k == "busy_frac" else v / n)
            for k, v in runner_totals(log, windows, cores).items()}
