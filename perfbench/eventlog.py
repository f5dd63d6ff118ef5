"""Fold a Spark event log into per-span task metrics.

The traced run names each layer's jobs with ``setJobGroup(<layer>)`` and
records a wall-clock span around each layer call. A stage's layer is the
job group in its ``SparkListenerStageSubmitted`` properties. Streaming
stages carry the query's run id as their group and go to the stream layer.
Stages under any other group (threads the engine starts itself) take the
layer of the span open at their submission time. Within its layer a stage
goes to the span open at its submission time, which separates repeated
jobs of one run. Stages outside every span (the benchmark's own checks)
go to ``other``. Every task is counted once, so the spans plus ``other``
sum to the log's total.
"""

from __future__ import annotations

import json
import statistics

#: per-span sums taken from each SparkListenerTaskEnd
SUMS = ("task_cpu_s", "task_run_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb")


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    info = ev.get("Task Info") or {}
    return {
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": wr.get("Shuffle Bytes Written", 0) / 1e6,
        "shuffle_read_mb": (rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0)) / 1e6,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
        "duration_s": (info.get("Finish Time", 0)
                       - info.get("Launch Time", 0)) / 1e3,
    }


def _acc() -> dict:
    return dict({k: 0.0 for k in SUMS}, jobs=0, tasks=0, skew=0.0)


def skew(stages: dict[int, list[float]]) -> float:
    """Max over median task time of the heaviest stage (by summed task
    time): the straggler ratio of the stage that dominates the span."""
    heavy = max(stages.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0


def fold(lines, spans: list[dict], stream_layer: str) -> dict:
    """Event-log lines + spans [{layer, start, end}] (epoch seconds,
    non-overlapping) → {"spans": [acc per span], "other": acc,
    "total": acc}; acc = {task_cpu_s, ..., jobs, tasks, skew}."""
    layers = {s["layer"] for s in spans}

    def owner(props: dict, t_ms: float):
        t = t_ms / 1e3
        open_ = [i for i, s in enumerate(spans) if s["start"] <= t <= s["end"]]
        if props.get("sql.streaming.queryId"):
            layer = stream_layer
        elif props.get("spark.jobGroup.id") in layers:
            layer = props["spark.jobGroup.id"]
        elif open_:
            layer = spans[open_[0]]["layer"]
        else:
            return None
        mine = [i for i in open_ if spans[i]["layer"] == layer]
        return mine[0] if mine else None

    per = [_acc() for _ in spans]
    other, total = _acc(), _acc()
    stage_owner: dict[int, int | None] = {}
    durations: dict[int, dict[int, list[float]]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = owner(ev.get("Properties") or {}, ev.get("Submission Time", 0))
            (other if i is None else per[i])["jobs"] += 1
            total["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_owner[info["Stage ID"]] = owner(
                ev.get("Properties") or {}, info.get("Submission Time", 0))
        elif kind == "SparkListenerTaskEnd":
            i = stage_owner.get(ev["Stage ID"])
            row = _task_row(ev)
            acc = other if i is None else per[i]
            for k in SUMS:
                acc[k] += row[k]
                total[k] += row[k]
            acc["tasks"] += 1
            total["tasks"] += 1
            if i is not None:
                durations.setdefault(i, {}).setdefault(
                    ev["Stage ID"], []).append(row["duration_s"])
    for i, stages in durations.items():
        per[i]["skew"] = skew(stages)
    return {"spans": per, "other": other, "total": total}


def fold_file(path: str, spans: list[dict], stream_layer: str) -> dict:
    with open(path) as f:
        return fold(f, spans, stream_layer)
