"""Tests of the benchmark itself: ``python3 -m pytest perfbench``.

The fold tests run on a synthetic event log. The traced-run tests start
Spark: two traced runs of one seed per workload (about a minute each on
4 cores), checking that the per-layer task CPU sums to the event log's
total and that the deterministic counts repeat exactly.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, run  # noqa: E402


def _job(jid, stage, t_ms, props):
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid,
                       "Submission Time": t_ms, "Stage IDs": [stage],
                       "Properties": props})


def _stage(stage, t_ms, props):
    return json.dumps({"Event": "SparkListenerStageSubmitted",
                       "Stage Info": {"Stage ID": stage,
                                      "Submission Time": t_ms},
                       "Properties": props})


def _task(stage, cpu_ns, run_ms, launch, finish):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor CPU Time": cpu_ns,
                         "Executor Run Time": run_ms, "JVM GC Time": 1,
                         "Disk Bytes Spilled": 0,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                  "Local Bytes Read": 10**6},
                         "Shuffle Write Metrics": {
                             "Shuffle Bytes Written": 2 * 10**6}}})


SPANS = [{"layer": "featurize", "start": 1.0, "end": 5.0},
         {"layer": "ingest.epoch", "start": 5.0, "end": 9.0},
         {"layer": "featurize", "start": 10.0, "end": 12.0}]


def _log():
    g = "spark.jobGroup.id"
    return [
        # named group, inside the first featurize span
        _job(0, 0, 2000, {g: "featurize"}), _stage(0, 2000, {g: "featurize"}),
        _task(0, 2 * 10**9, 3000, 2000, 3000),
        _task(0, 10**9, 1000, 2000, 2500),
        _task(0, 10**9, 1000, 2000, 2500),
        # engine thread with a foreign group: the span open at that time
        _job(1, 1, 3000, {g: "f00-uuid"}), _stage(1, 3000, {g: "f00-uuid"}),
        _task(1, 5 * 10**8, 500, 3000, 3500),
        # streaming stage: query run id as group, goes to the stream layer
        _job(2, 2, 6000, {g: "run-id", "sql.streaming.queryId": "q"}),
        _stage(2, 6000, {g: "run-id", "sql.streaming.queryId": "q"}),
        _task(2, 3 * 10**9, 4000, 6000, 8000),
        # benchmark's own check between spans
        _job(3, 3, 9500, {g: "bench"}), _stage(3, 9500, {g: "bench"}),
        _task(3, 10**9, 100, 9500, 9600),
        # second featurize job, separated by its span
        _job(4, 4, 11000, {g: "featurize"}), _stage(4, 11000, {g: "featurize"}),
        _task(4, 4 * 10**9, 4000, 11000, 11500),
    ]


def test_fold_attributes_every_task_once():
    out = eventlog.fold(_log(), SPANS, "ingest.epoch")
    per, other, total = out["spans"], out["other"], out["total"]
    assert [p["task_cpu_s"] for p in per] == pytest.approx([4.5, 3.0, 4.0])
    assert other["task_cpu_s"] == pytest.approx(1.0)
    for k in eventlog.SUMS + ("jobs", "tasks"):
        assert sum(p[k] for p in per) + other[k] == pytest.approx(total[k])
    assert [p["jobs"] for p in per] == [2, 1, 1]
    assert [p["tasks"] for p in per] == [4, 1, 1]
    assert per[0]["shuffle_write_mb"] == pytest.approx(8.0)
    # heaviest stage of span 0 has task times 1.0, 0.5, 0.5
    assert per[0]["skew"] == pytest.approx(2.0)


def test_capped_pair_count_matches_recorded_engine_output():
    # 629,359 pairs: the engine's output for a 5,000-member group
    assert inputs.capped_pair_count(5000, 256) == 629_359
    assert inputs.capped_pair_count(100, 256) == 4950


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_pct(4) == ("max", 1.0)
    assert run.tail_pct(100) == ("p90", 0.9)
    assert run.quantile([3.0, 1.0, 2.0], 1.0) == 3.0


def _traced(workload: str, seed: int) -> dict:
    before = set(glob.glob(os.path.join(run.WORK, "runs", "*.json")))
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=240)
    assert p.returncode == 0, p.stdout[-2000:]
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
    (new,) = set(glob.glob(os.path.join(run.WORK, "runs", "*.json"))) - before
    with open(new) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["clips", "docs_skew"])
def test_traced_runs_sum_and_repeat(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        counts = [m["name"] for m in json.load(f)["per_layer"]
                  if m["unit"] == "count"]
    a, b = _traced(workload, 5), _traced(workload, 5)
    for rec in (a, b):
        layers = {s["layer"] for s in rec["spans"]}
        ev = rec["eventlog"]
        assert sum(rec["metrics"][f"{lay}.task_cpu_s"] for lay in layers) \
            + ev["other"]["task_cpu_s"] == pytest.approx(
                ev["total"]["task_cpu_s"])
    assert {k: a["metrics"][k] for k in counts} \
        == {k: b["metrics"][k] for k in counts}
