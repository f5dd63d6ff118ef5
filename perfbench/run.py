#!/usr/bin/env python3
"""Same-host benchmark of cdstore_spark at local[nproc].

    python3 perfbench/run.py --workload clips --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run: build (or reuse) the seed's inputs and references, start one
Spark session (setup_s), run the workload's job until --seconds have
passed (at least once), check every job's output, and print one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json; --trace 1 turns on Spark's event log
and job groups and reports the per-layer metrics. Every run also leaves a
record with the host fingerprint under perfbench/work/runs/, rewritten
after each job so that a killed run still leaves what it finished;
perfbench/report.py summarizes and compares those records.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

WORK = os.path.join(ROOT, "perfbench", "work")
#: a run must exit within 180 s: no new job starts after this many seconds
#: from process start, and the watchdog ends the run at WATCHDOG_S
START_BY_S = 110
WATCHDOG_S = 170


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _atomic_json(path: str, obj) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)


class StderrCapture:
    """Point fd 2 (this process, the driver JVM and the Python workers
    inherit it) at a file; count suspicious lines afterwards."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)

    def summary(self) -> dict:
        with open(self.path, errors="replace") as f:
            lines = f.readlines()
        return {"log": os.path.relpath(self.path, ROOT),
                "error_lines": sum("ERROR" in ln for ln in lines),
                "exception_lines": sum("Exception" in ln for ln in lines),
                "tags_not_inherited": sum("Tags will not be inherited" in ln
                                          for ln in lines)}


def start_session(app: str, traced: bool, heap: str):
    from cdstore_spark.engine.session import get_spark
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    conf = {"spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"}
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir":
                         "file://" + os.path.join(WORK, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     # the fold reads job, stage and task events only; SQL
                     # plan events (AQE re-plans) are ~95% of the log
                     "spark.eventLog.excludedPatterns": ",".join(
                         "org.apache.spark.sql.execution.ui." + e for e in (
                             "SparkListenerSQLAdaptiveExecutionUpdate",
                             "SparkListenerSQLExecutionStart",
                             "SparkListenerSQLAdaptiveSQLMetricUpdates")),
                     "spark.eventLog.includeTaskMetricsAccumulators":
                         "false"})
    os.environ["SPARK_DRIVER_MEM"] = heap
    spark = get_spark(app, parallelism=host.nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process this run
    started (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = host.tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # the Python daemon and workers notice the JVM's exit on their own
    deadline = time.time() + 30
    while (any(host.alive(p) for p in started)
           and time.time() < deadline):
        time.sleep(0.1)
    host.kill_tree()


def tail_pct(n: int) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when there are fewer than 20 samples."""
    if n < 20:
        return "max", 1.0
    p = int(100 * (1 - 10 / n))
    return f"p{p}", p / 100


def quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if q < 1 else xs[-1]


def layer_metrics(spans: list[dict], folded: dict, counts: dict,
                  cores: int) -> dict:
    """Per-layer table: medians over the run's repeated jobs for timings,
    the first job's values for counts. Layers a workload does not call
    report zero."""
    from perfbench.eventlog import SUMS
    from perfbench.workloads import LAYERS
    out: dict[str, float] = {}
    for layer in LAYERS:
        idx = [i for i, s in enumerate(spans) if s["layer"] == layer]
        rows = []
        for i in idx:
            s, acc = spans[i], folded["spans"][i]
            wall = s["end"] - s["start"]
            rows.append(dict(acc, wall_s=wall, cpu_s=s["cpu_s"],
                             util=acc["task_run_s"] / (cores * wall)))
        for k in ("wall_s", "cpu_s", *SUMS, "util", "skew"):
            out[f"{layer}.{k}"] = (statistics.median(r[k] for r in rows)
                                   if rows else 0.0)
        for k in ("jobs", "tasks"):
            out[f"{layer}.{k}"] = rows[0][k] if rows else 0
        out[f"{layer}.rows_out"] = counts.get(f"{layer}.rows_out", 0)
    for k in ("candidates.pairs_per_clip", "candidates.max_bucket",
              "verify.confirm_ratio", "cluster.edges_in", "cluster.clusters",
              "cluster.planted_recall", "ingest.state_bytes_per_input_byte",
              "ingest.leaf_partitions"):
        out[k] = counts.get(k, 0)
    return out


def epoch_metrics(epochs: list[float]) -> dict:
    if not epochs:
        return {"ingest.epoch.p50_s": 0.0, "ingest.epoch.tail_s": 0.0}, "none"
    label, q = tail_pct(len(epochs))
    return {"ingest.epoch.p50_s": statistics.median(epochs),
            "ingest.epoch.tail_s": quantile(epochs, q)}, \
        f"{label} of {len(epochs)}"


def run_one(args) -> int:
    spec = bench_spec()
    traced = bool(args.trace)
    wanted = spec["per_layer" if traced else "end_to_end"]
    t_start = time.time()
    for d in ("runs", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        import cdstore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable: {e}",
              file=sys.stderr)
        return 2
    from perfbench import inputs
    from perfbench.eventlog import fold_file
    from perfbench.workloads import WORKLOADS, Trace, warmup

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    inp = (inputs.clips(WORK, args.seed) if args.workload == "clips"
           else inputs.docs(WORK, args.seed))
    heap = host.driver_heap()
    run_id = (f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}"
              f"-s{args.seed}-t{args.trace}-{os.getpid()}")
    run_path = os.path.join(WORK, "runs", run_id + ".json")
    rec = {"run": run_id, "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "fingerprint": host.fingerprint(heap),
           "input": {k: v for k, v in inp.items()
                     if k not in ("dir", "path", "ident")},
           "setup_s": [], "job_s": [], "epochs_s": [], "attempted": 0,
           "failed": 0, "failures": [], "partial": True}
    _atomic_json(run_path, rec)

    def emit(metrics: dict, correct: bool) -> None:
        rec["metrics"] = metrics
        rec["correct"] = correct
        _atomic_json(run_path, rec)
        units = {m["name"]: m["unit"] for m in wanted}
        print(json.dumps({
            "correct": correct, "attempted": max(1, rec["attempted"]),
            "failed": rec["failed"] if rec["attempted"] else 1,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": units[k]}
                        for k in units}}), flush=True)

    def watchdog() -> None:
        rec["failures"].append(f"watchdog: run exceeded {WATCHDOG_S} s")
        rec["failed"] += 1
        host.kill_tree()
        emit({}, False)
        os._exit(1)

    timer = threading.Timer(WATCHDOG_S - (time.time() - t_start), watchdog)
    timer.daemon = True
    timer.start()
    cap = StderrCapture(os.path.join(WORK, "logs", run_id + ".stderr"))
    spark = None
    counts: dict = {}
    with cap, host.PeakRss() as rss:
        try:
            t0, cpu0 = time.time(), host.tree_cpu_s()
            spark = start_session(f"perfbench-{args.workload}", traced, heap)
            tr = Trace(spark, traced)
            with tr.span("session", 0, t0, cpu0):
                warmup(spark)
            rec["setup_s"].append(time.time() - t0)
            app_id = spark.sparkContext.applicationId
            wl = WORKLOADS[args.workload](spark, inp, WORK)
            t_meas = time.time()
            it = 0
            while it == 0 or (time.time() - t_meas < args.seconds
                              and time.time() - t_start < START_BY_S):
                prep = wl.prepare(it)
                rec["attempted"] += 1
                t1 = time.time()
                got, fails = wl.run(tr, it, prep)
                rec["job_s"].append(time.time() - t1)
                wl.finish(tr, it, prep, got)
                rec["epochs_s"] += got.pop("epochs_s", [])
                if fails:
                    rec["failed"] += 1
                    rec["failures"] += fails
                if it == 0:
                    counts = got
                elif {k: got.get(k) for k in counts} != counts:
                    rec["failed"] += 1
                    rec["failures"].append(f"job {it} counts differ")
                _atomic_json(run_path, rec)
                it += 1
        except Exception:
            rec["failed"] += 1
            rec["failures"].append(traceback.format_exc())
        finally:
            if spark is not None:
                stop_session(spark)
    timer.cancel()
    rec["stderr"] = cap.summary()
    rec["spans"] = tr.spans if spark is not None else []
    rec["peak_rss_mb"] = rss.peak_mb
    rec["raw_peak_rss_mb"] = rss.raw_peak_mb
    rec["raw_peak_rss_split_mb"] = rss.split
    rec["fail_ratio"] = rec["failed"] / max(1, rec["attempted"])
    rec["counts"] = counts
    correct = rec["failed"] == 0 and bool(rec["job_s"])
    if counts.get("cluster.planted_recall", 1.0) < 0.99:
        print(f"perfbench: WARN: planted recall "
              f"{counts['cluster.planted_recall']:.4f} < 0.99 (the oracle's "
              f"too)", file=sys.stderr)
    if not correct:
        for f in rec["failures"]:
            print(f"perfbench: FAILED: {f}", file=sys.stderr)
        with open(cap.path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    metrics: dict = {}
    if rec["job_s"]:
        job_s = statistics.median(rec["job_s"])
        ep, rec["epoch_tail"] = epoch_metrics(rec["epochs_s"])
        if traced:
            spans = tr.spans
            folded = fold_file(os.path.join(WORK, "eventlog", app_id),
                               spans, "ingest.epoch")
            metrics = layer_metrics(spans, folded, counts, host.nproc())
            metrics.update(ep)
            metrics["trace.job_s"] = job_s
            rec["eventlog"] = {"app": app_id, "total": folded["total"],
                               "other": folded["other"]}
        else:
            metrics = {"setup_s": statistics.median(rec["setup_s"]),
                       "job_s": job_s, "items_per_s": wl.items / job_s,
                       "peak_rss_mb": rss.peak_mb}
            rec["epoch_metrics"] = ep
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if correct and missing:
        rec["failures"].append(f"metrics not produced: {missing}")
        correct = False
    rec["partial"] = False
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"{'ok' if correct else 'FAILED'}; record {run_path}; stderr "
          f"{rec['stderr']}", file=sys.stderr)
    emit(metrics, correct)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process, one after another; the combined
    result file is rewritten after each so a cut leaves what finished."""
    from perfbench.workloads import WORKLOADS
    os.makedirs(WORK, exist_ok=True)
    out_path = os.path.join(
        WORK, f"all-{time.strftime('%Y%m%dT%H%M%S')}-t{args.trace}.json")
    combined: dict = {"seed": args.seed, "trace": args.trace, "results": {}}
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               timeout=WATCHDOG_S + 10)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            res["exit_code"] = p.returncode
        except subprocess.TimeoutExpired:
            res = {"correct": False, "error": "timeout"}
        except json.JSONDecodeError as e:
            res = {"correct": False, "error": f"unparseable output: {e}"}
        combined["results"][name] = res
        _atomic_json(out_path, combined)
        rc = rc or (0 if res.get("correct") else 1)
        for k, v in res.get("metrics", {}).items():
            print(f"{name:10s} {k:40s} {v['value']:>14.4f} {v['unit']}",
                  file=sys.stderr)
    print(json.dumps(combined), flush=True)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
