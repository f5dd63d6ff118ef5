#!/usr/bin/env python3
"""Summarize and compare benchmark run records.

    python3 perfbench/report.py [RUNS_DIR]
        per workload: median, quartile spread (IQR / median) and sample
        count of every end-to-end metric over the untraced runs; the
        per-layer table of the newest traced run; the tracing overhead
        (traced job_s over untraced job_s).
    python3 perfbench/report.py compare BASE_DIR NEW_DIR
        medians of NEW against BASE per workload and end-to-end metric,
        judged by the bounds in BENCHMARK.json.

Records are grouped by host fingerprint and never compared across
fingerprints: `compare` refuses when the two sets differ.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, "perfbench", "work", "runs")


def load(runs_dir: str) -> list[dict]:
    recs = []
    for p in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def fp_key(rec: dict) -> str:
    return json.dumps(rec["fingerprint"], sort_keys=True)


def spread(xs: list[float]) -> float:
    """Inter-quartile distance over the median."""
    if len(xs) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else 0.0


def e2e_table(recs: list[dict]) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over finished, correct untraced runs."""
    out: dict[str, dict[str, list[float]]] = {}
    for r in recs:
        if r.get("trace") or r.get("partial") or not r.get("correct"):
            continue
        for k, v in r.get("metrics", {}).items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    return out


def summarize(recs: list[dict]) -> None:
    groups: dict[str, list[dict]] = {}
    for r in recs:
        groups.setdefault(fp_key(r), []).append(r)
    for key, rs in groups.items():
        print(f"== host {key}")
        bad = [r for r in rs if r.get("partial") or not r.get("correct")]
        for r in bad:
            print(f"  FAILED/partial run {r['run']}: "
                  f"{(r.get('failures') or ['unfinished'])[-1][:200]}")
        table = e2e_table(rs)
        for wl, metrics in sorted(table.items()):
            for k, xs in metrics.items():
                print(f"  {wl:10s} {k:14s} median {statistics.median(xs):12.4f}"
                      f"  spread {spread(xs):6.3f}  n={len(xs)}")
        for wl in sorted({r["workload"] for r in rs}):
            traced = [r for r in rs if r["workload"] == wl and r.get("trace")
                      and r.get("correct") and not r.get("partial")]
            if not traced:
                continue
            last = traced[-1]
            print(f"  {wl}: per-layer table of {last['run']} "
                  f"(epoch tail = {last.get('epoch_tail')})")
            for k, v in last["metrics"].items():
                if v:
                    print(f"    {k:42s} {v:14.4f}")
            tj = [r["metrics"]["trace.job_s"] for r in traced]
            uj = table.get(wl, {}).get("job_s")
            if uj:
                print(f"  {wl}: tracing overhead: traced job_s "
                      f"{statistics.median(tj):.3f} (n={len(tj)}) / untraced "
                      f"{statistics.median(uj):.3f} (n={len(uj)}) = "
                      f"{statistics.median(tj) / statistics.median(uj):.3f}")
            ev = last.get("eventlog", {})
            if ev:
                spans = sum(last["metrics"].get(f"{s}.task_cpu_s", 0)
                            for s in {x["layer"] for x in last["spans"]})
                print(f"  {wl}: event-log task CPU {ev['total']['task_cpu_s']:.3f}"
                      f" s = layers {spans:.3f} + other "
                      f"{ev['other']['task_cpu_s']:.3f}")


def compare(base_dir: str, new_dir: str) -> int:
    base, new = load(base_dir), load(new_dir)
    fps = {fp_key(r) for r in base + new}
    if len(fps) != 1:
        print("refusing to compare: records come from different hosts:")
        for k in sorted(fps):
            print("  " + k)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    tb, tn = e2e_table(base), e2e_table(new)
    worse = 0
    for wl in sorted(set(tb) | set(tn)):
        for k, m in spec.items():
            xb, xn = tb.get(wl, {}).get(k), tn.get(wl, {}).get(k)
            if not xb or not xn:
                print(f"{wl:10s} {k:14s} missing")
                continue
            mb, mn = statistics.median(xb), statistics.median(xn)
            change = (mn - mb) / mb if m["better"] == "lower" else (mb - mn) / mb
            verdict = "worse" if change > m["bound"] else "ok"
            if spread(xb) > m["bound"] and verdict == "ok":
                verdict = "unresolved"
            worse += verdict == "worse"
            print(f"{wl:10s} {k:14s} base {mb:10.4f} new {mn:10.4f} "
                  f"worse-by {change:+.3f} (bound {m['bound']}) {verdict}")
    return 1 if worse else 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["compare"] and len(argv) == 3:
        return compare(argv[1], argv[2])
    if len(argv) > 1:
        print(__doc__)
        return 2
    summarize(load(argv[0] if argv else RUNS))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
