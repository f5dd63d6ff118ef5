"""Dump .explain("formatted") for declared queries to files.

Usage: python tools/dump_plans.py <sf_dir> <out_dir> <suffix> [query ...]

Run from the repo root whose __spark_entry__.py you want to plan
(works from a git worktree too — imports resolve against cwd, so the
round-start tree's plans come from the round-start code).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as E
    from cdstore_spark.engine.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    for name in names:
        if name not in qs:
            print(f"  {name}: NOT A QUERY", flush=True)
            continue
        try:
            df = qs[name](spark, sf_dir)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            txt = df._jdf.queryExecution().explainString(
                mode.fromString("formatted"))
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"  {name}: {len(txt)} bytes -> {path}", flush=True)
        except Exception as ex:  # noqa: BLE001 — report, don't hide
            print(f"  {name}: ERROR {str(ex)[:300]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
