"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark at a given sf dir, run the matching oracle_sql() through DuckDB
(same pre-registered views), and compare row count + sorted-column-name
schema + an order-insensitive value hash.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VIEWS = ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)
    rows = sorted("\x1f".join(cell(v) for v in rec)
                  for rec in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from cdstore_spark.engine.session import get_spark

    spark = get_spark("contract-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for v in VIEWS:
        p = os.path.join(sf_dir, f"{v}.parquet")
        con.execute(f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{p}')")

    qs = E.queries()
    oracles = E.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            spark_s = time.time() - t0
            if name not in oracles:
                results[name] = {"status": "rows-only",
                                 "rows": len(got), "spark_s": round(spark_s, 1)}
                print(f"  {name:32s} rows-only rows={len(got)} "
                      f"({spark_s:.1f}s)")
                continue
            exp = con.execute(oracles[name]).df()
            ng, cg, hg = _canon(got)
            ne, ce, he = _canon(exp)
            ok = (ng == ne) and (cg == ce) and (hg == he)
            results[name] = {"status": "match" if ok else "MISMATCH",
                             "rows": ng, "oracle_rows": ne,
                             "cols": cg, "oracle_cols": ce,
                             "hash": hg, "oracle_hash": he,
                             "spark_s": round(spark_s, 1)}
            mark = "ok " if ok else "XXX"
            print(f"  {name:32s} {mark} rows={ng}/{ne} hash="
                  f"{'=' if hg == he else f'{hg}!={he}'} cols="
                  f"{'=' if cg == ce else f'{cg} != {ce}'} ({spark_s:.1f}s)")
        except Exception as ex:  # noqa: BLE001 — harness reports, not hides
            results[name] = {"status": "ERROR", "error": str(ex)[:500]}
            print(f"  {name:32s} ERROR {str(ex)[:300]}")
    bad = {k: v for k, v in results.items()
           if v["status"] not in ("match", "rows-only")}
    print(f"\n{len(results) - len(bad)}/{len(results)} ok; "
          f"{len(bad)} failing: {sorted(bad)}")
    with open("/tmp/contract_results.json", "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
