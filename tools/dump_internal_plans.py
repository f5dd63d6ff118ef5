"""Dump .explain("formatted") for INTERNAL pipeline stage plans that the
declared audio queries materialize through snapshots (so their declared
plans are just parquet reads of the snapshot — uninformative).

Builds the candidates stage plan lazily from a lazy featurize plan, so the
dump shows the real stage shape (band explode + capped bucket pairs).

Usage: python tools/dump_internal_plans.py <sf_dir> <out_dir> <suffix>
Run from the repo root whose code you want to plan (worktree-friendly).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> None:
    sf_dir, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    os.makedirs(out_dir, exist_ok=True)

    from cdstore_spark import golden
    from cdstore_spark.config import DEFAULT
    from cdstore_spark.engine import candidates as S_cand
    from cdstore_spark.engine import featurize as S_feat
    from cdstore_spark.engine.session import get_spark

    tier = golden.tier_for_sf_dir(sf_dir)
    golden.ensure_golden(tier)
    clips_path = golden.clips_path(tier)

    spark = get_spark("plan-dump-internal")
    spark.sparkContext.setLogLevel("ERROR")

    feats = S_feat.featurize_from_parquet(spark, clips_path, DEFAULT)
    pairs_plan, skew_plan = S_cand.candidate_pairs(feats, DEFAULT)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    for name, df in [("audio_candidates_stage", pairs_plan)]:
        txt = df._jdf.queryExecution().explainString(
            mode.fromString("formatted"))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"  {name}: {len(txt)} bytes -> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
