"""Production entry point — launched per the north rule as:

    zip -r cdstore_spark.zip cdstore_spark
    spark-submit --py-files cdstore_spark.zip \
        [--master yarn|k8s://... --num-executors N ...] \
        jobs/run_dedup.py --input <clips parquet dir> \
        --workdir <checkpoint/lineage dir> [--chunks 16]

Runs the full checkpointed pipeline (S1..S10). A killed run re-submitted
with the same --workdir resumes: completed chunks are skipped via the
stage manifests (engine/snapshot.py). Prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="clips parquet path (a directory of parquet "
                         "files; the only supported input)")
    ap.add_argument("--workdir", required=True,
                    help="snapshot/lineage/resume directory")
    ap.add_argument("--chunks", type=int, default=16,
                    help="resume granularity (chunks per stage)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from cdstore_spark.engine.pipeline import run_pipeline

    spark = SparkSession.builder.appName("cdstore-dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    out = run_pipeline(spark, args.input, args.workdir, n_chunks=args.chunks)
    n_clips = out["clusters"].count()
    n_pairs = out["confirmed"].count()
    n_clusters = out["clusters"].select("cluster_id").distinct().count()
    skew = [r.asDict() for r in out["skew_stats"].collect()]
    recomputed = {s: sum(1 for _ in lin) for s, lin in out["lineage"].items()}
    print(json.dumps({
        "clips": n_clips,
        "confirmed_pairs": n_pairs,
        "clusters": n_clusters,
        "wall_s": round(time.time() - t0, 1),
        "clips_per_sec": round(n_clips / (time.time() - t0), 1),
        "skew_stats": skew,
        "chunks_per_stage": recomputed,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
