"""End-to-end pipeline runner: S1 ingest → ... → S8 clusters, with every
stage checkpointed through StageCheckpoint (per-partition lineage, resume).

run_pipeline() is what `spark-submit --py-files cdstore_spark.zip` would
invoke on a real cluster; entry()/queries() in __spark_entry__.py call it
for the driver's gates.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

from pyspark.sql import SparkSession

from ..config import DEFAULT, PipelineConfig
from . import candidates as S_cand
from . import cluster as S_clust
from . import featurize as S_feat
from . import verify as S_verify
from .snapshot import StageCheckpoint, chunk_filter

#: bump when a stage's on-disk schema or semantics change — invalidates
#: every existing snapshot chunk via the stage fingerprint
ENGINE_LAYOUT_VERSION = 6


def _input_files(path: str) -> list[list]:
    """(relative name, size, mtime_ns) of every file under a parquet file
    or directory: a table rewritten in place changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return [[os.path.basename(path), st.st_size, st.st_mtime_ns]]
    out = []
    for root, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            out.append([os.path.relpath(os.path.join(root, name), path),
                        st.st_size, st.st_mtime_ns])
    return sorted(out)


def stage_fingerprint(cfg: PipelineConfig, n_chunks: int,
                      clips_path: str) -> str:
    """Identity of a pipeline computation: config + chunking + input path
    and files + layout version. Stored in every snapshot manifest entry; a
    mismatch forces recomputation instead of serving stale chunks."""
    blob = json.dumps({
        "cfg": dataclasses.asdict(cfg), "n_chunks": n_chunks,
        "input": os.path.abspath(clips_path),
        "files": _input_files(clips_path),
        "layout": ENGINE_LAYOUT_VERSION}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def run_pipeline(spark: SparkSession, clips_path: str, workdir: str,
                 cfg: PipelineConfig = DEFAULT, n_chunks: int = 4) -> dict:
    """Checkpointed run. Returns stage DataFrames + lineage records.

    Stage keying for resume: features + verify chunk on xxhash64 of the
    stage key (clip_id / pair key); candidates + clusters are global
    shuffles, checkpointed whole (chunk 0) — their inputs are already
    snapshots, so a resume replays only what is missing.
    """
    clips = S_feat.load_clips(spark, clips_path)
    fp = stage_fingerprint(cfg, n_chunks, clips_path)

    ck_feat = StageCheckpoint(workdir, "s2_features", n_chunks, fp)
    # payload-local featurize: chunk membership = row-group index mod
    # n_chunks (deterministic, shuffle-free, resume-aligned)
    feats = ck_feat.run(
        spark,
        lambda i: S_feat.featurize_from_parquet(
            spark, clips_path, cfg,
            unit_filter=lambda idx, _n, i=i: idx % n_chunks == i),
        hash_cols_for_lineage=["clip_id", "simhash_audio", "simhash_text",
                               "n_events", "pcm_sha256"])

    # ONE candidate_pairs invocation: pairs and skew stats are separate
    # plans over the same exploded-bands input (each materialized once via
    # its own StageCheckpoint below; the bands explode itself recomputes
    # per plan — it is a cheap narrow projection of the feature snapshot)
    pairs_plan, skew_plan = S_cand.candidate_pairs(feats, cfg)

    ck_cand = StageCheckpoint(workdir, "s6_candidates", 1, fp)
    cand = ck_cand.run(
        spark, lambda _i: pairs_plan,
        hash_cols_for_lineage=["a", "b"])

    ck_skew = StageCheckpoint(workdir, "s6_skew_stats", 1, fp)
    skew_stats = ck_skew.run(
        spark, lambda _i: skew_plan,
        hash_cols_for_lineage=["channel", "n_buckets", "max_bucket"])

    ck_ver = StageCheckpoint(workdir, "s7_confirmed", n_chunks, fp)
    # chunks are disjoint hash ranges of the pair key — run them
    # CONCURRENTLY so one chunk's driver-serial phases (broadcast builds,
    # small-stage scheduling) overlap another's executor work. Each
    # chunk's joins are sized by Spark's own broadcast thresholds
    ver_workers = min(4, n_chunks)
    confirmed = ck_ver.run(
        spark,
        lambda i: S_verify.verify_candidates(
            cand.where(chunk_filter("a", n_chunks, i)), feats, cfg),
        hash_cols_for_lineage=["a", "b", "audio_ok", "text_ok"],
        max_workers=ver_workers)

    ck_clust = StageCheckpoint(workdir, "s8_clusters", 1, fp)
    clusters = ck_clust.run(
        spark,
        lambda _i: S_clust.connected_components(
            confirmed.select("a", "b"), clips.select("clip_id"),
            edges_distinct=True),
        hash_cols_for_lineage=["clip_id", "cluster_id"])

    lineage = {ck.stage: ck.lineage()
               for ck in (ck_feat, ck_cand, ck_skew, ck_ver, ck_clust)}
    return {"clips": clips, "feats": feats, "candidates": cand,
            "confirmed": confirmed, "clusters": clusters,
            "lineage": lineage, "skew_stats": skew_stats}
