"""S9–S10: checkpointed stage snapshots with per-partition lineage + resume.

Graft of CDStore's container/recipe persistence + upload resumability
(SURVEY.md §2.A ops 11–12): every pipeline stage materializes through a
`StageCheckpoint`, which

  * splits the stage into deterministic CHUNKS (hash ranges of the stage
    key), each written as its own parquet directory `<stage>/chunk=<i>/`,
  * records a per-chunk manifest entry (rows, value hash, per-partition row
    counts, wall ms) through artifacts.publish — the lineage/metrics table,
  * on re-run, SKIPS every chunk whose manifest entry holds the stage
    fingerprint (artifacts.reusable) — a killed job
    resumes mid-pipeline without recomputing completed partitions
    (BASELINE.json north_star), and the resumed output is byte-identical
    because chunk membership is a pure hash of the stage key.

Parquet+manifest is the only storage backend. An Iceberg backend (append
snapshots, snapshot-id manifest) waits until the iceberg-spark-runtime jar
is part of the repo's toolchain; until then nothing reads or writes
Iceberg tables.
"""

from __future__ import annotations

import functools
import operator
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import publish, reusable


class StageCheckpoint:
    """Chunked, manifest-tracked materialization of one pipeline stage.

    `fingerprint` identifies the computation that produced a chunk (config
    fields + chunk count + input identity + engine layout version — see
    pipeline.stage_fingerprint). A manifest entry recorded under a
    DIFFERENT fingerprint is treated as missing and its chunk is
    recomputed — resuming a workdir after a config/layout/input change can
    therefore never serve stale or schema-incompatible chunks.
    """

    def __init__(self, workdir: str, stage: str, n_chunks: int = 4,
                 fingerprint: str = "") -> None:
        self.stage = stage
        self.dir = os.path.join(workdir, stage)
        self.manifest_dir = os.path.join(self.dir, "_manifest")
        self.n_chunks = n_chunks
        self.fingerprint = fingerprint
        os.makedirs(self.manifest_dir, exist_ok=True)

    def _entry_path(self, chunk: int) -> str:
        return os.path.join(self.manifest_dir, f"chunk-{chunk:05d}.json")

    def _entry(self, chunk: int) -> dict | None:
        return reusable(self._entry_path(chunk),
                        {"fingerprint": self.fingerprint})

    def _prune_orphan_chunks(self) -> None:
        """Remove chunk dirs/manifests with index >= n_chunks: a resume
        with a smaller chunk count would otherwise read the old run's
        leftover chunk=<i> directories back into the stage DataFrame —
        exactly the stale-data path the fingerprint exists to prevent."""
        import re
        import shutil
        for name in os.listdir(self.dir):
            m = re.fullmatch(r"chunk=(\d+)", name)
            if m and int(m.group(1)) >= self.n_chunks:
                shutil.rmtree(os.path.join(self.dir, name),
                              ignore_errors=True)
        for name in os.listdir(self.manifest_dir):
            m = re.fullmatch(r"chunk-(\d+)\.json", name)
            if m and int(m.group(1)) >= self.n_chunks:
                os.remove(os.path.join(self.manifest_dir, name))

    def run(self, spark: SparkSession,
            compute_chunk: Callable[[int], DataFrame],
            hash_cols_for_lineage: list[str] | None = None,
            max_workers: int = 1) -> DataFrame:
        """Execute missing chunks, record lineage, return the full stage DF.

        `compute_chunk(i)` must return chunk i's rows — typically the stage
        plan filtered by pmod(xxhash64(key), n_chunks) == i, so membership
        is deterministic and a resume recomputes nothing already done.

        `max_workers > 1` submits missing chunks concurrently from a
        thread pool over the same SparkSession: chunk plans are
        independent by construction (disjoint hash ranges, separate
        output dirs, separate manifest entries), and overlapping them
        hides each chunk's driver-serial phases (plan analysis, broadcast
        builds, small-stage scheduling) behind another chunk's executor
        work — a direct cut to the pipeline's serial fraction. Resume
        semantics are unchanged: a chunk's manifest entry is written only
        after its parquet write completes.
        """
        self._prune_orphan_chunks()
        todo = [i for i in range(self.n_chunks) if self._entry(i) is None]

        def _one(i: int) -> None:
            t0 = time.time()
            out = os.path.join(self.dir, f"chunk={i}")
            (compute_chunk(i).withColumn("_part", F.spark_partition_id())
             .write.mode("overwrite").parquet(out))
            written = spark.read.parquet(out)
            hcols = hash_cols_for_lineage or [
                c for c in written.columns if c != "_part"]
            # one aggregation over the written chunk: per-partition rows
            # and value-hash folds; the chunk's rows and hash are their
            # sum and XOR
            parts = sorted(
                (r["_part"], r["rows"], r["h"]) for r in
                written.groupBy("_part").agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.expr("bit_xor(xxhash64("
                           + ", ".join(f"`{c}`" for c in hcols)
                           + "))").alias("h")).collect())
            value_hash = (functools.reduce(operator.xor, (h for *_, h in parts))
                          if parts else None)
            publish(self._entry_path(i), {
                "stage": self.stage, "chunk": i,
                "fingerprint": self.fingerprint,
                "rows": sum(n for _, n, _ in parts),
                "value_hash": str(value_hash),
                "partitions": [{"_part": p, "rows": n} for p, n, _ in parts],
                "wall_ms": int(1000 * (time.time() - t0)),
            })

        if max_workers > 1 and len(todo) > 1:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                # list() re-raises the first chunk failure, like the
                # sequential path
                list(ex.map(_one, todo))
        else:
            for i in todo:
                _one(i)
        self.last_recomputed_chunks = len(todo)
        # drop the lineage partition id AND the 'chunk' column that
        # partition discovery injects from the chunk=<i> directory layout —
        # the returned schema must be exactly the stage's declared schema
        return spark.read.parquet(self.dir).drop("_part", "chunk")

    def lineage(self) -> list[dict]:
        entries = (self._entry(c) for c in range(self.n_chunks))
        return [e for e in entries if e is not None]


def chunk_filter(col: str, n_chunks: int, chunk: int):
    """Deterministic chunk membership predicate for a string key column."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_chunks)) == F.lit(chunk)
