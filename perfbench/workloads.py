"""The benchmark's workloads: one job per call, each layer call wrapped in
a span, each output checked against its reference.

A job returns the layer counts it observed and the list of failed checks.
Timing of the whole job (input path to checked result) is the caller's.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

import pyarrow.parquet as pq

from . import host
from .inputs import load_ref

#: every layer the benchmark measures, in pipeline order. A span wraps one
#: materialized call into the named public function.
LAYERS = ("session", "featurize", "candidates", "verify", "cluster",
          "textops.signatures", "textops.lsh_pairs", "ingest.epoch",
          "ingest.lookup")
#: job group of work the benchmark does itself (checks, collects)
BENCH_GROUP = "bench"
#: arrival files the clip table is split into for the stream; the ingest
#: source admits 4 files per micro-batch, so this gives 2 epochs: the
#: first builds the band index, the second looks it up
STREAM_FILES = 8


class Trace:
    """Spans around layer calls. Traced runs also name each span's Spark
    jobs with setJobGroup(<layer>) and take the process tree's CPU time at
    both ends; untraced runs only read the clock."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, it: int, t0: float | None = None,
             cpu0: float | None = None):
        """Span of one layer call; t0/cpu0 back-date its start (the
        session span opens before the SparkContext exists)."""
        if self.traced:
            self.sc.setJobGroup(layer, layer)
            cpu0 = host.tree_cpu_s() if cpu0 is None else cpu0
        t0 = time.time() if t0 is None else t0
        try:
            yield
        finally:
            rec = {"layer": layer, "iter": it, "start": t0,
                   "end": time.time()}
            if self.traced:
                rec["cpu_s"] = host.tree_cpu_s() - cpu0
                self.sc.setJobGroup(BENCH_GROUP, BENCH_GROUP)
            self.spans.append(rec)


def warmup(spark) -> None:
    """What every job pays once per session: Python worker fork with the
    kernel imports in every slot, and the first build of the capped
    bucket-pair plan shape (analyzer/AQE code paths). The two are
    independent and run as concurrent jobs."""
    from pyspark import InheritableThread

    from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
    cores = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        from cdstore_spark.kernels import (clipfeat, codec, features,  # noqa: F401
                                           sketch, suffix, text)
        yield from batches

    errors: list[Exception] = []

    def _plan() -> None:
        try:
            tiny = spark.createDataFrame(
                [(1, 0), (1, 1), (2, 0), (2, 1), (2, 2)], "k int, m int")
            capped_bucket_pairs(tiny, ["k"], "m", cap=2, soft=2).count()
        except Exception as e:  # re-raised in the calling thread
            errors.append(e)

    t = InheritableThread(target=_plan, session=spark)
    t.start()
    (spark.range(cores * 4).repartition(cores)
     .mapInPandas(_warm, "id long").count())
    t.join()
    if errors:
        raise errors[0]


def _pairs(df, cols) -> set[tuple]:
    return set(df[list(cols)].itertuples(index=False, name=None))


def _nonsingleton(clusters) -> int:
    sizes = clusters.groupby("cluster_id").size()
    return int((sizes > 1).sum())


def stage_stream(inp: dict, work: str, it: int) -> str:
    """Split the clip table into arrival files for one stream run."""
    d = os.path.join(work, f"stream_{os.getpid()}_{it}")
    shutil.rmtree(d, ignore_errors=True)
    in_dir = os.path.join(d, "input")
    os.makedirs(in_dir)
    tbl = pq.read_table(inp["path"])
    step = -(-tbl.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(in_dir, f"part-{i:04d}.parquet"),
                           row_group_size=128)
    return d


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class Clips:
    """Audio batch pipeline over the clip table (featurize → candidates →
    verify → cluster), then the same clips as an arrival stream through
    incremental_dedup_ingest. Confirmed pairs and clusters must equal the
    oracle's; the stream's pairs must equal the batch candidate set."""

    name = "clips"

    def __init__(self, spark, inp: dict, work: str):
        self.spark, self.inp, self.work = spark, inp, work
        self.ref_conf = _pairs(load_ref(inp, "confirmed"),
                               ("a", "b", "audio_ok", "text_ok"))
        self.ref_cand = _pairs(load_ref(inp, "candidates"), ("a", "b"))
        clusters = load_ref(inp, "clusters")
        self.ref_clusters = dict(zip(clusters["clip_id"],
                                     clusters["cluster_id"]))
        self.planted = load_ref(inp, "planted")
        self.items = inp["clips"]

    def prepare(self, it: int) -> str:
        return stage_stream(self.inp, self.work, it)

    def run(self, tr: Trace, it: int, stream_dir: str) -> tuple[dict, list]:
        from cdstore_spark import oracle
        from cdstore_spark.config import DEFAULT as CFG
        from cdstore_spark.engine import candidates as S_cand
        from cdstore_spark.engine import cluster as S_clust
        from cdstore_spark.engine import featurize as S_feat
        from cdstore_spark.engine import verify as S_verify
        from cdstore_spark.engine.scope import cache_scope
        from cdstore_spark.streaming import ingest as I

        spark, path = self.spark, self.inp["path"]
        fails: list[str] = []
        with tr.span("featurize", it):
            feats = S_feat.featurize_from_parquet(spark, path, CFG).persist()
            n_feats = feats.count()
        with tr.span("candidates", it), cache_scope():
            cand_plan, skew_plan = S_cand.candidate_pairs(feats, CFG)
            cand = cand_plan.persist()
            n_cand = cand.count()
            max_bucket = max(r["max_bucket"] for r in skew_plan.collect())
        with tr.span("verify", it), cache_scope():
            conf = S_verify.verify_candidates(cand, feats, CFG,
                                              n_feats=n_feats,
                                              n_cand=n_cand).persist()
            n_conf = conf.count()
        with tr.span("cluster", it):
            clus = S_clust.connected_components(
                conf.select("a", "b"),
                spark.read.parquet(path).select("clip_id"),
                edges_distinct=True).persist()
            n_rows = clus.count()

        cand_pd = cand.select("a", "b").toPandas()
        conf_pd = conf.select("a", "b", "audio_ok", "text_ok").toPandas()
        clus_pd = clus.toPandas()
        for df in (feats, cand, conf, clus):
            df.unpersist()
        got_cand = _pairs(cand_pd, ("a", "b"))
        if got_cand != self.ref_cand:
            fails.append(f"candidates differ from oracle "
                         f"({len(got_cand)} vs {len(self.ref_cand)})")
        if _pairs(conf_pd, ("a", "b", "audio_ok", "text_ok")) != self.ref_conf:
            fails.append(f"confirmed pairs differ from oracle "
                         f"({len(conf_pd)} vs {len(self.ref_conf)})")
        if dict(zip(clus_pd["clip_id"], clus_pd["cluster_id"])) \
                != self.ref_clusters:
            fails.append("clusters differ from oracle")
        # Recall is a property of the detector, identical in the oracle
        # that the outputs already equal exactly; on about one seed in ten
        # a template-block clip stays out of its cluster (recall 0.91-0.99),
        # so it is reported, not gated. Hard-negative hits fail the job.
        q = oracle.recall_vs_planted(conf_pd, self.planted, clus_pd)
        if q["hard_negative_hits"]:
            fails.append(f"hard-negative hits {q['hard_negative_hits']}")

        state = os.path.join(stream_dir, "state")
        with tr.span("ingest.epoch", it):
            query = I.incremental_dedup_ingest(
                spark, os.path.join(stream_dir, "input"), state, CFG)
            query.awaitTermination()
        progress = [p for p in query.recentProgress if p["numInputRows"]]
        stream_pd = (spark.read.parquet(os.path.join(state, "pairs"))
                     .select("a", "b").toPandas())
        got_stream = _pairs(stream_pd, ("a", "b"))
        if len(got_stream) != len(stream_pd) or got_stream != got_cand:
            fails.append(f"stream pairs differ from batch candidates "
                         f"({len(stream_pd)} vs {len(got_cand)})")
        n_ingested = sum(p["numInputRows"] for p in progress)
        if n_ingested != self.items:
            fails.append(f"stream ingested {n_ingested} of {self.items}")

        counts = {
            "featurize.rows_out": n_feats, "candidates.rows_out": n_cand,
            "verify.rows_out": n_conf, "cluster.rows_out": n_rows,
            "ingest.epoch.rows_out": len(stream_pd),
            "candidates.pairs_per_clip": n_cand / n_feats,
            "candidates.max_bucket": max_bucket,
            "verify.confirm_ratio": n_conf / n_cand,
            "cluster.edges_in": n_conf,
            "cluster.clusters": _nonsingleton(clus_pd),
            "cluster.planted_recall": q["recall"],
            "epochs_s": [p["durationMs"]["triggerExecution"] / 1e3
                         for p in progress],
            "next_epoch": max(p["batchId"] for p in progress) + 1,
        }
        return counts, fails

    def finish(self, tr: Trace, it: int, stream_dir: str,
               counts: dict) -> None:
        """Untimed: stream state sizes, the traced-only cold index lookup
        probe, and removal of the stream's files."""
        from cdstore_spark.streaming import ingest as I
        state = os.path.join(stream_dir, "state")
        band_dir = os.path.join(state, "bands")
        counts["ingest.state_bytes_per_input_byte"] = sum(
            _du(os.path.join(state, d)) for d in ("features", "bands", "pairs")
        ) / _du(os.path.join(stream_dir, "input"))
        counts["ingest.leaf_partitions"] = len(
            glob.glob(os.path.join(band_dir, "epoch=*", "bp=*"))
            + glob.glob(os.path.join(I._base_root(band_dir), "v=*", "bp=*")))
        if tr.traced:
            # cold lookup of the whole index, as the next epoch would probe
            # every bucket
            with tr.span("ingest.lookup", it):
                look = I.band_index_lookup(self.spark, band_dir,
                                           counts["next_epoch"],
                                           list(range(I.BAND_INDEX_BUCKETS)))
                counts["ingest.lookup.rows_out"] = (
                    look.count() if look is not None else 0)
        shutil.rmtree(stream_dir, ignore_errors=True)


class DocsSkew:
    """Document MinHash-LSH pairs → connected components over a corpus
    with one planted exact-duplicate group. The pair count must equal the
    capped enumerator's formula and the group must come out as exactly
    one cluster of its size."""

    name = "docs_skew"

    def __init__(self, spark, inp: dict, work: str):
        self.spark, self.inp = spark, inp
        self.items = inp["docs"]

    def prepare(self, it: int) -> None:
        return None

    def run(self, tr: Trace, it: int, _prep) -> tuple[dict, list]:
        from pyspark.sql import functions as F

        from cdstore_spark.engine import cluster as S_clust
        from cdstore_spark.engine.scope import cache_scope
        from cdstore_spark.functions import textops as X

        spark, inp = self.spark, self.inp
        fails: list[str] = []
        docs = spark.read.parquet(inp["path"])
        with tr.span("textops.lsh_pairs", it), cache_scope():
            pairs = X.minhash_lsh_pairs(docs).persist()
            n_pairs = pairs.count()
        with tr.span("cluster", it):
            clus = S_clust.connected_components(
                pairs.select("a", "b"),
                docs.select(F.col("doc_id").alias("clip_id")),
                edges_distinct=True).persist()
            n_rows = clus.count()
        groups = [r["count"] for r in clus.groupBy("cluster_id").count()
                  .where(F.col("count") > 1).collect()]
        pairs.unpersist()
        clus.unpersist()
        if n_pairs != inp["pairs"]:
            fails.append(f"pairs {n_pairs} != capped formula {inp['pairs']}")
        if groups != [inp["hot"]]:
            fails.append(f"non-singleton clusters {sorted(groups)[:5]} "
                         f"!= one of {inp['hot']}")
        counts = {"textops.lsh_pairs.rows_out": n_pairs,
                  "cluster.rows_out": n_rows, "cluster.edges_in": n_pairs,
                  "cluster.clusters": len(groups)}
        return counts, fails

    def finish(self, tr: Trace, it: int, _prep, counts: dict) -> None:
        """Untimed, traced only: signatures alone on the same input
        (minhash_lsh_pairs computes them internally)."""
        from cdstore_spark.functions import textops as X
        if tr.traced:
            with tr.span("textops.signatures", it):
                counts["textops.signatures.rows_out"] = X.doc_signatures(
                    self.spark.read.parquet(self.inp["path"])).count()


WORKLOADS = {c.name: c for c in (Clips, DocsSkew)}
