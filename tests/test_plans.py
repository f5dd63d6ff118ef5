"""Physical-plan assertions: the optimizations SURVEY.md §4.2 claims are
real must show up in explain() — predicate pushdown into the parquet scan,
column pruning of the heavy `bytes` column, broadcast joins for small dims.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdstore_spark import golden
from cdstore_spark.engine import featurize as S_feat


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


class TestPlans:
    def test_filter_pushdown_to_parquet(self, spark, smoke_golden):
        clips = S_feat.load_clips(spark, golden.clips_path("smoke"))
        plan = _plan(clips.where(F.col("codec") == "ulaw")
                     .select("clip_id", "codec"))
        assert "PushedFilters" in plan
        assert "codec" in plan.split("PushedFilters")[1][:200]

    def test_bytes_pruned_from_projection(self, spark, smoke_golden):
        clips = S_feat.load_clips(spark, golden.clips_path("smoke"))
        plan = _plan(clips.select("clip_id", "dur_ms")
                     .groupBy().agg(F.sum("dur_ms")))
        scan = plan.split("ReadSchema")[1].splitlines()[0]
        assert "bytes" not in scan, scan

    def test_small_dim_broadcast(self, spark):
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        j = c.join(F.broadcast(n),
                   c.c_nationkey == n.n_nationkey).select("c_custkey",
                                                          "n_name")
        assert "BroadcastHashJoin" in _plan(j)

    def test_candidate_join_is_hash_partitioned_on_band_key(
            self, spark, smoke_golden):
        from cdstore_spark.config import DEFAULT
        from cdstore_spark.engine import candidates as S_cand
        feats = S_feat.featurize_from_parquet(
            spark, golden.clips_path("smoke"), DEFAULT)
        pairs, _ = S_cand.candidate_pairs(feats, DEFAULT)
        plan = _plan(pairs, "extended")
        # the salted repartition-then-hash-join: exchange on the band key
        # (+ sub/block salt) must appear
        assert "hashpartitioning" in plan
        assert "band_hash" in plan
        # round 2 replaced the double window (exchange + full partition
        # sort) with groupBy + sort_array + posexplode — a Window operator
        # reappearing in the pair path is a regression
        assert "Window" not in plan

    def test_range_join_is_hash_join_not_nested_loop(self, spark):
        """The time-bucketed range join must plan as an equi hash join —
        a raw |t1-t2|<=300 theta join degrades to a nested loop."""
        import __spark_entry__ as E
        df = E.queries()["events_range_join"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_doc_jaccard_tail_is_per_pair(self, spark):
        """Exact doc Jaccard scores each candidate pair from its two
        gram-hash arrays: no content key (md5) in the plan, and only the
        candidate joins plus the two per-pair array joins. The static plan
        (AQE off) is the one Spark compiles before any runtime rewrite."""
        import re

        from cdstore_spark.functions import textops as X
        from cdstore_spark.golden_funcs import SF_DIR
        joins = re.compile(r"\b(SortMergeJoin|BroadcastHashJoin|"
                           r"ShuffledHashJoin|BroadcastNestedLoopJoin|"
                           r"CartesianProduct)\b")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for fn in (X.jaccard_pairs, X.minhash_lsh_pairs):
                plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
                assert "md5" not in plan, fn.__name__
                assert len(joins.findall(plan)) <= 5, (fn.__name__, plan)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)

    def test_gram_df_stats_hashes_grams_once(self, spark):
        """gram_df_stats explodes the gram-hash expression itself: an
        explode of a projected gram array makes the optimizer push an
        inferred size filter below the projection that hashes every gram
        again."""
        from cdstore_spark.functions import textops as X
        from cdstore_spark.golden_funcs import SF_DIR
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = X.gram_df_stats(docs)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert plan.count("xxhash64(") == 1, plan
