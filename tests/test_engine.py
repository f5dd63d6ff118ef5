"""Distributed engine vs frozen oracle — exact equality at smoke tier, plus
per-row decode invariants (SNR, transcript passthrough) and the connected-
components algorithm against random graphs (SURVEY.md §5.2.2–4)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdstore_spark import golden
from cdstore_spark.config import DEFAULT as CFG
from cdstore_spark.engine import cluster as S_clust
from cdstore_spark.engine import featurize as S_feat
from cdstore_spark.engine import pipeline as P
from cdstore_spark.engine import verify as S_verify
from cdstore_spark.kernels import unionfind


@pytest.fixture(scope="module")
def smoke_run(spark, smoke_golden, tmp_path_factory):
    """The checkpointed runner the contract and jobs/run_dedup.py use, over
    a fresh workdir on the smoke tier."""
    out = P.run_pipeline(spark, golden.clips_path("smoke"),
                         str(tmp_path_factory.mktemp("smoke_run")))
    return {
        "confirmed": out["confirmed"].toPandas(),
        "clusters": out["clusters"].toPandas(),
        "feats": out["feats"].select(
            "clip_id", "n_samples", "rms", "pcm_sha256",
            "transcript").toPandas(),
        "skew": out["skew_stats"].toPandas(),
    }


class TestEngineMatchesOracle:
    def test_confirmed_pairs_equal(self, smoke_run, smoke_golden):
        exp = pd.read_parquet(os.path.join(smoke_golden,
                                           "expected_pairs.parquet"))
        got = smoke_run["confirmed"]
        se = set(map(tuple, exp[["a", "b"]].values))
        sg = set(map(tuple, got[["a", "b"]].values))
        assert se == sg
        # dup-pair recall vs the reference decisions: exactly 1.0
        assert len(se - sg) == 0

    def test_cluster_assignments_equal(self, smoke_run, smoke_golden):
        exp = (pd.read_parquet(os.path.join(smoke_golden,
                                            "expected_clusters.parquet"))
               .sort_values("clip_id").reset_index(drop=True))
        got = (smoke_run["clusters"]
               .sort_values("clip_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(got, exp[["clip_id", "cluster_id"]])

    def test_decode_bit_exact_and_snr(self, smoke_run, smoke_golden):
        exp = pd.read_parquet(os.path.join(smoke_golden,
                                           "expected_pcm_stats.parquet"))
        got = smoke_run["feats"]
        m = got.merge(exp, on="clip_id", suffixes=("_g", "_e"))
        assert len(m) == len(exp)
        # engine decode is bit-identical to the oracle decode → SNR = inf,
        # which trivially satisfies the >= 30 dB allclose invariant
        assert (m["pcm_sha256_g"] == m["pcm_sha256_e"]).all()
        assert (m["n_samples_g"] == m["n_samples_e"]).all()

    def test_transcript_passthrough(self, smoke_run, smoke_golden):
        clips = pd.read_parquet(os.path.join(smoke_golden,
                                             "audio_clips.parquet"))
        m = smoke_run["feats"].merge(clips[["clip_id", "transcript"]],
                                     on="clip_id", suffixes=("_g", "_e"))
        assert (m["transcript_g"] == m["transcript_e"]).all()

    def test_skew_stats_shape(self, smoke_run):
        s = smoke_run["skew"]
        assert set(s["channel"]) == {"audio", "text"}
        assert (s["max_bucket"] >= 1).all()

    def test_skew_stats_degenerate_empty_channel(self, spark, smoke_golden):
        # a corpus with NO text shingles anywhere: the engine must still
        # emit a zero row for the text channel, exactly like the oracle
        from cdstore_spark import oracle
        from cdstore_spark.engine import candidates as S_cand
        from cdstore_spark.kernels import clipfeat as K_clip
        clips = (pd.read_parquet(os.path.join(smoke_golden,
                                              "audio_clips.parquet"))
                 .head(8).copy())
        clips["transcript"] = ""          # kill the text channel
        exp = (oracle.skew_stats_from_feats(
            K_clip.featurize_batch(clips, CFG), CFG)
            .sort_values("channel").reset_index(drop=True))
        assert (exp[exp["channel"] == "text"]["n_buckets"] == 0).all()
        sdf = S_feat.featurize(spark.createDataFrame(clips), CFG)
        _, skew = S_cand.candidate_pairs(sdf, CFG)
        got = (skew.toPandas().sort_values("channel")
               .reset_index(drop=True).astype(exp.dtypes))
        pd.testing.assert_frame_equal(got, exp)


class TestVerifyShuffleFallback:
    def test_forced_shuffle_plan_matches_broadcast_path(
            self, spark, smoke_golden):
        """The at-scale verify plan — shuffle joins instead of broadcast
        builds — must produce the IDENTICAL confirmed set. Forced by
        disabling the session's auto-broadcast thresholds, so neither the
        static planner nor AQE can broadcast the feature projection. The
        plan persists nothing: it must leave no cached RDD behind."""
        from cdstore_spark.engine import candidates as S_cand
        from cdstore_spark.engine import verify as S_verify

        feats = S_feat.featurize_from_parquet(
            spark, golden.clips_path("smoke"), CFG).persist()
        cand, _ = S_cand.candidate_pairs(feats, CFG)
        cand = cand.persist()
        cand.count()
        sc = spark.sparkContext._jsc.sc()

        def persisted() -> set[int]:
            it = sc.getPersistentRDDs().keySet().toList()
            return {int(it.apply(i)) for i in range(it.size())}

        def run():
            df = S_verify.verify_candidates(cand, feats, CFG)
            pdf = df.toPandas()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return (pdf.sort_values(["a", "b"]).reset_index(drop=True),
                    plan)

        base_pdf, base_plan = run()
        assert "BroadcastHashJoin" in base_plan   # the default fast path

        conf = spark.conf
        keys = ("spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold")
        saved = {k: conf.get(k, None) for k in keys}
        before = persisted()
        try:
            for k in keys:
                conf.set(k, "-1")
            forced_pdf, forced_plan = run()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        assert "BroadcastHashJoin" not in forced_plan, forced_plan[:2000]
        pd.testing.assert_frame_equal(base_pdf, forced_pdf)
        assert persisted() - before == set()
        feats.unpersist()
        cand.unpersist()


class TestVerifyKernel:
    """The fused verify kernel without Spark: every row must equal the
    SimHash gates plus the oracle's per-pair clipfeat.verify_pair, with
    the memos kept (default budget) or cleared on every insert (0)."""

    @pytest.fixture(scope="class")
    def batch(self, smoke_golden):
        import hashlib

        from cdstore_spark.kernels import clipfeat as K_clip
        cand = pd.read_parquet(os.path.join(
            smoke_golden, "expected_candidates.parquet")).head(24)
        clips = pd.read_parquet(os.path.join(smoke_golden,
                                             "audio_clips.parquet"))
        clips = clips[clips["clip_id"].isin(set(cand["a"]) | set(cand["b"]))]
        f = K_clip.featurize_batch(clips, CFG)
        f["transcript"] = clips["transcript"].to_numpy()
        # an equal-content copy of one clip, and its stream cut below
        # verify_min_events
        src = f.iloc[0]
        dup, short = src.copy(), src.copy()
        dup["clip_id"], short["clip_id"] = "dup", "short"
        for c in ("events", "event_ms", "event_zcr"):
            short[c] = short[c][:CFG.verify_min_events - 1]
        f = pd.concat([f, pd.DataFrame([dup, short])], ignore_index=True)
        f["vpack"] = [K_clip.pack_events(e, m, z) for e, m, z in
                      zip(f["events"], f["event_ms"], f["event_zcr"])]
        f["vk"] = [hashlib.md5(b).hexdigest() for b in f["vpack"]]
        f["tk"] = [hashlib.md5(t.encode()).hexdigest()
                   for t in f["transcript"]]
        x = src["clip_id"]
        # (dup, short) repeats the content pair of (x, short)
        rows = pd.concat([cand, pd.DataFrame({
            "a": [x, x, "dup", cand["b"][0]],
            "b": ["dup", "short", "short", cand["a"][0]],
            "from_audio": True, "from_text": True})], ignore_index=True)
        for s in "ab":
            side = f[["clip_id", *S_verify._SIDE_COLS]].rename(columns={
                "clip_id": s, **{c: f"{n}_{s}"
                                 for c, n in S_verify._SIDE_COLS.items()}})
            rows = rows.merge(side, on=s, how="left")
        return rows, f.set_index("clip_id")

    def _expected(self, rows, f):
        from cdstore_spark.kernels import clipfeat as K_clip
        from cdstore_spark.kernels.sketch import hamming64

        def ham(c):
            return hamming64(
                *(rows[f"{c}_{s}"].to_numpy().astype(np.int64)
                  .view(np.uint64) for s in "ab"))
        try_a = rows["from_audio"].to_numpy() | (ham("sha")
                                                 <= CFG.simhash_gate_bits)
        try_t = rows["from_text"].to_numpy() | (ham("sht")
                                                <= CFG.simhash_gate_bits)
        out = []
        for a, b, ta, tt in zip(rows["a"], rows["b"], try_a, try_t):
            A, B = f.loc[a], f.loc[b]
            out.append((a, b) + K_clip.verify_pair(
                A["events"], A["event_ms"], A["event_zcr"],
                B["events"], B["event_zcr"], A["transcript"],
                B["transcript"], CFG, bool(ta), bool(tt)))
        exp = pd.DataFrame(out, columns=["a", "b", "audio_ok", "text_ok",
                                         "span_ms", "span_chars"])
        return exp.astype({"span_chars": np.int32}), try_a, try_t

    @pytest.mark.parametrize("budget", [None, 0])
    def test_rows_equal_per_pair_verify(self, batch, budget, monkeypatch):
        rows, f = batch
        exp, try_a, try_t = self._expected(rows, f)
        # the batch holds the cases the kernels answer by early return
        n_ev = rows["vpack_b"].map(lambda b: int.from_bytes(b[:4], "little"))
        assert (try_a & (rows["vk_a"] == rows["vk_b"])).any()
        assert (try_t & (rows["tk_a"] == rows["tk_b"])).any()
        assert (try_a & (n_ev < CFG.verify_min_events)).any()
        assert rows.duplicated(["vk_a", "vk_b", "tk_a", "tk_b"]).any()
        assert (try_a & (rows["vk_a"] != rows["vk_b"])).any()
        assert (try_t & (rows["tk_a"] != rows["tk_b"])).any()
        assert exp["audio_ok"].any() and exp["text_ok"].any()
        if budget is not None:
            monkeypatch.setattr(S_verify, "_MEMO_MAX_BYTES", budget)
        got = pd.concat(list(S_verify._fused_kernel(CFG)([rows])),
                        ignore_index=True)
        pd.testing.assert_frame_equal(got, exp)

    def test_memo_clears_past_budget(self, monkeypatch):
        monkeypatch.setattr(S_verify, "_MEMO_MAX_BYTES", 25)
        m = S_verify._Memo(lambda k, v: 10)
        for k in "abc":
            m[k] = k
        assert len(m) == 3 and m.used == 30
        m["d"] = "d"
        assert m == {"d": "d"} and m.used == 10


def _cached_rdds(spark) -> dict[int, str]:
    """id -> description of every persisted RDD except localCheckpoints
    (the CC fixpoint's lineage cuts, jaccard_pairs' gram arrays), which
    the ContextCleaner releases on GC rather than by an explicit
    unpersist."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
    out = {}
    for i in range(it.size()):
        t = it.apply(i)
        desc = t._2().toString()
        if "localCheckpoint" not in desc:
            out[int(t._1())] = desc[:120]
    return out


class TestCacheHygiene:
    def test_no_cache_blocks_survive_scoped_pipeline(self, spark,
                                                     smoke_golden):
        """After a full inline pipeline run that releases the stage
        outputs it persisted itself, no cached RDD blocks may remain
        registered — a long-lived driver session running many queries
        must not accumulate MEMORY_AND_DISK blocks."""
        from cdstore_spark.engine import candidates as S_cand

        spark.catalog.clearCache()
        feats = S_feat.featurize_from_parquet(
            spark, golden.clips_path("smoke"), CFG).persist()
        n = feats.count()
        cand, _ = S_cand.candidate_pairs(feats, CFG)
        cand = cand.persist()
        cand.count()
        conf = S_verify.verify_candidates(cand, feats, CFG,
                                          n_feats=n).persist()
        conf.count()
        clips = spark.read.parquet(golden.clips_path("smoke"))
        S_clust.connected_components(
            conf.select("a", "b"), clips.select("clip_id")).count()
        # release the stage outputs the caller owns
        for df in (conf, cand, feats):
            df.unpersist(blocking=True)
        left = sorted(_cached_rdds(spark).items())
        assert left == [], f"leaked cached RDDs: {left}"

    def test_operators_persist_nothing(self, spark, smoke_golden):
        """Operators return plans and hold no cache: each candidate
        operator, built and collected with no caller-side scope, leaves
        no persisted RDD behind."""
        from cdstore_spark.engine import candidates as S_cand
        from cdstore_spark.functions import textops as X
        from cdstore_spark.golden_funcs import SF_DIR

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        feats = S_feat.featurize_from_parquet(
            spark, golden.clips_path("smoke"), CFG)
        before = _cached_rdds(spark)
        for name, build in (
                ("jaccard_pairs", lambda: X.jaccard_pairs(docs)),
                ("minhash_lsh_pairs", lambda: X.minhash_lsh_pairs(docs)),
                ("simhash_hamming_pairs",
                 lambda: X.simhash_hamming_pairs(docs)),
                ("candidate_pairs",
                 lambda: S_cand.candidate_pairs(feats, CFG)[0])):
            build().collect()
            new = {k: v for k, v in _cached_rdds(spark).items()
                   if k not in before}
            assert new == {}, (name, new)


class TestConnectedComponents:
    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_random_graph_matches_unionfind(self, spark, seed):
        rng = np.random.default_rng(seed)
        n = 120
        ids = [f"n{i:04d}" for i in range(n)]
        edges = [(ids[rng.integers(0, n)], ids[rng.integers(0, n)])
                 for _ in range(90)]
        edges = [(a, b) for a, b in edges if a != b]
        exp = unionfind.components(edges, ids)
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        got = {r["clip_id"]: r["cluster_id"]
               for r in S_clust.connected_components(pairs, uni).collect()}
        assert got == exp

    def test_long_chain(self, spark):
        # a path graph needs the full O(log n) alternation to converge
        ids = [f"c{i:03d}" for i in range(64)]
        edges = list(zip(ids[:-1], ids[1:]))
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        got = S_clust.connected_components(pairs, uni).collect()
        assert all(r["cluster_id"] == "c000" for r in got)

    @pytest.mark.parametrize("seed", [0, 1])
    def test_distributed_path_matches_local_finish(self, spark, seed,
                                                   monkeypatch):
        # sub-gate graphs take the driver-side finish by default, so the
        # star rounds must be pinned open (gate=0) to stay covered; both
        # paths and the edges_distinct fast seed must agree with the
        # oracle union-find on the same graph
        rng = np.random.default_rng(100 + seed)
        n = 150
        ids = [f"n{i:04d}" for i in range(n)]
        edges = {(ids[rng.integers(0, n)], ids[rng.integers(0, n)])
                 for _ in range(130)}
        edges = [(a, b) for a, b in edges if a != b]
        exp = unionfind.components(edges, ids)
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])

        monkeypatch.setattr(S_clust, "_LOCAL_FINISH_MAX_EDGES", 0)
        dist = {r["clip_id"]: r["cluster_id"]
                for r in S_clust.connected_components(
                    pairs, uni, edges_distinct=True).collect()}
        assert dist == exp

        monkeypatch.setattr(S_clust, "_LOCAL_FINISH_MAX_EDGES", 1 << 18)
        loc = {r["clip_id"]: r["cluster_id"]
               for r in S_clust.connected_components(
                   pairs, uni, edges_distinct=True).collect()}
        assert loc == exp

    def test_half_round_exit_on_cliques(self, spark, monkeypatch):
        # a gate crossed mid-loop on cliques: the 570 seed edges are above
        # gate 64, one star round contracts each 20-clique to a 19-edge
        # star, and the next round's gate check hands them to the local
        # finish
        ids = [f"k{i:03d}" for i in range(60)]
        edges = [(ids[g * 20 + i], ids[g * 20 + j])
                 for g in range(3)
                 for i in range(20) for j in range(i + 1, 20)]
        exp = unionfind.components(edges, ids)
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        monkeypatch.setattr(S_clust, "_LOCAL_FINISH_MAX_EDGES", 64)
        got = {r["clip_id"]: r["cluster_id"]
               for r in S_clust.connected_components(
                   pairs, uni, edges_distinct=True).collect()}
        assert got == exp

    def test_half_round_probe_without_exit(self, spark, monkeypatch):
        # a gate crossed mid-loop on a path: a path contracts slowly, so
        # the 63 edges take several star rounds before they fall under
        # gate 4 and the local finish labels the rest
        ids = [f"p{i:03d}" for i in range(64)]
        edges = list(zip(ids[:-1], ids[1:]))
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        monkeypatch.setattr(S_clust, "_LOCAL_FINISH_MAX_EDGES", 4)
        got = S_clust.connected_components(pairs, uni).collect()
        assert all(r["cluster_id"] == "p000" for r in got)

    def test_unconverged_raises(self, spark, monkeypatch):
        # star rounds pinned open (gate=0): one round cannot contract a
        # 64-node path, and its partial labels would split the component
        ids = [f"q{i:03d}" for i in range(64)]
        edges = list(zip(ids[:-1], ids[1:]))
        pairs = spark.createDataFrame(edges, ["a", "b"])
        uni = spark.createDataFrame([(i,) for i in ids], ["clip_id"])
        monkeypatch.setattr(S_clust, "_LOCAL_FINISH_MAX_EDGES", 0)
        with pytest.raises(RuntimeError, match="in 1 rounds"):
            S_clust.connected_components(pairs, uni, max_iter=1)
