"""Training-data operators: dedup/ANN/quality over documents/embeddings,
multimodal plumbing — including driver-style DuckDB oracle comparisons for
a representative subset (the full sweep lives in tools/check_contract.py).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _mirror_capped_pairs(members, cap) -> set[tuple]:
    """Single-process mirror of the capped_bucket_pairs enumeration for one
    bucket (same loop as oracle.candidate_pairs_from_feats): within-sub-
    bucket pairs over sorted members + the representative chain."""
    ms = sorted(members)
    out: set[tuple] = set()
    for s in range(0, len(ms), cap):
        sub = ms[s: s + cap]
        for i in range(len(sub)):
            for j in range(i + 1, len(sub)):
                out.add((sub[i], sub[j]))
        if s > 0:
            out.add(tuple(sorted((ms[0], ms[s]))))
    return out
VIEWS = ["documents", "embeddings", "lineitem", "orders", "customer",
         "supplier", "nation", "region", "part", "events"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for v in VIEWS:
        con.execute(f"CREATE VIEW {v} AS SELECT * FROM "
                    f"read_parquet('{SF}/{v}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(
        f"{v:.6f}" if isinstance(v, float) else str(v) for v in rec)
        for rec in df[cols].itertuples(index=False, name=None))
    return (len(df), cols,
            hashlib.sha256("\n".join(rows).encode()).hexdigest())


@pytest.mark.parametrize("name", [
    "dedup_exact_docs", "dedup_jaccard_docs", "text_quality_docs",
    "ann_topk_cosine", "embedding_centroids", "tpch_q1_pricing",
    "customer_top_orders_window", "events_first_touch",
])
def test_query_matches_duckdb_oracle(spark, duck, name):
    import __spark_entry__ as E
    got = E.queries()[name](spark, SF).toPandas()
    exp = duck.execute(E.oracle_sql()[name]).df()
    assert _canon(got) == _canon(exp)


class TestSimops:
    def test_lsh_topk_recall_vs_bruteforce(self, spark):
        from cdstore_spark.functions import simops as S
        embs = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = [float(v) for v in
             embs.where("vec_id = 0").collect()[0]["embedding"]]
        bf = {r["vec_id"] for r in
              S.topk_bruteforce(embs, q, 10, exclude_vec_id=0).collect()}
        ap = {r["vec_id"] for r in
              S.topk_lsh(embs, q, 10, exclude_vec_id=0).collect()}
        # approximate: same-bucket neighbors must overlap the exact top-k
        assert len(ap & bf) >= 1
        assert len(ap) <= 10
        # multi-probe (Hamming<=1 buckets) is a superset of single-bucket
        # and must not lose recall
        mp = {r["vec_id"] for r in
              S.topk_lsh(embs, q, 10, exclude_vec_id=0,
                         multiprobe=1).collect()}
        assert len(mp & bf) >= len(ap & bf)
        # full flip radius degrades to exact brute force
        full = [r["vec_id"] for r in
                S.topk_lsh(embs, q, 10, exclude_vec_id=0,
                           multiprobe=8).collect()]
        exact = [r["vec_id"] for r in
                 S.topk_bruteforce(embs, q, 10, exclude_vec_id=0).collect()]
        assert full == exact

    def test_multiprobe_recall_dial_on_clustered_data(self, spark):
        """Multi-probe LSH recall/scan dial, quantified on clustered
        embeddings (the ANN regime): probing Hamming<=r neighbor buckets
        can only ADD candidates, and any candidate displacing a true
        top-10 member has higher cosine (so is itself in the exact
        top-10) — recall@10 is provably monotone in r; measured 0.6 →
        0.9 → 1.0 at r=0,1,2 with this seed."""
        from cdstore_spark.functions import simops as S
        rng = np.random.default_rng(7)
        centers = rng.standard_normal((12, 64)) * 3
        rows = [(i, [float(x) for x in centers[i % 12]
                     + rng.standard_normal(64) * 0.5], i % 12)
                for i in range(600)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int").cache()
        q = rows[0][1]
        bf = {r["vec_id"] for r in
              S.topk_bruteforce(df, q, 10, exclude_vec_id=0).collect()}
        rec = {}
        for r in (0, 1, 2):
            ap = {x["vec_id"] for x in
                  S.topk_lsh(df, q, 10, exclude_vec_id=0,
                             multiprobe=r).collect()}
            rec[r] = len(ap & bf) / 10
        assert rec[0] <= rec[1] <= rec[2]
        assert rec[1] >= 0.8          # r=1 recovers most of the top-10
        assert rec[2] >= 0.9
        df.unpersist()

    def test_ivf_index_recall_on_clustered_data(self, spark, tmp_path):
        """Persisted IVF index: on data with cluster structure (the regime
        ANN indexes exist for), probing 2 of 10 lists must recover >= 0.9
        of the exact cosine top-10. The driver's embeddings table is
        near-random, so its contract query is gated by exact golden
        equality instead of a recall bound."""
        from cdstore_spark.functions import simops as S
        rng = np.random.default_rng(11)
        centers = rng.standard_normal((10, 64)) * 4
        rows = []
        for i in range(800):
            c = i % 10
            v = centers[c] + rng.standard_normal(64) * 0.3
            rows.append((i, [float(x) for x in v], c))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        idx = str(tmp_path / "ivf")
        S.ann_index_build(spark, df, idx, k=10)
        q = [float(x) for x in
             (centers[3] + rng.standard_normal(64) * 0.3)]
        exact = [r["vec_id"] for r in
                 S.topk_bruteforce(df, q, 10).collect()]
        approx = [r["vec_id"] for r in
                  S.topk_ivf(spark, idx, q, 10, nprobe=2).collect()]
        assert len(set(exact) & set(approx)) >= 9

    def test_ivf_probe_reads_only_probed_partitions(self, spark, tmp_path):
        """The probe's scan must carry the list_id partition filter (the
        whole point of persisting the index partitioned by list)."""
        from cdstore_spark.functions import simops as S
        embs = spark.read.parquet(f"{SF}/embeddings.parquet")
        idx = str(tmp_path / "ivf2")
        S.ann_index_build(spark, embs, idx, k=8)
        q = [float(v) for v in
             embs.where("vec_id = 0").collect()[0]["embedding"]]
        plan = S.topk_ivf(spark, idx, q, 10, nprobe=2)._jdf \
            .queryExecution().executedPlan().toString()
        assert "list_id" in plan and "PartitionFilters" in plan

    def test_cosine_pairs_exact_no_cartesian(self, spark):
        """Blocked triangle enumeration must plan as an equi-join on the
        block-pair key — never a cartesian/broadcast-nested-loop."""
        from cdstore_spark.functions import simops as S
        embs = spark.read.parquet(f"{SF}/embeddings.parquet")
        out = S.cosine_pairs_exact(embs, threshold=0.4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # and it finds exactly the brute-force pair set
        import numpy as np
        pdf = embs.toPandas()
        mat = np.stack(pdf["embedding"]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ids = pdf["vec_id"].to_numpy()
        iu = np.triu_indices(len(ids), 1)
        exp = {(min(ids[i], ids[j]), max(ids[i], ids[j]))
               for i, j in zip(*iu) if sims[i, j] >= 0.4}
        got = {(r["a"], r["b"]) for r in out.collect()}
        assert got == exp

    def test_buckets_deterministic(self, spark):
        from cdstore_spark.functions import simops as S
        embs = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
        b1 = S.lsh_buckets(embs, dim=64).toPandas().sort_values("vec_id")
        b2 = S.lsh_buckets(embs, dim=64).toPandas().sort_values("vec_id")
        assert (b1["bucket"].values == b2["bucket"].values).all()


class TestMultimodal:
    def test_frame_sampling_counts(self, spark, smoke_golden):
        from cdstore_spark import golden
        from cdstore_spark.engine import featurize as S_feat
        from cdstore_spark.functions import multimodal as M
        clips = S_feat.load_clips(
            spark, golden.clips_path("smoke")).limit(20)
        frames = M.frame_sample_audio(clips, frame_ms=100).toPandas()
        meta = clips.select("clip_id", "dur_ms").toPandas()
        got = frames.groupby("clip_id").size()
        for _, r in meta.iterrows():
            assert got.get(r["clip_id"], 0) == r["dur_ms"] // 100

    def test_image_stub_plumbing(self, spark, smoke_golden):
        from cdstore_spark import golden
        from cdstore_spark.engine import featurize as S_feat
        from cdstore_spark.functions import multimodal as M
        clips = S_feat.load_clips(
            spark, golden.clips_path("smoke")).limit(10)
        out = M.image_feature_summary(clips).toPandas()
        assert len(out) == 10
        raw = clips.select("bytes").first()["bytes"]
        assert M.decode_image_stub(bytes(raw))[2].shape == (16,)
        # deterministic fake: same bytes → same feature
        out2 = M.image_feature_summary(clips).toPandas()
        pd.testing.assert_frame_equal(
            out.sort_values("clip_id").reset_index(drop=True),
            out2.sort_values("clip_id").reset_index(drop=True))


class TestBucketPairs:
    """The shared skew-bounded enumerator (engine/bucket_pairs.py)."""

    # bucket sizes straddle every physical-path boundary: the in-place
    # small-bucket path (<= soft), the spread hot path with one sub-bucket
    # row (soft < n <= cap, including n == soft + 1 and n == cap exactly)
    # and with several sub-bucket rows + the representative chain (n > cap)
    _SIZES = [2, 15, 16, 17, 64, 65]

    def test_exact_below_cap(self, spark):
        # buckets smaller than cap enumerate ALL pairs — the naive join's
        # output, which is what keeps the exact-oracle contract rows valid
        from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
        rows = [(k, f"m{k:02d}_{i:03d}") for k, n in enumerate(self._SIZES)
                for i in range(n)]
        df = spark.createDataFrame(rows, "k int, member string")
        got = set(map(tuple, capped_bucket_pairs(df, ["k"], "member",
                                                 cap=64, soft=16)
                      .select("a", "b").toPandas().values))
        exp = set()
        for k, n in enumerate(self._SIZES):
            exp |= _mirror_capped_pairs(
                [f"m{k:02d}_{i:03d}" for i in range(n)], 64)
        assert got == exp

    def test_hot_bucket_linear_and_connected(self, spark):
        from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
        from cdstore_spark.kernels import unionfind
        m, cap = 600, 64
        members = [f"d{i:04d}" for i in range(m)]
        df = spark.createDataFrame([(0, x) for x in members],
                                   "k int, member string")
        got = set(map(tuple, capped_bucket_pairs(df, ["k"], "member",
                                                 cap=cap, soft=16)
                      .select("a", "b").toPandas().values))
        assert got == _mirror_capped_pairs(members, cap)
        assert len(got) <= m * cap                   # linear bound
        assert len(got) < m * (m - 1) // 2 / 4       # ≪ quadratic
        comp = unionfind.components(list(got), members)
        assert len(set(comp.values())) == 1          # still one component

    def test_hot_buckets_build_no_job_and_plan_no_join(self, spark):
        """Three hot buckets, two sharing one 40-member set: building the
        plan starts no Spark job, the static plan (AQE off) has no join
        and no cache, the hot branch reads the bucket aggregate's shuffle
        through a ReusedExchange (so the aggregate needs no persist), and
        the rows are the mirror's pairs with no duplicate — under
        dedup_key=[] the shared set is enumerated once."""
        import re

        from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
        shared = [f"s{i:02d}" for i in range(40)]
        other = [f"t{i:02d}" for i in range(30)]
        df = spark.createDataFrame(
            [(0, x) for x in shared] + [(1, x) for x in shared]
            + [(2, x) for x in other], "k int, member string")
        sc = spark.sparkContext
        group = "test_hot_buckets_build"
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            sc.setJobGroup(group, group)
            try:
                out = capped_bucket_pairs(df, ["k"], "member", cap=16,
                                          soft=8, dedup_key=[])
                jobs = list(sc.statusTracker().getJobIdsForGroup(group))
                plan = out._jdf.queryExecution().executedPlan().toString()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rows = [tuple(r) for r in out.select("a", "b").collect()]
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        assert jobs == []
        assert not re.search(r"\b(SortMergeJoin|BroadcastHashJoin|"
                             r"ShuffledHashJoin|BroadcastNestedLoopJoin|"
                             r"CartesianProduct)\b", plan), plan
        assert "InMemoryRelation" not in plan, plan
        assert re.search(r"ReusedExchange \[[^\]]*\], "
                         r"Exchange hashpartitioning\(k#", plan), plan
        assert len(rows) == len(set(rows))
        assert set(rows) == (_mirror_capped_pairs(shared, 16)
                             | _mirror_capped_pairs(other, 16))

    def test_doc_lsh_and_simhash_plans_have_no_window(self, spark):
        # regression guard (mirrors test_plans.py's audio-path guard): the
        # doc candidate joins must keep the groupBy+sort_array enumeration
        # — a Window reappearing means the double-window plan regressed;
        # the shuffle must hash-partition on the band/block key
        from cdstore_spark.functions import textops as X
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        for dfq, key in ((X.minhash_lsh_pairs(docs), "bh"),
                         (X.simhash_hamming_pairs(docs), "block_key")):
            plan = dfq._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("extended"))
            assert "Window" not in plan
            assert "hashpartitioning" in plan
            assert key in plan


class TestTextops:
    def test_simhash_pairs_subset_of_jaccardish(self, spark):
        from cdstore_spark.functions import textops as X
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        ham = X.simhash_hamming_pairs(docs, max_bits=4).toPandas()
        if len(ham):
            jac = X.jaccard_pairs(docs, threshold=0.5).toPandas()
            sj = set(map(tuple, jac[["a", "b"]].values))
            hits = sum((a, b) in sj for a, b in ham[["a", "b"]].values)
            assert hits / len(ham) >= 0.8

    def test_fingerprints_shape(self, spark):
        from cdstore_spark.functions import textops as X
        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
        fp = X.doc_fingerprints(docs).toPandas()
        counts = fp.groupby("doc_id").size()
        assert len(counts) == 20          # every doc emits >= 1 fingerprint
        assert (counts <= 16).all()       # and at most `keep`
        # fingerprints are content hashes: identical text → identical set
        one = docs.limit(1).toPandas()
        again = X.doc_fingerprints(
            spark.createDataFrame(pd.concat([one, one.assign(doc_id=999)]))
        ).toPandas()
        sets = again.groupby("doc_id")["fp"].apply(set)
        assert sets.iloc[0] == sets.iloc[1]

    def test_prefix_filter_bounds_hot_gram_join(self, spark):
        """Planted hot-gram corpus: every doc shares one trigram but the
        docs are otherwise dissimilar. A naive gram self-join produces
        O(m^2) rows on the hot key; the prefix filter must generate ZERO
        candidates (the hot gram sorts to the back of every doc's df-
        ordered gram list and never enters the join), while a planted
        true near-dup pair must still survive."""
        from cdstore_spark.functions import textops as X
        m = 120
        rows = [(i, "alpha beta gamma " + " ".join(
            f"tok{i}x{j}" for j in range(18)), "en", "s", 0)
            for i in range(m)]
        # planted near-dup: doc 900/901 differ by one trailing token
        base = " ".join(f"dup{j}" for j in range(30))
        rows += [(900, base + " endone", "en", "s", 0),
                 (901, base + " endtwo", "en", "s", 0)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
                  " n_chars long")
        g = X._gram_hashed(df)
        cand = X.prefix_candidates(g).toPandas()
        assert len(cand) == 1
        assert tuple(cand.iloc[0][["a", "b"]]) == (900, 901)
        pairs = X.jaccard_pairs(df).toPandas()
        assert set(map(tuple, pairs[["a", "b"]].values)) == {(900, 901)}

    def test_jaccard_pairs_match_bruteforce_sets(self, spark):
        """Exact Jaccard from the per-doc gram-hash arrays equals a pure-
        Python set Jaccard over the same arrays, on a corpus with a
        repeated trigram, an exact-duplicate group (one content pair for
        many doc pairs), pairs just above, exactly at and just below 0.8,
        and docs too short to have a trigram."""
        import itertools
        import math

        from cdstore_spark.functions import textops as X

        def words(p, n, tail=""):
            ws = [f"{p}{j}" for j in range(n)]
            if tail:              # replace the last 5 words: T-5 shared
                ws[-5:] = [f"{tail}{j}" for j in range(5)]
            return " ".join(ws)
        rep = "r0 r1 r2 r0 r1 r2 r0 r1 r2 r3 r4 r5 r6 r7"
        rows = [(1, rep), (2, rep + " r8"),            # 8/9 by set
                (14, words("dup", 62, "near"))]
        rows += [(i, words("dup", 62)) for i in (10, 11, 12, 13)]
        for i, n in ((30, 48), (32, 47), (34, 46)):    # T = n - 2 trigrams
            rows += [(i, words(f"p{i}x", n)), (i + 1, words(f"p{i}x", n, "q"))]
        rows += [(40, "tiny doc"), (41, "tiny doc"), (42, "one")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        g = X._gram_hashed(df).toPandas()
        assert g["doc_id"].is_unique                   # one row per doc
        sets = {int(d): set(map(int, a)) for d, a in zip(g["doc_id"],
                                                        g["ghs"])}
        assert all(list(a) == sorted(set(a)) for a in g["ghs"])
        for d, t in rows:
            tk = t.split()
            tri = {tuple(tk[k:k + 3]) for k in range(len(tk) - 2)}
            assert len(sets.get(d, ())) == len(tri)   # no grams if < 3 toks
        # the gram profile explodes the same arrays; the short docs must
        # not break it
        st = X.gram_df_stats(df).first()
        assert st["n_grams"] == len(set().union(*sets.values()))
        assert st["n_gram_postings"] == sum(map(len, sets.values()))

        def ref(t):
            out = set()
            for a, b in itertools.combinations(sorted(sets), 2):
                i = len(sets[a] & sets[b])
                j = i / (len(sets[a]) + len(sets[b]) - i)
                if j >= t:
                    out.add((a, b, math.floor(j * 1e6 + 0.5) / 1e6))
            return out
        key = lambda d: set(map(tuple, d[["a", "b", "jaccard"]].values))
        assert {(30, 31, 0.803922), (32, 33, 0.8), (1, 2, 0.888889),
                (10, 14, 0.846154)} <= ref(0.8)
        assert (34, 35, 0.795918) in ref(0.5) - ref(0.8)
        for t in (0.5, 0.8):
            assert key(X.jaccard_pairs(df, threshold=t).toPandas()) == ref(t)
        assert key(X.minhash_lsh_pairs(df).toPandas()) == ref(0.8)

    def test_lang_id_separates_languages(self, spark):
        """Char-trigram profiles must separate corpora with genuinely
        different character statistics (the driver documents table's lang
        labels are random over one shared vocabulary, so separation is
        demonstrated on synthetic multilingual text here)."""
        from cdstore_spark.functions import textops as X
        en = ["the quick brown fox jumps over the lazy dog near the river",
              "a stitch in time saves nine and the early bird catches worms",
              "every cloud has a silver lining when the rain finally stops"]
        de = ["der schnelle braune fuchs springt ueber den faulen hund",
              "wer zuletzt lacht lacht am besten und uebung macht den meister",
              "aller anfang ist schwer doch ohne fleiss kein preis im leben"]
        rows = ([(i, t, "en") for i, t in enumerate(en)]
                + [(100 + i, t, "de") for i, t in enumerate(de)])
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = X.lang_id(df).toPandas().set_index("doc_id")
        assert (out.loc[[0, 1, 2], "lang_pred"] == "en").all()
        assert (out.loc[[100, 101, 102], "lang_pred"] == "de").all()
        assert (out["lang_score"] > 0).all()

    def test_lsh_gram_pruning_output_identical(self, spark):
        """minhash_lsh_pairs grams ONLY the docs named by band-collision
        survivors (left-semi prune — at the 1.6M-doc scale tier the
        whole-corpus gram shuffle was ~45% of the wall for a verification
        reading ~0.3% of docs). The prune must be invisible in the
        output: recompute the exact-Jaccard verification with the
        UNPRUNED whole-corpus gram table over the same candidates and
        assert identical (a, b, jaccard) sets."""
        from cdstore_spark.config import DEFAULT
        from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
        from cdstore_spark.functions import textops as X
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        pruned = X.minhash_lsh_pairs(docs).toPandas()
        bands = X.doc_signatures(docs).select(
            "doc_id", F.posexplode("bands").alias("band_idx", "bh"))
        cand = (capped_bucket_pairs(bands, ["band_idx", "bh"], "doc_id",
                                    cap=DEFAULT.bucket_cap,
                                    soft=DEFAULT.bucket_soft)
                .select("a", "b").distinct())
        ref = X._pair_jaccard(cand, X._gram_hashed(docs),
                              X.JACCARD_THRESHOLD).toPandas()
        key = lambda d: set(map(tuple, d[["a", "b", "jaccard"]].values))
        assert len(pruned) > 0
        assert key(pruned) == key(ref)

    def test_minhash_lsh_hot_band_stays_linear(self, spark):
        """Planted hot band: 300 identical docs all collide in one
        (band_idx, bh) bucket per band. The shared capped sub-bucket
        split must keep the candidate (and thus the confirmed-pair)
        count LINEAR in bucket size — O(m·cap), not O(m²) — while the
        representative chain keeps the duplicate group one connected
        component for the cluster decision."""
        import dataclasses

        from cdstore_spark.config import DEFAULT
        from cdstore_spark.engine.cluster import connected_components
        from cdstore_spark.functions import textops as X
        cfg = dataclasses.replace(DEFAULT, bucket_cap=16, bucket_soft=8)
        m = 300
        text = " ".join(f"w{j}" for j in range(24))
        rows = [(i, text, "en", "s", 0) for i in range(m)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
                  " n_chars long")
        pairs = X.minhash_lsh_pairs(df, cfg).toPandas()
        got = set(map(tuple, pairs[["a", "b"]].values))
        assert got == _mirror_capped_pairs(range(m), 16)   # linear, exact
        assert len(got) <= m * 16                          # O(m·cap)
        assert len(got) < m * (m - 1) // 2 / 4             # ≪ O(m²)
        clus = connected_components(
            spark.createDataFrame(pairs[["a", "b"]]),
            df.select(F.col("doc_id").alias("clip_id"))).toPandas()
        assert (clus["cluster_id"] == 0).all()             # one component

    def test_lang_id_matches_golden_mirror(self, spark):
        """Distributed profile build + scoring == the single-node mirror."""
        from cdstore_spark import golden_funcs as GF
        from cdstore_spark.functions import textops as X
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = (X.lang_id(docs).toPandas()
               .sort_values("doc_id").reset_index(drop=True))
        exp = (GF._expected_lang_id(docs.toPandas())
               .sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(got, exp)
