"""Text dedup + analysis operators over the `documents` table
(doc_id bigint, text string, lang string, source string, n_chars bigint).

Design notes (100 TB posture):
  * Word-n-gram explode + self-join keys are hashed (xxhash64) before the
    shuffle so the exchange moves 8-byte keys, not raw n-gram strings.
  * Each doc's grams are ONE sorted, distinct array of gram hashes, built
    per row; exact Jaccard is the size of the intersection of two such
    arrays, computed only for candidate pairs — no cross join anywhere.
  * The MinHash-LSH variant prunes the pair space to band collisions first
    (O(n·bands) rows) and only computes exact Jaccard on survivors; at the
    32x4 config the probability of missing a Jaccard >= 0.8 pair is
    (1 - 0.8^4)^32 ≈ 5e-9, which is why its DuckDB oracle can be the exact
    Jaccard >= 0.8 self-join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, PipelineConfig

NGRAM = 3
JACCARD_THRESHOLD = 0.8


def _tokens(df: DataFrame) -> DataFrame:
    """(doc_id, toks) for the docs with at least NGRAM whitespace tokens."""
    return (df.select("doc_id",
                      F.split(F.lower(F.col("text")), r"\s+").alias("toks"))
            .where(F.size("toks") >= NGRAM))


def _gram_hashes() -> Column:
    """The sorted, distinct array of the hashed word n-grams of `toks`,
    the single gram representation every text path shares. Grams are
    hashed per row (transform over token positions), so no exchange moves
    raw n-gram strings; the array is a canonical form of the gram set, and
    its size is |A|. A caller that needs one row per gram of raw docs
    explodes this expression, not a lazily projected column holding it:
    from an explode of a column the optimizer infers `size(col) > 0` and
    pushes it below the projection, hashing every gram a second time."""
    # `get` (NULL past the end), not ANSI element_at: should a filter on
    # the array be pushed into _tokens' size filter, subexpression
    # elimination computes the grams before the size check, and
    # element_at would throw on a short doc that the check then drops
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get("toks", i + k) for k in range(NGRAM)])
    return F.sort_array(F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size("toks") - NGRAM),
                    lambda i: F.xxhash64(gram(i)))))


def _gram_hashed(df: DataFrame) -> DataFrame:
    """(doc_id, ghs): ONE row per doc with >= NGRAM tokens, `ghs` its
    _gram_hashes array."""
    return _tokens(df).select("doc_id", _gram_hashes().alias("ghs"))


def dedup_exact_canonical(df: DataFrame) -> DataFrame:
    """Exact-dedup canonical mapping: every doc annotated with the minimum
    doc_id sharing its full-text md5 — the 'which row would survive' view
    of CDStore's fingerprint-index dedup (identity mapping when a corpus
    has no exact dups, so the operator is still exercised end-to-end)."""
    w = Window.partitionBy(F.md5(F.col("text")))
    return df.select("doc_id",
                     F.md5(F.col("text")).alias("text_md5"),
                     F.min("doc_id").over(w).alias("canonical_doc_id"))


def _pair_jaccard(cand: DataFrame, g: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs.

    `g` is _gram_hashed output: one sorted, distinct gram-hash array per
    doc. The intersection of two such arrays is the intersection of the
    two gram sets, so |A ∩ B| = size(array_intersect(ghs_a, ghs_b)) and
    J = |A ∩ B| / (|A| + |B| - |A ∩ B|), per row — the sorted-set
    intersection of HERO (SIGMOD'24). Each candidate pair joins its two
    arrays (on `a`, then on `b`) and is scored once: work is linear in
    |cand| x grams-per-doc, with no join on gram hash and no key that two
    different gram sets could share. This is the shared verification tail
    of both the prefix-filtered exact path and the MinHash-LSH path.
    """
    ghs = lambda side: g.select(  # noqa: E731
        F.col("doc_id").alias(side), F.col("ghs").alias(f"ghs_{side}"))
    inter = F.size(F.array_intersect("ghs_a", "ghs_b"))
    return (cand.select("a", "b")
            .join(ghs("a"), "a")
            .join(ghs("b"), "b")
            .select("a", "b", (inter / (F.size("ghs_a") + F.size("ghs_b")
                                        - inter)).alias("j"))
            .where(F.col("j") >= threshold)    # threshold on the raw value
            .select("a", "b", _round6(F.col("j")).alias("jaccard")))


def prefix_candidates(g: DataFrame, threshold: float = JACCARD_THRESHOLD
                      ) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered candidate pairs (Bayardo et al.,
    WWW'07): order every doc's grams by (global document frequency asc,
    hash asc) — one shared total order — and keep only the first
    sz - ceil(t*sz) + 1 grams per doc. Two docs with Jaccard >= t MUST
    collide within these prefixes, so the equi-join touches only each
    doc's RAREST ~ (1-t) fraction of grams; hot grams (huge df) sort to
    the back and never enter the shuffle unless a doc is too small to
    skip them. This is the skew bound for the document gram join — the
    analog of the audio path's sub-bucket split, but lossless."""
    gx = g.select("doc_id", F.explode("ghs").alias("gh"))
    dfreq = gx.groupBy("gh").agg(F.count(F.lit(1)).alias("gdf"))
    # ceil over a 9-dp rounded product: when t*sz is mathematically an
    # integer but the double product lands epsilon above it (arbitrary
    # user thresholds — 0.8 happens to round clean), a raw ceil would
    # overshoot by 1 and silently shorten the prefix, dropping qualifying
    # pairs from the "lossless" path
    sz = F.size("ms")
    req = F.ceil(F.round(F.lit(threshold) * sz, 9))
    # per-doc prefix selection as ONE hash aggregation: collect each doc's
    # (gdf, gh) grams, sort_array orders them by (gdf asc, gh asc) —
    # struct order is lexicographic by leading field, exactly the shared
    # total order the Window variant used — and slice keeps the first
    # sz - ceil(t*sz) + 1. Replaces exchange + per-partition sort + Window
    # + a separate sizes aggregation (sz falls out as size(ms)); round 6,
    # same rows by construction. The self-join below reads the prefix
    # subtree once per alias; exchange reuse computes its shuffles once.
    prefix = (gx.join(dfreq, "gh")
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list(F.struct("gdf", "gh")))
                   .alias("ms"))
              .select("doc_id",
                      F.explode(F.slice("ms", 1, (sz - req + 1).cast("int")))
                      .alias("s"))
              .select("doc_id", F.col("s.gh").alias("gh")))
    return (prefix.alias("l")
            .join(prefix.alias("r"), F.col("l.gh") == F.col("r.gh"))
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"),
                    F.col("r.doc_id").alias("b"))
            .distinct())


def jaccard_pairs(df: DataFrame, threshold: float = JACCARD_THRESHOLD
                  ) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs: prefix-filtered candidates,
    then exact Jaccard on candidates only — identical output to the naive
    all-grams self-join (prefix filtering is lossless), without its
    hot-gram shuffle explosion.

    (a, b, jaccard) with a < b; jaccard rounded to 6 dp for stable compare.
    """
    # the gram arrays feed dfreq, the prefix join AND the pair
    # verification. Exchange reuse cannot share them (they sit below every
    # shuffle): re-tokenizing the corpus in each branch took 3.75 s
    # against 1.33 s with the arrays computed once (sf0.01, 4 cores). An
    # EAGER localCheckpoint computes them once; the ContextCleaner
    # releases it when the plan is garbage-collected, so no cache leaks
    g = _gram_hashed(df).localCheckpoint(eager=True)
    return _pair_jaccard(prefix_candidates(g, threshold), g, threshold)


#: BPE-ish subword segmentation regex — portable between Java regex
#: (Spark) and RE2 (DuckDB): alpha runs, digit runs, punctuation runs
SUBTOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting (brief: whitespace + a BPE-ish regex): whitespace
    tokens, regex subword tokens, alpha/numeric splits and mean subtoken
    length — all JVM built-ins (regexp_extract_all/size), no Python."""
    lower = F.lower(F.col("text"))
    ws = F.split(lower, r"\s+")
    sub = F.regexp_extract_all(lower, F.lit(SUBTOKEN_RE), 0)
    alpha = F.regexp_extract_all(lower, F.lit(r"[a-z]+"), 0)
    num = F.regexp_extract_all(lower, F.lit(r"[0-9]+"), 0)
    sub_chars = F.aggregate(F.transform(sub, lambda t: F.length(t)),
                            F.lit(0), lambda acc, x: acc + x)
    return df.select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(sub).alias("n_subtokens"),
        F.size(alpha).alias("n_alpha_tokens"),
        F.size(num).alias("n_num_tokens"),
        _round6(sub_chars / F.greatest(F.size(sub), F.lit(1)))
        .alias("avg_subtoken_len"))


def gram_df_stats(df: DataFrame, hot_df: int = 32) -> DataFrame:
    """Gram document-frequency skew profile — the text-channel analog of
    audio_skew_stats: how many distinct grams, how hot the hottest key is,
    and how many grams exceed the hot threshold (i.e. would dominate a
    naive gram self-join's shuffle; the prefix filter keeps them out)."""
    dfreq = (_tokens(df).select(F.explode(_gram_hashes()).alias("gh"))
             .groupBy("gh").agg(F.count(F.lit(1)).alias("gdf")))
    zero = F.lit(0).cast("long")
    return dfreq.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.coalesce(F.max("gdf"), zero).alias("max_df"),
        F.coalesce(F.sum(F.when(F.col("gdf") > hot_df, 1).otherwise(0)),
                   zero).alias("n_hot_grams"),
        F.coalesce(F.sum("gdf"), zero).alias("n_gram_postings"))


_SIG_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("bands", T.ArrayType(T.LongType())),
    T.StructField("simhash", T.LongType()),
])


def doc_signatures(df: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """MinHash band hashes + SimHash per document (Arrow-batched NumPy,
    shared kernels — same machinery as the audio pipeline's text channel)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import sketch as K_sketch
        from ..kernels import text as K_text
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # pure n-grams (no short-text augmentation): the MinHash must
            # estimate exactly the Jaccard that the exact-gram oracle
            # computes, or band recall guarantees don't transfer
            sh = [K_text.ngram_shingles(str(t), cfg.text_ngram,
                                        short_tokens=0)
                  for t in pdf["text"].to_numpy()]
            offs = np.zeros(len(sh) + 1, dtype=np.int64)
            np.cumsum([a.shape[0] for a in sh], out=offs[1:])
            vals = (np.concatenate(sh) if sh else
                    np.empty(0, np.uint64)).astype(np.uint64, copy=False)
            sig = K_sketch.minhash_batch(vals, offs, cfg)
            sim = K_sketch.simhash_batch(vals, offs, cfg)
            bands = K_sketch.band_hashes(sig, cfg)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(np.int64),
                "bands": [r for r in bands.view(np.int64)],
                "simhash": sim.view(np.int64),
            })

    return df.select("doc_id", "text").mapInPandas(fn, _SIG_SCHEMA)


def minhash_lsh_pairs(df: DataFrame, cfg: PipelineConfig = DEFAULT,
                      threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-collision candidates, then exact
    n-gram Jaccard >= threshold on survivors only. Output == jaccard_pairs
    up to the documented ~5e-9 LSH miss probability, which is what lets the
    DuckDB exact-Jaccard self-join serve as its oracle.

    Skew bound: band buckets are enumerated through the same capped
    sub-bucket split as the audio candidate join (engine/bucket_pairs.py),
    so a band bucket of m members yields O(m·bucket_cap) candidates
    instead of O(m²) — on a dup-heavy corpus (a million identical docs
    all land in one (band_idx, bh) bucket) the candidate join stays
    linear. Below bucket_cap members every within-bucket pair is
    enumerated, so the exact-Jaccard oracle holds whenever no bucket
    exceeds the cap; above it, the representative chain keeps each
    duplicate group one connected component, so the downstream cluster
    decision (doc_dedup_clusters) is unaffected while the PAIR list is
    the documented linear skew-bounded subset."""
    from ..engine.bucket_pairs import capped_bucket_pairs
    sigs = doc_signatures(df, cfg)
    bands = sigs.select("doc_id",
                        F.posexplode("bands").alias("band_idx", "bh"))
    # dedup_key=[]: only (a, b) survives the distinct below, so hot
    # buckets with identical member sets across the 32 bands (an exact-
    # duplicate group lands its whole membership in one bucket PER band)
    # are enumerated once, not 32 times. `cand` feeds both the doc-id
    # semi-join and the Jaccard joins; exchange reuse shares its distinct
    # shuffle, so the signatures and the band enumeration run once
    cand = (capped_bucket_pairs(bands, ["band_idx", "bh"], "doc_id",
                                cap=cfg.bucket_cap, soft=cfg.bucket_soft,
                                dedup_key=[])
            .select("a", "b")
            .distinct())
    # exact Jaccard ONLY on the band-collision survivors (round 1 computed
    # the full exact join and semi-joined after — LSH was pure overhead),
    # and gram ONLY the docs those survivors name: tokenizing + gram-dedup
    # shuffling the WHOLE corpus was ~45% of the doc-dedup wall at the
    # 1.6M-doc scale tier (626 MB gram-distinct shuffle + a 634 MB re-
    # shuffle into the verify joins, per-stage REST metrics, round 4) for
    # a verification that reads ~0.3% of the docs. Output is identical:
    # _pair_jaccard only ever looks up docs present in cand. The exact
    # jaccard_pairs path is untouched — its prefix filter NEEDS the
    # global gram document frequencies.
    ids = cand.select(F.explode(F.array("a", "b")).alias("doc_id")
                      ).distinct()
    g = _gram_hashed(df.join(ids, "doc_id", "left_semi"))
    return _pair_jaccard(cand, g, threshold)


def simhash_hamming_pairs(df: DataFrame, cfg: PipelineConfig = DEFAULT,
                          max_bits: int = 8) -> DataFrame:
    """SimHash near-dup pairs (Manku et al., WWW'07 style): block the
    64-bit sketch into 4 x 16-bit keys — any pair within Hamming distance
    <= 3 collides in >= 1 block; then filter by exact popcount distance.

    NOTE 16-bit keys cap out at 65k buckets, so this operator is only
    scale-sane on pre-partitioned corpora (e.g. within a `source`); it is
    included for parity with SimHash-based dedup literature, while the
    MinHash-LSH path is the 10^12-scale citizen. Output: (a, b, hamming).

    Block buckets go through the shared capped sub-bucket skew split
    (engine/bucket_pairs.py) — the member is a (doc_id, simhash) struct
    (sorted/canonicalized by its unique leading doc_id), so the hamming
    distance is computed from the pair row itself with no re-join.
    """
    from ..engine.bucket_pairs import capped_bucket_pairs
    sigs = doc_signatures(df, cfg)
    blocks = sigs.select(
        F.struct(F.col("doc_id"), F.col("simhash")).alias("ms"),
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), k * 16)
            .bitwiseAND(F.lit(0xFFFF)) for k in range(4)
        ])).alias("block_idx", "block_key"))
    cand = (capped_bucket_pairs(blocks, ["block_idx", "block_key"], "ms",
                                cap=cfg.bucket_cap, soft=cfg.bucket_soft,
                                dedup_key=[])
            .select(F.col("a.doc_id").alias("a"),
                    F.col("b.doc_id").alias("b"),
                    F.bit_count(F.col("a.simhash")
                                .bitwiseXOR(F.col("b.simhash")))
                    .alias("hamming"))
            .distinct()
            .where(F.col("hamming") <= max_bits))
    return cand


#: tiny deterministic stopword list shared with the DuckDB oracle SQL
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def _round6(col):
    """Explicit HALF_UP 6-dp rounding — identical semantics in Spark and in
    the DuckDB oracle SQL (plain round() differs on exact .5 ties: Spark is
    HALF_UP, DuckDB half-even)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def quality_features(df: DataFrame) -> DataFrame:
    """Per-doc quality scoring — pure built-in expressions (JVM codegen,
    no Python): token counts, length stats, stopword/punct ratios and a
    deterministic composite quality score."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    avg_wlen = (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
                / F.greatest(n_toks, F.lit(1)))
    score = (F.least(n_toks / F.lit(64.0), F.lit(1.0)) * 0.5
             + (n_stop / F.greatest(n_toks, F.lit(1))) * 0.3
             + F.when(avg_wlen.between(3.0, 9.0), 0.2).otherwise(0.0))
    return df.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        _round6(avg_wlen).alias("avg_word_len"),
        n_stop.alias("n_stopword_types"),
        n_punct.alias("n_punct"),
        _round6(score).alias("quality_score"))


_LANG_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_score", T.DoubleType()),
])

LANG_PROFILE_TOPK = 64


def lang_trigram_counts(df: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Per-(lang, trigram-hash) document frequency — the distributed
    profile-building aggregation (8-byte keys on the shuffle, partial
    map-side combine via groupBy)."""
    tri_schema = T.StructType([T.StructField("lang", T.StringType()),
                               T.StructField("tri", T.LongType())])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import text as K_text
        for pdf in batches:
            if len(pdf) == 0:
                continue
            langs, tris = [], []
            lvals = pdf[lang_col].astype(str).to_numpy()
            for i, t in enumerate(pdf["text"].astype(str).to_numpy()):
                u = np.unique(K_text.char_trigram_hashes(t))
                langs.extend([lvals[i]] * u.shape[0])
                tris.append(u.view(np.int64))
            yield pd.DataFrame({
                "lang": langs,
                "tri": (np.concatenate(tris) if tris
                        else np.empty(0, np.int64))})

    return (df.select(F.col(lang_col).alias(lang_col), "text")
            .mapInPandas(fn, tri_schema)
            .groupBy("lang", "tri")
            .agg(F.count(F.lit(1)).alias("df_count")))


def build_lang_profiles(df: DataFrame, lang_col: str = "lang",
                        top_k: int = LANG_PROFILE_TOPK
                        ) -> dict[str, np.ndarray]:
    """Top-k trigram hashes per language by document frequency
    (deterministic tie-break: df desc, tri asc). The profile table is tiny
    (langs × top_k rows) so collecting it to the driver — where it ships to
    scoring tasks as a broadcast closure — is the right plan at any scale."""
    counts = lang_trigram_counts(df, lang_col)
    w = Window.partitionBy("lang").orderBy(F.col("df_count").desc(),
                                           F.col("tri").asc())
    top = (counts.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= top_k)
           .select("lang", "tri").collect())
    prof: dict[str, list[int]] = {}
    for r in top:
        prof.setdefault(r["lang"], []).append(r["tri"])
    return {lg: np.sort(np.asarray(v, dtype=np.int64).view(np.uint64))
            for lg, v in prof.items()}


def lang_id(df: DataFrame, profiles: dict[str, np.ndarray] | None = None
            ) -> DataFrame:
    """Character-trigram language ID: score each document's distinct
    trigram set against per-language top-k trigram profiles (kernels/
    text.py::lang_scores — one vectorized searchsorted pass per language
    per Arrow batch, no per-row Python). Profiles default to ones built
    from the input's own `lang` column."""
    profs = profiles if profiles is not None else build_lang_profiles(df)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import text as K_text
        for pdf in batches:
            if len(pdf) == 0:
                continue
            langs, scores = K_text.lang_scores(
                pdf["text"].astype(str).to_numpy(), profs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype(np.int64),
                                "lang_pred": langs,
                                "lang_score": np.floor(scores * 1e6 + 0.5)
                                / 1e6})

    return df.select("doc_id", "text").mapInPandas(fn, _LANG_SCHEMA)


_FP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("fp", T.LongType()),
])


def doc_fingerprints(df: DataFrame, window: int = 8, keep: int = 16
                     ) -> DataFrame:
    """Winnowing-style document fingerprints: rolling hash over char
    4-grams, keep the `keep` smallest window minima (robust selection of
    representative substrings — the doc-level analog of CDStore's chunk
    fingerprints). One output row per (doc_id, fp) — scalar columns, so
    the result joins/aggregates like any fingerprint index table."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import text as K_text
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, fps = [], []
            dvals = pdf["doc_id"].to_numpy()
            for i, t in enumerate(pdf["text"].astype(str).to_numpy()):
                sel = K_text.winnow_fingerprints(t, window, keep)
                ids.extend([int(dvals[i])] * sel.shape[0])
                fps.append(sel)
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "fp": (np.concatenate(fps) if fps
                       else np.empty(0, np.int64))})

    return df.select("doc_id", "text").mapInPandas(fn, _FP_SCHEMA)
