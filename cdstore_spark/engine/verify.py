"""S7: suffix-array span verification of candidate pairs.

Payload discipline (SURVEY.md §7.4 decision 4): verify never touches raw
`bytes` — it consumes the compact event streams + transcripts produced by
featurize.

One physical plan. The candidate pairs, repartitioned to twice the core
count, join on `a` and on `b` to one projection of the features (clip_id,
both simhashes, the vk/tk content keys, vpack, transcript); one
mapInPandas stage then evaluates the SimHash corroboration gates and both
channel kernels per pair. The joins carry no static broadcast hints:
Spark's planner and AQE's adaptive threshold (64 MB, session.py) pick
broadcast or shuffle from each join's measured size, so the plan needs no
byte budget of its own.

Work is deduplicated inside the kernel, not in the dataflow. Near-dup
corpora repeat the same (event stream, transcript) contents across many
candidate pairs, and both channel kernels are pure functions of the
contents, so each partition memoizes results per oriented content-key
pair. Orientation is preserved (no least/greatest on content keys):
span_ms sums the A side's durations over the matched run, so swapping
roles can flip audio_ok near the span threshold.

The SimHash gate (from_channel LSH provenance OR channel simhash Hamming
<= gate bits) uses the NumPy hamming64 kernel the single-node oracle uses.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, PipelineConfig

VERIFY_SCHEMA = T.StructType([
    T.StructField("a", T.StringType()),
    T.StructField("b", T.StringType()),
    T.StructField("audio_ok", T.BooleanType()),
    T.StructField("text_ok", T.BooleanType()),
    T.StructField("span_ms", T.DoubleType()),
    T.StructField("span_chars", T.IntegerType()),
])

#: per-partition content-memo BYTE budget — each content appears in many
#: pairs, so the kernels cache per-content preprocessing (event unpack /
#: transcript normalize+codes) keyed by content. The budget is in payload
#: bytes, not entries (multi-KB contents × a fixed entry count would be
#: ~GBs per task at production partition sizes); clear() past it keeps
#: worker memory flat on arbitrarily large partitions, checked per insert
_MEMO_MAX_BYTES = 64 * 1024 * 1024


class _AudioPairState:
    """Per-partition audio verification state for the fused kernel:

      * length gate — event counts read straight from the 4-byte pack
        header (no unpack, no memo traffic) for every row at once;
      * equal-content fast path — vk_a == vk_b means identical event
        streams, where verify_audio_pair's answer is analytically
        (span >= min_ms, span = full float32 ms sum) since the common run
        is the whole sequence and the ZCR gap is exactly 0 <= tol. The
        float32 pairwise sum matches the kernel's ms_a[0:n].sum()
        bit-for-bit; the per-content span is memoized so an n-member
        exact-duplicate group costs n sums, not n^2 kernel calls;
      * result memo — oriented (vk_a, vk_b) -> (ok, span): the same
        content pair recurs across rows of a partition, and the kernels
        are pure functions of content. Both the span and result memos are
        BYTE-budgeted against _MEMO_MAX_BYTES like the unpack memo
        (~200 B/entry approximation charged per insert) — entry-count
        caps alone would admit hundreds of MB of tuple/dict overhead
        per concurrently-running kernel task before clearing.

    Only surviving unequal unseen pairs reach the suffix-array kernel.
    """

    def __init__(self, cfg: PipelineConfig):
        import numpy as np

        from ..kernels.clipfeat import unpack_events, verify_audio_pair
        from ..kernels.suffix import lcs_prefix
        self._np = np
        self._unpack_events = unpack_events
        self._verify_audio_pair = verify_audio_pair
        self._lcs_prefix = lcs_prefix
        self.cfg = cfg
        self.min_ev = cfg.verify_min_events
        self.min_ms = cfg.verify_min_audio_ms
        assert cfg.verify_zcr_log2_tol >= 0.0
        self.unp: dict = {}
        self.used = 0
        self.spans: dict = {}   # vk -> full-stream float32 ms sum
        self.spans_used = 0
        self.res: dict = {}     # (vk_a, vk_b) -> (ok, span)
        self.res_used = 0

    def get(self, k, buf):
        r = self.unp.get(k)
        if r is None:
            if self.used > _MEMO_MAX_BYTES:
                self.unp.clear()
                self.used = 0
            ev, ms, zc = self._unpack_events(buf)
            # prefix hashes memoized WITH the content: the O(n) LCS
            # preprocessing runs once per distinct content, not per
            # pair (bit-identical — lcs_prefix is what the kernel
            # computes itself when not supplied)
            r = self.unp[k] = (ev, ms, zc,
                               self._lcs_prefix(ev.astype(self._np.int64)))
            # frombuffer views pin buf; account the packed source size
            # + the 8 B/event prefix array
            self.used += len(buf) + 8 * (ev.shape[0] + 1) + 64
        return r

    def run(self, vka, vkb, va, vb, idx, ok, span):
        """Verify rows `idx` of the batch arrays in place: ok[i]/span[i]
        for each i in idx, with all three memo layers applied."""
        np = self._np
        m = len(vka)
        na = np.fromiter((int.from_bytes(b[:4], "little") for b in va),
                         dtype=np.int64, count=m)
        nb = np.fromiter((int.from_bytes(b[:4], "little") for b in vb),
                         dtype=np.int64, count=m)
        sel = np.zeros(m, dtype=bool)
        sel[idx] = True
        alive = sel & (na >= self.min_ev) & (nb >= self.min_ev)
        eq = alive & (vka == vkb)
        for i in np.flatnonzero(eq):
            k = vka[i]
            s = self.spans.get(k)
            if s is None:
                if self.spans_used > _MEMO_MAX_BYTES:
                    self.spans.clear()
                    self.spans_used = 0
                n = int(na[i])
                s = self.spans[k] = float(np.frombuffer(
                    va[i], dtype="<f4", count=n, offset=4 + 4 * n).sum())
                # ~key str + float + dict slot overhead per entry
                self.spans_used += 2 * len(k) + 120
            span[i] = s
            ok[i] = s >= self.min_ms
        for i in np.flatnonzero(alive & ~eq):
            key = (vka[i], vkb[i])
            r = self.res.get(key)
            if r is None:
                if self.res_used > _MEMO_MAX_BYTES:
                    self.res.clear()
                    self.res_used = 0
                ev_a, ms_a, zc_a, pref_a = self.get(vka[i], va[i])
                ev_b, _, zc_b, pref_b = self.get(vkb[i], vb[i])
                r = self.res[key] = self._verify_audio_pair(
                    ev_a, ms_a, zc_a, ev_b, zc_b, self.cfg,
                    pref_a=pref_a, pref_b=pref_b)
                # ~two key strs + tuple(bool, float) + dict slot overhead
                self.res_used += 2 * (len(key[0]) + len(key[1])) + 200
            ok[i], span[i] = r


class _TextBoundedMemo(dict):
    # accounted per entry: raw key + normalized copy (str overhead
    # + up to 4 B/char) + lazily-materialized int32 codes array
    # (4 B/char) + uint64 prefix-hash array (8 B/char) — all
    # charged in __setitem__ up front so the in-place list
    # mutations in _memo_codes/_memo_pref cannot bypass the
    # budget ≈ conservatively 20 bytes/char
    used = 0

    def __setitem__(self, k, v):
        if self.used > _MEMO_MAX_BYTES:
            self.clear()
            self.used = 0
        self.used += 20 * len(k) + 160
        super().__setitem__(k, v)


class _TextPairState:
    """Per-partition text verification state for the fused kernel:
    equal-content fast path via one memoized normalize per distinct
    content, per-pair suffix kernel for unequal contents, plus an oriented
    (tk_a, tk_b) -> nchars result memo for repeated content pairs."""

    def __init__(self):
        from ..kernels.clipfeat import _text_memo, verify_text_pair
        self._text_memo = _text_memo
        self._verify_text_pair = verify_text_pair
        self.memo = _TextBoundedMemo()
        self.res: dict = {}
        self.res_used = 0

    def run(self, tka, tkb, ta, tb, idx, nch):
        import numpy as np
        m = len(tka)
        sel = np.zeros(m, dtype=bool)
        sel[idx] = True
        eq = sel & (tka == tkb)
        for i in np.flatnonzero(eq):
            nch[i] = len(self._text_memo(str(ta[i]), self.memo)[0])
        for i in np.flatnonzero(sel & ~eq):
            key = (tka[i], tkb[i])
            r = self.res.get(key)
            if r is None:
                if self.res_used > _MEMO_MAX_BYTES:
                    self.res.clear()
                    self.res_used = 0
                r = self.res[key] = self._verify_text_pair(
                    str(ta[i]), str(tb[i]), self.memo)
                # ~two key strs + int + dict slot overhead per entry
                self.res_used += 2 * (len(key[0]) + len(key[1])) + 200
            nch[i] = r


def _fused_kernel(cfg: PipelineConfig):
    """Per-pair fused verification: simhash corroboration gates + both
    channel kernels in ONE mapInPandas stage. Gate arithmetic is the
    NumPy hamming64 kernel the single-node oracle uses. Channel work is
    memoized per oriented content pair via the pair-state classes, so an
    n-member duplicate group still costs O(distinct content pairs) kernel
    calls per partition, not O(rows)."""
    gate = cfg.simhash_gate_bits
    min_chars = cfg.verify_min_chars

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..kernels.sketch import hamming64
        A = _AudioPairState(cfg)
        X = _TextPairState()
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            sha_a = pdf["sha_a"].to_numpy().astype(np.int64).view(np.uint64)
            sha_b = pdf["sha_b"].to_numpy().astype(np.int64).view(np.uint64)
            sht_a = pdf["sht_a"].to_numpy().astype(np.int64).view(np.uint64)
            sht_b = pdf["sht_b"].to_numpy().astype(np.int64).view(np.uint64)
            try_audio = (pdf["from_audio"].to_numpy()
                         | (hamming64(sha_a, sha_b) <= gate))
            try_text = (pdf["from_text"].to_numpy()
                        | (hamming64(sht_a, sht_b) <= gate))
            ok = np.zeros(m, dtype=bool)
            span = np.zeros(m, dtype=np.float64)
            nch = np.zeros(m, dtype=np.int64)
            ia = np.flatnonzero(try_audio)
            if ia.size:
                A.run(pdf["vk_a"].to_numpy(), pdf["vk_b"].to_numpy(),
                      pdf["vpack_a"].to_numpy(), pdf["vpack_b"].to_numpy(),
                      ia, ok, span)
            it = np.flatnonzero(try_text)
            if it.size:
                X.run(pdf["tk_a"].to_numpy(), pdf["tk_b"].to_numpy(),
                      pdf["transcript_a"].to_numpy(),
                      pdf["transcript_b"].to_numpy(), it, nch)
            yield pd.DataFrame({
                "a": pdf["a"], "b": pdf["b"],
                "audio_ok": try_audio & ok,
                "text_ok": try_text & (nch >= min_chars),
                "span_ms": np.where(try_audio, span, 0.0),
                "span_chars": np.where(try_text, nch, 0).astype(np.int32),
            })
    return fn


#: feature columns the kernel reads, renamed per pair side
_SIDE_COLS = {"simhash_audio": "sha", "simhash_text": "sht", "vk": "vk",
              "tk": "tk", "vpack": "vpack", "transcript": "transcript"}


def verify_candidates(cand: DataFrame, feats: DataFrame,
                      cfg: PipelineConfig = DEFAULT,
                      n_feats: int | None = None,
                      n_cand: int | None = None) -> DataFrame:
    """Candidate pairs + features → confirmed pairs (audio_ok OR text_ok).

    `n_feats` and `n_cand` are accepted for call compatibility and unused.
    """
    fsub = feats.select("clip_id", *_SIDE_COLS)

    def side(s: str) -> DataFrame:
        return fsub.select(F.col("clip_id").alias(s),
                           *[F.col(c).alias(f"{n}_{s}")
                             for c, n in _SIDE_COLS.items()])

    # explicit repartition: the pair table is a few MB of slim rows, so
    # AQE's byte-based coalescing would run the per-ROW-expensive kernel
    # stage on 1-2 tasks (the documented +24 s pitfall)
    par = cand.sparkSession.sparkContext.defaultParallelism * 2
    joined = cand.repartition(par).join(side("a"), "a").join(side("b"), "b")
    return (joined.mapInPandas(_fused_kernel(cfg), VERIFY_SCHEMA)
            .where(F.col("audio_ok") | F.col("text_ok")))
