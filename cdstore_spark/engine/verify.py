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
contents, so each partition runs them once per oriented content-key pair
(_per_content_pair) and every memo is one byte-budgeted type (_Memo).
Orientation is preserved (no least/greatest on content keys): span_ms
sums the A side's durations over the matched run, so swapping roles can
flip audio_ok near the span threshold. Identical contents and streams
below verify_min_events need no engine-side shortcut: the kernels answer
them with their own early returns (equal event arrays / equal normalized
transcripts; the event-count check), and the memo collapses an n-member
exact-duplicate group to one call.

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

#: per-partition memo BYTE budget, shared by every memo of the kernel:
#: each content appears in many pairs, so the kernels cache per-content
#: preprocessing (event unpack / transcript normalize+codes) keyed by
#: content, and results keyed by content pair. The budget is in payload
#: bytes, not entries (multi-KB contents × a fixed entry count would be
#: ~GBs per task at production partition sizes); clearing past it keeps
#: worker memory flat on arbitrarily large partitions
_MEMO_MAX_BYTES = 64 * 1024 * 1024


class _Memo(dict):
    """A dict that clears itself once its charged bytes pass
    _MEMO_MAX_BYTES. `charge(key, value)` estimates one entry's bytes; it
    is charged in __setitem__, so lazily-filled values (the text memo's
    in-place list mutations) are budgeted up front."""

    def __init__(self, charge):
        super().__init__()
        self.charge = charge
        self.used = 0

    def __setitem__(self, k, v):
        if self.used > _MEMO_MAX_BYTES:
            self.clear()
            self.used = 0
        self.used += self.charge(k, v)
        super().__setitem__(k, v)


def _per_content_pair(kernel):
    """Runner that calls `kernel(ka, kb, xa, xb)` once per distinct
    oriented content-key pair of a partition: the channel kernels are pure
    functions of the contents, so an n-member duplicate group costs one
    kernel call per content pair, not one per row. Returns the results
    of rows `idx`, in order."""
    # ~two key strs + result + dict slot overhead per entry
    res = _Memo(lambda k, v: 2 * (len(k[0]) + len(k[1])) + 200)

    def run(ka, kb, xa, xb, idx) -> list:
        out = []
        for i in idx:
            key = (ka[i], kb[i])
            r = res.get(key)
            if r is None:
                r = res[key] = kernel(key[0], key[1], xa[i], xb[i])
            out.append(r)
        return out
    return run


def _audio_kernel(cfg: PipelineConfig):
    """(vk_a, vk_b, vpack_a, vpack_b) -> (audio_ok, span_ms), with each
    stream's unpack and LCS prefix hashes memoized by its content key."""
    from ..kernels.clipfeat import unpack_events, verify_audio_pair
    from ..kernels.suffix import lcs_prefix
    # frombuffer views pin the packed source (4 + 12 B/event), plus the
    # 8 B/event prefix array
    unp = _Memo(lambda k, v: 4 + 12 * len(v[0]) + 8 * len(v[3]) + 64)

    def unpacked(k, buf):
        r = unp.get(k)
        if r is None:
            ev, ms, zc = unpack_events(buf)
            r = unp[k] = (ev, ms, zc, lcs_prefix(ev))
        return r

    def kernel(ka, kb, va, vb):
        ev_a, ms_a, zc_a, pref_a = unpacked(ka, va)
        ev_b, _, zc_b, pref_b = unpacked(kb, vb)
        return verify_audio_pair(ev_a, ms_a, zc_a, ev_b, zc_b, cfg,
                                 pref_a=pref_a, pref_b=pref_b)
    return kernel


def _text_kernel():
    """(tk_a, tk_b, transcript_a, transcript_b) -> span_chars, with each
    transcript's normalize/codes/prefix hashes memoized by its raw text."""
    from ..kernels.clipfeat import verify_text_pair
    # raw key + normalized copy (str overhead + up to 4 B/char) + the
    # lazily-filled int32 codes (4 B/char) and uint64 prefix hashes
    # (8 B/char) ≈ conservatively 20 bytes/char
    memo = _Memo(lambda k, v: 20 * len(k) + 160)
    return lambda ka, kb, ta, tb: verify_text_pair(str(ta), str(tb), memo)


def _fused_kernel(cfg: PipelineConfig):
    """Per-pair fused verification: simhash corroboration gates + both
    channel kernels in ONE mapInPandas stage. Gate arithmetic is the
    NumPy hamming64 kernel the single-node oracle uses. Channel work runs
    once per oriented content pair (_per_content_pair)."""
    gate = cfg.simhash_gate_bits
    min_chars = cfg.verify_min_chars

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..kernels.sketch import hamming64
        audio = _per_content_pair(_audio_kernel(cfg))
        text = _per_content_pair(_text_kernel())
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
                ok[ia], span[ia] = zip(*audio(
                    pdf["vk_a"].to_numpy(), pdf["vk_b"].to_numpy(),
                    pdf["vpack_a"].to_numpy(), pdf["vpack_b"].to_numpy(),
                    ia))
            it = np.flatnonzero(try_text)
            nch[it] = text(pdf["tk_a"].to_numpy(), pdf["tk_b"].to_numpy(),
                           pdf["transcript_a"].to_numpy(),
                           pdf["transcript_b"].to_numpy(), it)
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
