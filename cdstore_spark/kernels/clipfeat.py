"""Whole-batch clip featurization — the shared S2–S5 kernel.

One function turns a batch of raw clip rows into everything the pipeline
needs downstream: decoded-PCM stats, event streams, CDC shingles, MinHash
signatures, SimHash sketches and LSH band hashes for BOTH channels (audio,
transcript). The single-node oracle calls it on the whole table; the Spark
engine calls it per Arrow batch inside mapInPandas — same bytes in, same
numbers out, which is what makes the oracle the golden truth.

Per-clip inner loops here iterate over *clips in a batch* with fully
vectorized NumPy per iteration (thousands of samples each) — there is no
per-row Python in the Spark sense (no row-at-a-time UDFs) anywhere.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from ..config import PipelineConfig
from . import codec as K_codec
from . import features as K_feat
from . import sketch as K_sketch
from . import text as K_text

U64 = np.uint64


def _csr(arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    offsets = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum([a.shape[0] for a in arrays], out=offsets[1:])
    values = np.concatenate(arrays) if arrays else np.empty(0, dtype=U64)
    return values.astype(U64, copy=False), offsets


def featurize_batch(pdf: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """Input columns: clip_id, bytes, sr_hz, dur_ms, codec, transcript.

    Output columns (one row per clip):
        clip_id, n_events, events (list<uint16 as int32>), event_ms
        (list<float>), event_zcr (list<float>), n_shingles_audio,
        n_shingles_text, simhash_audio / simhash_text (int64), bands_audio /
        bands_text (list<int64>, len lsh_bands), n_samples, rms, pcm_sha256
    """
    n = len(pdf)
    ev_syms: list[np.ndarray] = []
    ev_ms: list[np.ndarray] = []
    ev_zcr: list[np.ndarray] = []
    audio_sh: list[np.ndarray] = []
    text_sh: list[np.ndarray] = []
    n_samples = np.zeros(n, dtype=np.int64)
    rms = np.zeros(n, dtype=np.float64)
    sha: list[str] = []

    codecs = pdf["codec"].to_numpy()
    srs = pdf["sr_hz"].to_numpy()
    texts = pdf["transcript"].to_numpy()
    for i, raw in enumerate(pdf["bytes"].to_numpy()):
        x = K_codec.decode_float(raw, str(codecs[i]))
        syms, dms, zcrs = K_feat.audio_events(x, int(srs[i]), cfg)
        ev_syms.append(syms)
        ev_ms.append(dms)
        ev_zcr.append(zcrs)
        audio_sh.append(K_feat.audio_shingles(syms, cfg))
        text_sh.append(K_text.ngram_shingles(str(texts[i]), cfg.text_ngram, cfg.text_short_tokens))
        n_samples[i] = x.shape[0]
        rms[i] = float(np.sqrt(np.mean(x.astype(np.float64) ** 2))) if x.shape[0] else 0.0
        sha.append(hashlib.sha256(np.ascontiguousarray(x).tobytes()).hexdigest())

    a_vals, a_offs = _csr(audio_sh)
    t_vals, t_offs = _csr(text_sh)
    sig_a = K_sketch.minhash_batch(a_vals, a_offs, cfg)
    sig_t = K_sketch.minhash_batch(t_vals, t_offs, cfg)
    sim_a = K_sketch.simhash_batch(a_vals, a_offs, cfg)
    sim_t = K_sketch.simhash_batch(t_vals, t_offs, cfg)
    bands_a = K_sketch.band_hashes(sig_a, cfg)
    bands_t = K_sketch.band_hashes(sig_t, cfg)

    return pd.DataFrame({
        "clip_id": pdf["clip_id"].astype(str).to_numpy(),
        "n_events": np.asarray([s.shape[0] for s in ev_syms], dtype=np.int32),
        "events": [s.astype(np.int32) for s in ev_syms],
        "event_ms": [d.astype(np.float32) for d in ev_ms],
        "event_zcr": [z.astype(np.float32) for z in ev_zcr],
        "n_shingles_audio": (a_offs[1:] - a_offs[:-1]).astype(np.int32),
        "n_shingles_text": (t_offs[1:] - t_offs[:-1]).astype(np.int32),
        "simhash_audio": sim_a.view(np.int64),
        "simhash_text": sim_t.view(np.int64),
        "bands_audio": [row for row in bands_a.view(np.int64)],
        "bands_text": [row for row in bands_t.view(np.int64)],
        "n_samples": n_samples,
        "rms": rms,
        "pcm_sha256": sha,
    })


def pack_events(ev: np.ndarray, ms: np.ndarray, zcr: np.ndarray) -> bytes:
    """Pack (events int32, event_ms float32, event_zcr float32) into one
    little-endian binary blob: count + three contiguous sections.

    One BinaryType column crosses the JVM↔Python Arrow boundary an order
    of magnitude cheaper than three ListType columns (no per-row offset
    vectors, no per-row Python list materialization) — this is the verify
    stage's transfer format for per-clip event streams.
    """
    return (np.int32(ev.shape[0]).tobytes()
            + ev.astype("<i4", copy=False).tobytes()
            + ms.astype("<f4", copy=False).tobytes()
            + zcr.astype("<f4", copy=False).tobytes())


def unpack_events(buf: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of pack_events → (events int64, ms float32, zcr float32)."""
    n = int(np.frombuffer(buf, dtype="<i4", count=1)[0])
    ev = np.frombuffer(buf, dtype="<i4", count=n, offset=4).astype(np.int64)
    ms = np.frombuffer(buf, dtype="<f4", count=n, offset=4 + 4 * n)
    zcr = np.frombuffer(buf, dtype="<f4", count=n, offset=4 + 8 * n)
    return ev, ms, zcr


def verify_audio_pair(ev_a: np.ndarray, ms_a: np.ndarray, zcr_a: np.ndarray,
                      ev_b: np.ndarray, zcr_b: np.ndarray,
                      cfg: PipelineConfig,
                      pref_a: np.ndarray | None = None,
                      pref_b: np.ndarray | None = None) -> tuple[bool, float]:
    """Audio-channel suffix-array confirmation — a pure function of the two
    event streams (CONTENT-determined: every candidate pair with the same
    packed event contents gets the same answer, which is what lets the
    engine run it once per distinct oriented content pair).

    Requires (a) a common event run of >= verify_min_events covering >=
    verify_min_audio_ms, AND (b) carrier consistency: the median |log2 ZCR|
    gap over the matched run <= verify_zcr_log2_tol — rejects unrelated
    clips whose quantized envelopes coincide by chance while keeping noise/
    gain/codec perturbations, whose carriers are unchanged.

    NOTE span_ms sums the A side's durations over the matched run — the
    result is NOT symmetric under (a, b) swap near the span threshold, so
    callers must preserve pair orientation. Returns (audio_ok, span_ms).
    """
    from . import suffix as K_suffix

    if ev_a.shape[0] < cfg.verify_min_events \
            or ev_b.shape[0] < cfg.verify_min_events:
        return False, 0.0
    # identical event arrays (exact/reencode/gain duplicates) need no
    # suffix array: the LCS is the whole sequence at positions (0, 0),
    # which is exactly what the SA path returns for equal inputs
    if ev_a.shape[0] == ev_b.shape[0] and np.array_equal(ev_a, ev_b):
        run, pa, pb = int(ev_a.shape[0]), 0, 0
    else:
        # min_len: any run < verify_min_events is rejected with span 0
        # below, so the kernel may prove rejection with one floor probe
        # instead of resolving the exact sub-threshold length. pref_a/b
        # (optional): per-content prefix hashes the engine memoizes across
        # the many pairs sharing a content — identical results either way.
        run, pa, pb = K_suffix.longest_common_run(
            ev_a.astype(np.int64), ev_b.astype(np.int64),
            min_len=cfg.verify_min_events, pref_a=pref_a, pref_b=pref_b)
    if run < cfg.verify_min_events:
        return False, 0.0
    span_ms = float(ms_a[pa: pa + run].sum())
    zgap = float(np.median(np.abs(zcr_a[pa: pa + run].astype(np.float64)
                                  - zcr_b[pb: pb + run].astype(np.float64))))
    return (span_ms >= cfg.verify_min_audio_ms
            and zgap <= cfg.verify_zcr_log2_tol), span_ms


def verify_text_pair(txt_a: str, txt_b: str,
                     memo: dict | None = None) -> int:
    """Longest common normalized-transcript substring length — a pure,
    SYMMETRIC function of the two transcript contents.

    `memo` (optional) caches normalize/char_codes per distinct raw string:
    the Spark engine runs this once per distinct content PAIR, but each
    content appears in many pairs, so per-partition memoization skips the
    repeated O(n) preprocessing. Results are identical with or without it
    (the oracle passes nothing)."""
    from . import suffix as K_suffix

    if memo is None:
        na, nb = K_text.normalize(txt_a), K_text.normalize(txt_b)
        if na == nb:
            return len(na)      # LCS of identical strings = the string
        ca, cb = K_text.char_codes(txt_a), K_text.char_codes(txt_b)
    else:
        ea, eb = _text_memo(txt_a, memo), _text_memo(txt_b, memo)
        na, nb = ea[0], eb[0]
        if na == nb:
            return len(na)
        ca, cb = _memo_codes(ea), _memo_codes(eb)
        run, _, _ = K_suffix.longest_common_run(
            ca, cb, pref_a=_memo_pref(ea), pref_b=_memo_pref(eb))
        return int(run)
    run, _, _ = K_suffix.longest_common_run(ca, cb)
    return int(run)


def _text_memo(txt: str, memo: dict) -> list:
    e = memo.get(txt)
    if e is None:
        e = memo[txt] = [K_text.normalize(txt), None, None]
    return e


def _memo_codes(e: list) -> np.ndarray:
    if e[1] is None:
        e[1] = K_text.codes_from_normalized(e[0])
    return e[1]


def _memo_pref(e: list) -> np.ndarray:
    # per-content prefix hashes (lazy, like the codes array) — each content
    # participates in many pairs, so the O(n) hash preprocessing runs once
    if e[2] is None:
        from . import suffix as K_suffix
        e[2] = K_suffix.lcs_prefix(e[1])
    return e[2]


def verify_pair(ev_a: np.ndarray, ms_a: np.ndarray, zcr_a: np.ndarray,
                ev_b: np.ndarray, zcr_b: np.ndarray,
                txt_a: str, txt_b: str, cfg: PipelineConfig,
                try_audio: bool, try_text: bool) -> tuple[bool, bool, float, int]:
    """Suffix-array span confirmation for one candidate pair — the
    composition the single-node oracle runs per pair; the Spark engine
    runs the two channel kernels above once per distinct content pair
    instead (engine/verify.py), with identical per-pair semantics.

    Returns (audio_ok, text_ok, audio_span_ms, text_span_chars).
    """
    audio_ok, span_ms = ((verify_audio_pair(ev_a, ms_a, zcr_a,
                                            ev_b, zcr_b, cfg))
                         if try_audio else (False, 0.0))
    if try_text:
        nchars = verify_text_pair(txt_a, txt_b)
        text_ok = nchars >= cfg.verify_min_chars
    else:
        text_ok, nchars = False, 0
    return audio_ok, text_ok, span_ms, nchars
