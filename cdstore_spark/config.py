"""Frozen pipeline configuration — the "same shingle/signature config" that
the north rule requires (BASELINE.json `north_rule`).

Both the single-node NumPy oracle (`cdstore_spark.oracle`) and the
distributed Spark engine (`cdstore_spark.engine.*`) import THIS module and
share the kernel functions in `cdstore_spark.kernels`, so a configuration or
kernel drift between the two is impossible by construction.  The oracle's
dedup decisions at this config are the golden truth the Spark pipeline is
held to (dup-pair recall >= 0.99, cluster-assignment equality) — faithful to
"matching the reference's cluster assignments at the same shingle/signature
config" given that the reference tree is empty in this sandbox (SURVEY.md §0).

Reference parity: the variable-size CDC min/avg/max bounds mirror CDStore's
Rabin chunker parameters (published design, ATC'15; SURVEY.md §2.A op 3); the
MinHash/SimHash signatures play the role of CDStore's SHA-256 share
fingerprints (deterministic content-derived keys enabling equality-based
dedup; SURVEY.md §2.A ops 4–5).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # master seed for every derived hash family / permutation
    seed: int = 42

    # --- S2 decode + robust feature extraction ------------------------------
    # moving-average smoothing window on |x| (milliseconds)
    env_smooth_ms: int = 8
    # envelope decimated to ~this rate regardless of clip sample rate
    env_rate_hz: int = 1000
    # sqrt-companded quantization levels of the peak-normalized envelope
    env_levels: int = 12
    # median-filter width (odd) applied to the quantized envelope — kills
    # isolated noise-induced level flips before run-length encoding
    env_median: int = 5
    # absolute envelope-peak floor below which a clip is treated as silence
    # (empty shingle set → sentinel MinHash → the designed LSH skew block)
    silence_floor: float = 0.02
    # event-duration bucketing: floor(log(dur_ms)/log(dur_log_base))
    dur_log_base: float = 1.6

    # --- S3 content-defined chunking over the event-symbol stream -----------
    cdc_window: int = 4       # rolling-hash window, in events
    cdc_mask: int = 0x7       # boundary when (h & mask) == magic → avg 8 events
    cdc_magic: int = 0x3
    cdc_min: int = 2          # min segment length (events)
    cdc_max: int = 16         # max segment length (events)

    # --- transcript shingling ------------------------------------------------
    text_ngram: int = 3       # word n-grams
    # transcripts shorter than this many tokens additionally emit 1- and
    # 2-gram shingles: a single token edit on a short transcript destroys
    # most 3-grams (Jaccard collapses below the LSH catch curve), which is
    # exactly how short `combo` duplicates were lost in tuning runs
    text_short_tokens: int = 12

    # --- S4/S5 MinHash / SimHash / LSH ---------------------------------------
    minhash_k: int = 128      # permutations (64-bit multiply-shift)
    lsh_bands: int = 32       # bands per channel (audio bands 0..31, text 32..63)
    lsh_rows: int = 4         # rows (signature slots) per band
    # sentinel signature value for empty shingle sets
    empty_sentinel: int = 0xFFFFFFFFFFFFFFFF

    # --- S6 candidate join / skew handling -----------------------------------
    # buckets larger than this are cut into one row per sub-bucket and
    # spread over all cores before their pairs are enumerated; buckets up
    # to this size enumerate their pairs where they were aggregated
    bucket_soft: int = 32
    # skew split: buckets larger than this are partitioned into sub-buckets
    # of <= bucket_cap members (deterministic clip_id order); pairs are
    # enumerated within each sub-bucket plus a representative chain (first
    # member of sub-bucket 0 paired with the first member of every other
    # sub-bucket), so pair count grows LINEARLY in bucket size instead of
    # quadratically while the duplicate component stays connected
    bucket_cap: int = 256

    # SimHash corroboration gate: a candidate pair only reaches the expensive
    # suffix-array verify on a channel if it collided in that channel's LSH
    # bands with real (non-sentinel) signatures, or its channel SimHash
    # Hamming distance is within this many bits. This is what keeps the
    # designed near-silence skew bucket from flooding the verify stage.
    simhash_gate_bits: int = 12

    # --- S7 suffix-array span verification ------------------------------------
    verify_min_audio_ms: int = 200   # min common audio span (milliseconds)
    verify_min_events: int = 6       # min common event run (tokens)
    verify_min_chars: int = 12       # min common transcript substring (chars)
    # carrier consistency over the matched run (median |Δ log2 ZCR|).
    # Measured on the correctness tier: true perturbation pairs sit at 0.0
    # (p95), chance envelope coincidences at >= 0.018 (p5) — 0.015 separates.
    verify_zcr_log2_tol: float = 0.015


#: the frozen default used by oracle, engine, tests and bench alike
DEFAULT = PipelineConfig()
