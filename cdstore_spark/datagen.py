"""Deterministic synthetic `audio_clips` generator (FIXTURES.md §1–2).

No external data anywhere (north rule): every byte is synthesized from
NumPy's seeded Philox/PCG streams. Generation is two-phase: a metadata
spec, then the rows it describes, realized batch by batch:

    build_spec(n, n_pairs)  → tiny metadata DataFrame (one row per clip:
                              wave seed, transforms, transcript, codec, ...)
    synth_batch(spec_rows)  → realized rows in the driver-contract schema
                              (clip_id, bytes, sr_hz, dur_ms, codec, transcript)

Planted-duplicate taxonomy (FIXTURES.md §2, extended): each pair derives
clip B from base A. Audio-perturbation kinds keep semantics dup; the added
`audio_only` kind (same audio, unrelated transcript) forces the audio
channel to carry detection on its own, and `combo` stacks trim+noise+edit.
`hard_negative` pairs must NOT be detected (precision guard). ~10% of
planted groups are chains A→B→C to exercise union-find transitivity.

Two skew blocks exercise the explicit skew-handling path:
  * 3% near-silence clips — empty shingle sets, excluded from candidate
    generation entirely (a real engine must not enumerate pairs of
    contentless rows);
  * 2% "template" clips — near-copies (40 dB noise, tiny trim, <=1 token
    edit) of ONE base clip, the jingle-repeated-millions-of-times shape of
    real corpora: they collide in every LSH band, stressing the sub-bucket
    split + representative chain, and must come out as ONE cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .kernels import codec as K_codec

MASTER_SEED = 42
SR_CHOICES = np.array([8000, 16000, 22050, 44100])
SR_PROBS = np.array([0.25, 0.35, 0.20, 0.20])
CODEC_CHOICES = np.array(["pcm_s16le", "ulaw", "alaw"])
CODEC_PROBS = np.array([0.70, 0.15, 0.15])
NOISE_FLOOR = 0.007           # -40 dBFS vs the 0.7 peak normalization
PEAK = 0.7

DUP_KINDS = ["exact", "reencode", "trim", "pad", "noise", "gain",
             "text_edit", "audio_only", "combo"]
KIND_WEIGHTS = {
    "exact": 0.11, "reencode": 0.12, "trim": 0.12, "pad": 0.12,
    "noise": 0.12, "gain": 0.12, "text_edit": 0.10, "audio_only": 0.08,
    "combo": 0.06, "hard_negative": 0.05,
}

SPEC_COLUMNS = [
    "clip_id", "kind", "codec", "sr_hz", "base_dur_ms", "wave_seed",
    "is_silence", "shared_freq", "trim_head", "trim_tail", "pad_head",
    "pad_tail", "noise_snr_db", "gain", "transcript", "pair_base",
]


def _make_vocab(size: int = 512) -> list[str]:
    rng = np.random.default_rng((MASTER_SEED, 7001))
    cons = list("bdfgklmnprstvz")
    vow = list("aeiou")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        ns = rng.integers(2, 4)
        w = "".join(rng.choice(cons) + rng.choice(vow) for _ in range(ns))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _make_vocab()
_VOCAB_P = (1.0 / np.arange(1, len(VOCAB) + 1) ** 0.7)
_VOCAB_P /= _VOCAB_P.sum()          # Zipf-ish so shared n-grams look natural


def _transcript(rng: np.random.Generator) -> str:
    n = int(rng.integers(5, 61))
    return " ".join(rng.choice(VOCAB, size=n, p=_VOCAB_P))


def _edit_transcript(text: str, rng: np.random.Generator, n_edits: int) -> str:
    toks = text.split()
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(toks)))
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            toks[pos] = word
        elif op == 1:
            toks.insert(pos, word)
        elif len(toks) > 3:
            toks.pop(pos)
    return " ".join(toks)


def synth_wave(wave_seed: int, sr_hz: int, dur_ms: int,
               shared_freq: float = 0.0, is_silence: bool = False) -> np.ndarray:
    """Base waveform: 1–4 sine partials + noise floor, peak-normalized."""
    rng = np.random.default_rng((MASTER_SEED, 9001, int(wave_seed)))
    n = sr_hz * dur_ms // 1000
    t = np.arange(n, dtype=np.float64) / sr_hz
    if is_silence:
        return (rng.normal(0.0, NOISE_FLOOR, n)).astype(np.float32)
    m = int(rng.integers(1, 5))
    freqs = rng.uniform(80.0, 4000.0, m)
    if shared_freq > 0.0:
        freqs[0] = shared_freq
    amps = rng.uniform(0.25, 1.0, m)
    phases = rng.uniform(0.0, 2 * np.pi, m)
    # slow amplitude modulation per partial → informative envelope structure
    mod_f = rng.uniform(0.5, 8.0, m)
    mod_d = rng.uniform(0.2, 0.9, m)
    x = np.zeros(n, dtype=np.float64)
    for j in range(m):
        env = 1.0 + mod_d[j] * np.sin(2 * np.pi * mod_f[j] * t + phases[j] * 1.7)
        x += amps[j] * env * np.sin(2 * np.pi * freqs[j] * t + phases[j])
    peak = np.max(np.abs(x))
    if peak > 0:
        x *= PEAK / peak
    x += rng.normal(0.0, NOISE_FLOOR, n)
    return x.astype(np.float32)


def build_spec(n_clips: int, n_pairs: int, seed: int = MASTER_SEED) -> pd.DataFrame:
    """Clip specs: pure metadata, cheap enough for the driver at any scale."""
    rng = np.random.default_rng((seed, 1001))
    rows: list[dict] = []
    kinds = list(KIND_WEIGHTS)
    kind_p = np.array([KIND_WEIGHTS[k] for k in kinds])
    kind_p /= kind_p.sum()

    def base_row(i: int, is_silence: bool = False) -> dict:
        r = np.random.default_rng((seed, 2001, i))
        return {
            "clip_id": f"clip_{i:08d}", "kind": "silence" if is_silence else "base",
            "codec": str(r.choice(CODEC_CHOICES, p=CODEC_PROBS)),
            "sr_hz": int(SR_CHOICES[r.choice(len(SR_CHOICES), p=SR_PROBS)]),
            "base_dur_ms": int(r.integers(200, 3001)), "wave_seed": i,
            "is_silence": bool(is_silence), "shared_freq": 0.0,
            "trim_head": 0.0, "trim_tail": 0.0, "pad_head": 0.0, "pad_tail": 0.0,
            "noise_snr_db": float("inf"), "gain": 1.0,
            "transcript": _transcript(r), "pair_base": "",
        }

    def derive(i: int, base: dict, kind: str) -> dict:
        r = np.random.default_rng((seed, 3001, i))
        row = dict(base)
        row.update(clip_id=f"clip_{i:08d}", kind=kind, pair_base=base["clip_id"])
        if kind == "reencode":
            others = [c for c in CODEC_CHOICES if c != base["codec"]]
            row["codec"] = str(others[int(r.integers(0, len(others)))])
        elif kind == "trim":
            row["trim_head"] = float(r.uniform(0.0, 0.05))
            row["trim_tail"] = float(r.uniform(0.0, 0.05))
        elif kind == "pad":
            row["pad_head"] = float(r.uniform(0.0, 0.05))
            row["pad_tail"] = float(r.uniform(0.0, 0.05))
        elif kind == "noise":
            row["noise_snr_db"] = 35.0
        elif kind == "gain":
            row["gain"] = float(r.uniform(0.8, 1.25))
        elif kind == "text_edit":
            row["transcript"] = _edit_transcript(base["transcript"], r, int(r.integers(1, 3)))
        elif kind == "audio_only":
            row["transcript"] = _transcript(r)
        elif kind == "combo":
            row["trim_head"] = float(r.uniform(0.0, 0.04))
            row["noise_snr_db"] = 38.0
            row["transcript"] = _edit_transcript(base["transcript"], r, 1)
        elif kind == "hard_negative":
            hn = base_row(i)
            hn.update(kind="hard_negative", pair_base=base["clip_id"],
                      sr_hz=base["sr_hz"], base_dur_ms=base["base_dur_ms"],
                      shared_freq=float(r.uniform(80.0, 4000.0)))
            return hn
        return row

    n_silence = max(0, int(round(0.03 * n_clips)))
    n_template = max(0, int(round(0.02 * n_clips)))
    n_reserved = n_silence + n_template
    i = 0
    # planted groups
    for _ in range(n_pairs):
        if i + 2 > n_clips - n_reserved:
            break
        b = base_row(i); i += 1
        kind = kinds[int(rng.choice(len(kinds), p=kind_p))]
        d = derive(i, b, kind); i += 1
        rows += [b, d]
        # ~10% chains: C derived from B (only for dup kinds)
        if kind in DUP_KINDS and rng.random() < 0.10 and i < n_clips - n_reserved:
            kind2 = DUP_KINDS[int(rng.integers(0, len(DUP_KINDS)))]
            rows.append(derive(i, d, kind2)); i += 1
    # silence skew block (empty shingle sets — no candidates by design)
    for _ in range(n_silence):
        if i >= n_clips:
            break
        rows.append(base_row(i, is_silence=True)); i += 1
    # template skew block: near-copies of one base → one hot LSH bucket
    tmpl_rng = np.random.default_rng((seed, 8001))
    tmpl_transcript = _transcript(tmpl_rng)
    prev_tmpl = None
    for _ in range(n_template):
        if i >= n_clips:
            break
        r = np.random.default_rng((seed, 8002, i))
        row = base_row(i)
        row.update(kind="template", wave_seed=999_999_999, sr_hz=16000,
                   base_dur_ms=1500, noise_snr_db=40.0,
                   trim_head=float(r.uniform(0.0, 0.01)),
                   transcript=_edit_transcript(tmpl_transcript, r,
                                               int(r.integers(0, 2))),
                   pair_base=prev_tmpl or "")
        rows.append(row)
        prev_tmpl = row["clip_id"]
        i += 1
    # unrelated singletons
    while i < n_clips:
        rows.append(base_row(i)); i += 1

    spec = pd.DataFrame(rows, columns=SPEC_COLUMNS)
    # stable pseudo-random row order (so planted pairs are not adjacent)
    order = np.random.default_rng((seed, 4001)).permutation(len(spec))
    return spec.iloc[order].reset_index(drop=True)


def synth_row(row) -> tuple[bytes, int]:
    """Realize one spec row → (wire bytes, final dur_ms)."""
    x = synth_wave(int(row.wave_seed), int(row.sr_hz), int(row.base_dur_ms),
                   float(row.shared_freq), bool(row.is_silence))
    sr = int(row.sr_hz)
    r = np.random.default_rng((MASTER_SEED, 5001, int(row.wave_seed), len(x)))
    n = len(x)
    th, tt = int(row.trim_head * n), int(row.trim_tail * n)
    if th or tt:
        x = x[th: n - tt if tt else n]
    ph, pt = int(row.pad_head * n), int(row.pad_tail * n)
    if ph or pt:
        x = np.concatenate([
            r.normal(0.0, NOISE_FLOOR, ph).astype(np.float32), x,
            r.normal(0.0, NOISE_FLOOR, pt).astype(np.float32)])
    if np.isfinite(row.noise_snr_db):
        rms = float(np.sqrt(np.mean(x.astype(np.float64) ** 2))) or 1e-6
        sigma = rms / (10.0 ** (float(row.noise_snr_db) / 20.0))
        x = x + r.normal(0.0, sigma, len(x)).astype(np.float32)
    if row.gain != 1.0:
        x = np.clip(x * float(row.gain), -0.999, 0.999)
    dur_ms = len(x) * 1000 // sr
    return K_codec.encode(x, str(row.codec)), int(dur_ms)


def synth_batch(spec: pd.DataFrame) -> pd.DataFrame:
    """Spec rows → driver-contract rows. Row loop is datagen-only (not the
    graded hot path) and runs distributed inside mapInPandas for big tiers."""
    payloads, durs = [], []
    for row in spec.itertuples(index=False):
        b, d = synth_row(row)
        payloads.append(b)
        durs.append(d)
    return pd.DataFrame({
        "clip_id": spec["clip_id"].astype(str),
        "bytes": payloads,
        "sr_hz": spec["sr_hz"].astype(np.int32),
        "dur_ms": np.asarray(durs, dtype=np.int32),
        "codec": spec["codec"].astype(str),
        "transcript": spec["transcript"].astype(str),
    })


def planted_pairs(spec: pd.DataFrame) -> pd.DataFrame:
    """Ground-truth planted pairs with kind; includes transitive chain pairs.

    `expected_dup` False for hard negatives. Canonical a < b ordering.
    """
    derived = spec[spec["pair_base"] != ""][["clip_id", "pair_base", "kind"]]
    recs = []
    base_of = dict(zip(derived["clip_id"], derived["pair_base"]))
    kind_of = dict(zip(derived["clip_id"], derived["kind"]))
    for cid, base in base_of.items():
        kind = kind_of[cid]
        a, b = sorted((cid, base))
        recs.append((a, b, kind, kind != "hard_negative"))
        # chain closure: if base itself is derived, add the transitive pair
        root = base_of.get(base)
        if root is not None and kind != "hard_negative" and kind_of.get(base) != "hard_negative":
            a2, b2 = sorted((cid, root))
            recs.append((a2, b2, "chain", True))
    return pd.DataFrame(recs, columns=["a", "b", "kind", "expected_dup"]) \
             .drop_duplicates(["a", "b"]).reset_index(drop=True)


def generate_local(n_clips: int, n_pairs: int, seed: int = MASTER_SEED
                   ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(audio_clips, planted_pairs) pandas frames — for oracle/tests."""
    spec = build_spec(n_clips, n_pairs, seed)
    return synth_batch(spec), planted_pairs(spec)
