"""64-bit hashing primitives, fully vectorized over uint64 NumPy arrays.

All arithmetic is modulo 2**64 (NumPy unsigned wraparound is well-defined).
Every constant is materialized as np.uint64 up front — mixing Python ints
with uint64 arrays silently promotes to float64 and corrupts hashes.

Plays the role of CDStore's SHA-256 share fingerprints / Rabin rolling hash
(SURVEY.md §2.A ops 3–4): deterministic content-derived keys for
equality-based dedup, re-based on fast 64-bit mixing because the graft needs
similarity sketches, not cryptographic integrity.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_MIX1 = U64(0x9E3779B97F4A7C15)
_MIX2 = U64(0xBF58476D1CE4E5B9)
_MIX3 = U64(0x94D049BB133111EB)
_S30, _S27, _S31 = U64(30), U64(27), U64(31)

# polynomial rolling-hash multiplier (odd → invertible mod 2**64)
POLY_P = U64(0x9E3779B97F4A7C15) | U64(1)
POLY_PINV = U64(pow(int(POLY_P), -1, 1 << 64))


def mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — avalanche mix of a uint64 array."""
    z = np.asarray(z, dtype=U64)
    z = (z + _MIX1) ^ (z >> _S30)
    z = z * _MIX2
    z = (z ^ (z >> _S27)) * _MIX3
    return z ^ (z >> _S31)


def mix2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Combine two uint64 arrays into one hash."""
    return mix64(np.asarray(a, U64) ^ (mix64(b) + _MIX1))


def poly_prefix(x: np.ndarray) -> np.ndarray:
    """Prefix sums S[i] = sum_{j<i} x[j] * P**j  (mod 2**64), length n+1.

    Enables O(1) shift-invariant content hashes of any span [s, e):
        span_hash(s, e) = (S[e] - S[s]) * PINV**s
    which equals sum_k x[s+k] * P**k — a function of the span *content only*
    (the PINV**s factor cancels the positional offset).
    """
    x = np.asarray(x, dtype=U64)
    n = x.shape[0]
    out = np.zeros(n + 1, dtype=U64)
    if n:
        np.cumsum(x * _grow_powers(POLY_P, "_P_POWS", n), out=out[1:])
    return out


#: power-ladder caches — the P**i / PINV**i arrays are deterministic and
#: requested once per kernel CALL (verify runs 10^5..10^6 calls per task),
#: so each cache grows monotonically and callers get read-only views.
#: Values are independent of the requested length (multiply.accumulate
#: prefix), so growth is bit-invisible to existing callers.
_P_POWS = np.ones(1, dtype=U64)
_PINV_POWS = np.ones(1, dtype=U64)


def _grow_powers(base: np.uint64, name: str, n: int) -> np.ndarray:
    cache = globals()[name]
    if cache.shape[0] < n:
        m = max(n, 2 * cache.shape[0], 1024)
        tmp = np.full(m, base, dtype=U64)
        tmp[0] = U64(1)
        cache = np.multiply.accumulate(tmp)
        globals()[name] = cache
    return cache[:n]


def poly_inv_powers(n: int) -> np.ndarray:
    """[PINV**0, PINV**1, ..., PINV**(n-1)] as uint64 (cached ladder)."""
    return _grow_powers(POLY_PINV, "_PINV_POWS", max(n, 1))[:n]


def span_hashes(prefix: np.ndarray, inv_pows: np.ndarray,
                starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Shift-invariant content hashes of spans [starts[i], ends[i])."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    raw = (prefix[ends] - prefix[starts]) * inv_pows[starts]
    return mix2(raw, (ends - starts).astype(U64))


def window_hashes(x: np.ndarray, w: int) -> np.ndarray:
    """Shift-invariant rolling hash of every length-w window; len(x)-w+1 values."""
    x = np.asarray(x, dtype=U64)
    n = x.shape[0]
    if n < w:
        return np.empty(0, dtype=U64)
    prefix = poly_prefix(x)
    starts = np.arange(n - w + 1, dtype=np.int64)
    inv = poly_inv_powers(n - w + 2)
    return (prefix[starts + w] - prefix[starts]) * inv[starts]
