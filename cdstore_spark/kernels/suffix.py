"""Longest-common-run verification kernels (stage S7).

The north rule's "suffix-array substring pass confirms exact duplicate
spans". The hot path is `longest_common_run`: a binary search on the run
length over O(1) shift-invariant polynomial span hashes (`lcs_prefix`
computes a content's prefix hashes once; verify's fused kernel caches them
per distinct content). It runs per candidate pair inside the verify
stage's mapInPandas. For the audio channel tokens are event symbols and
the run is converted back to milliseconds via the events' true durations;
for the transcript channel tokens are codepoints and the run is characters.

`longest_common_run_sa` is the textbook construction — suffix array by
prefix doubling plus a hashed LCP array over
    tokens_a ++ [SEP] ++ tokens_b
taking the max LCP between suffixes from different halves — kept as the
cross-check reference the tests compare the hot path against.
"""

from __future__ import annotations

import numpy as np


def suffix_array(tokens: np.ndarray) -> np.ndarray:
    """Suffix array via prefix doubling; tokens: 1-D integer array."""
    n = tokens.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    # initial ranks from token values
    order = np.argsort(tokens, kind="stable")
    ranks = np.empty(n, dtype=np.int64)
    sorted_t = tokens[order]
    ranks[order] = np.concatenate(([0], np.cumsum(sorted_t[1:] != sorted_t[:-1])))
    k = 1
    idx = np.arange(n)
    padded = np.empty(n + 1, dtype=np.int64)
    padded[n] = -1
    while k < n:
        padded[:n] = ranks
        key2 = padded[np.minimum(idx + k, n)]
        order = np.lexsort((key2, ranks))
        r1, r2 = ranks[order], key2[order]
        new = np.empty(n, dtype=np.int64)
        changed = np.concatenate(([0], ((r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])).astype(np.int64)))
        new[order] = np.cumsum(changed)
        ranks = new
        if ranks[order[-1]] == n - 1:
            break
        k <<= 1
    return order


def lcp_array_hashed(tokens: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """LCP of adjacent suffix-array entries via vectorized binary search on
    O(1) polynomial span hashes — no per-token Python.

    Produces the same values as Kasai with overwhelming probability (64-bit
    span hashes; a collision could only overstate one lcp entry). All
    comparisons run simultaneously across the n-1 adjacent pairs: log2(n)
    rounds of whole-array hash compares.
    """
    from . import hashing as H

    n = tokens.shape[0]
    lcp = np.zeros(n, dtype=np.int64)
    if n < 2:
        return lcp
    mixed = H.mix64(tokens.astype(np.uint64))
    prefix = H.poly_prefix(mixed)
    inv = H.poly_inv_powers(n + 1)

    i_pos = sa[:-1].astype(np.int64)     # suffix starts (previous in SA)
    j_pos = sa[1:].astype(np.int64)      # suffix starts (current in SA)
    max_l = n - np.maximum(i_pos, j_pos)  # upper bound per pair
    lo = np.zeros(i_pos.shape[0], dtype=np.int64)
    hi = max_l.copy()
    # invariant: LCP in [lo, hi]; binary search all pairs at once.
    # equality test uses the RAW shift-invariant span value
    # (prefix[e]-prefix[s])*inv[s] — equal spans ⇔ equal raw values, no
    # finalizer mixing needed in a pure equality test
    while True:
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi + 1) >> 1
        ia = i_pos + np.where(active, mid, 0)
        ib = j_pos + np.where(active, mid, 0)
        ha = (prefix[ia] - prefix[i_pos]) * inv[i_pos]
        hb = (prefix[ib] - prefix[j_pos]) * inv[j_pos]
        eq = (ha == hb) & active
        lo = np.where(eq, mid, lo)
        hi = np.where(active & ~eq, mid - 1, hi)
    lcp[1:] = lo
    return lcp


def longest_common_run_sa(a: np.ndarray, b: np.ndarray
                          ) -> tuple[int, int, int]:
    """Longest common substring via suffix array + LCP over the separated
    concatenation — the textbook construction. Kept as the cross-check
    reference for longest_common_run (tests assert equal lengths); the
    hot path uses the hashed binary search below, which does the same job
    in ~6 vector ops per round instead of a prefix-doubling sort cascade.

    Returns (length, start_in_a, start_in_b); (0, -1, -1) when none.
    """
    na, nb = a.shape[0], b.shape[0]
    if na == 0 or nb == 0:
        return 0, -1, -1
    lo = min(int(a.min()), int(b.min()))
    sep = lo - 1
    s = np.concatenate((a.astype(np.int64), [sep], b.astype(np.int64)))
    sa = suffix_array(s)
    lcp = lcp_array_hashed(s, sa)
    side = sa < na                       # True = suffix starts in a
    cross = side[1:] != side[:-1]        # adjacent suffixes from different halves
    if not cross.any():
        return 0, -1, -1
    cand = np.flatnonzero(cross) + 1     # lcp index
    best_i = cand[np.argmax(lcp[cand])]
    length = int(lcp[best_i])
    if length <= 0:
        return 0, -1, -1
    p1, p2 = int(sa[best_i - 1]), int(sa[best_i])
    pa, pb = (p1, p2) if p1 < na else (p2, p1)
    return length, pa, pb - na - 1


def lcs_prefix(tokens: np.ndarray) -> np.ndarray:
    """Polynomial prefix-hash array of a token sequence — the per-content
    preprocessing of longest_common_run, exposed so engines that verify
    many pairs per content can compute it once per DISTINCT content and
    pass it back in (bit-identical results either way)."""
    from . import hashing as H
    return H.poly_prefix(H.mix64(tokens.astype(np.uint64)))


def longest_common_run(a: np.ndarray, b: np.ndarray,
                       min_len: int = 1,
                       pref_a: np.ndarray | None = None,
                       pref_b: np.ndarray | None = None
                       ) -> tuple[int, int, int]:
    """Longest common substring of two integer token sequences, via binary
    search on the run length with O(1) shift-invariant span hashes: a
    common run of length L exists iff some length-L window hash of `a`
    appears among `b`'s length-L window hashes, and existence is monotone
    in L. Each probe is a handful of whole-array NumPy ops (two hash
    slices, one sort, one searchsorted) — ~4x cheaper than the suffix-
    array construction on the few-hundred-token sequences the verify
    stage feeds it, which matters at 743k candidate pairs per 100k clips.

    Two monotonicity-exploiting shortcut probes bracket the search (the
    result is path-independent — the search converges to the same maximum
    either way, and the start positions are reconstructed from it — so
    these change probe COUNT, never the returned triple):

      * containment probe at hi = min(na, nb) FIRST: near-dup corpora are
        full-containment-heavy (truncation/pad/re-encode duplicates keep
        one stream a contiguous run of the other), and a hit there
        finishes in one probe instead of ~log2(n);
      * `min_len` floor: callers that reject any run < min_len anyway
        (the audio channel collapses sub-threshold runs to span 0) pass
        it so a single miss at min_len proves rejection — returns
        (0, -1, -1) without resolving the exact sub-threshold length.

    Equal span hashes stand in for equal content (64-bit polynomial —
    same collision model lcp_array_hashed already accepts). Returns
    (length, start_in_a, start_in_b) with the FIRST qualifying start in
    `a` (and the first match of that window in `b`); (0, -1, -1) when no
    common run of >= max(min_len, 1) tokens exists.
    """
    from . import hashing as H

    na, nb = a.shape[0], b.shape[0]
    if na == 0 or nb == 0:
        return 0, -1, -1
    if pref_a is None:
        pref_a = lcs_prefix(a)
    if pref_b is None:
        pref_b = lcs_prefix(b)
    inv = H.poly_inv_powers(max(na, nb) + 1)

    def win(prefix: np.ndarray, m: int, length: int) -> np.ndarray:
        k = m - length + 1
        return (prefix[length:length + k] - prefix[:k]) * inv[:k]

    def match_mask(length: int) -> np.ndarray:
        # sort the shorter window set, probe with the longer — the sort is
        # the expensive piece of each probe
        wa = win(pref_a, na, length)
        wb = win(pref_b, nb, length)
        if wb.shape[0] <= wa.shape[0]:
            probe, table = wa, np.sort(wb)
        else:
            probe, table = wb, np.sort(wa)
        pos = np.searchsorted(table, probe)
        hit = (pos < table.shape[0]) \
            & (table[np.minimum(pos, table.shape[0] - 1)] == probe)
        return hit

    lo, hi = 0, min(na, nb)
    if match_mask(hi).any():            # containment: run == shorter length
        lo = hi
    else:
        hi -= 1
        floor = min(max(int(min_len), 1), hi)
        if floor > 1:
            if match_mask(floor).any():
                lo = floor
            else:
                return 0, -1, -1
    while lo < hi:
        mid = (lo + hi + 1) >> 1
        if match_mask(mid).any():
            lo = mid
        else:
            hi = mid - 1
    if lo == 0 or lo < min_len:
        return 0, -1, -1
    wa = win(pref_a, na, lo)
    wb = win(pref_b, nb, lo)
    table = np.sort(wb)
    pos = np.searchsorted(table, wa)
    hita = (pos < table.shape[0]) \
        & (table[np.minimum(pos, table.shape[0] - 1)] == wa)
    pa = int(np.flatnonzero(hita)[0])
    pb = int(np.flatnonzero(wb == wa[pa])[0])
    return int(lo), pa, pb
