"""Row-DP Levenshtein and tensor Jaro-Winkler: the parity baselines for
the bit-parallel kernels in :mod:`gpu_entity_resolver_spark.functions.simfns`
(pinned by tests/test_levenshtein.py and tests/test_simfns.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gpu_entity_resolver_spark.functions.simfns import _encode_padded


def levenshtein_batch_dp(
    a: pd.Series,
    b: pd.Series,
    max_chars: int = 144,
    chunk_rows: int = 4096,
) -> np.ndarray:
    """Row-DP formulation (the r6 first cut, kept as the A/B + equivalence
    baseline for the Myers kernel): per DP row, the substitute/delete
    candidates are two vector ops and the insert-chain recurrence
    ``cur[j] = min(t[j], cur[j-1]+1)`` has the closed form
    ``cur[j] = j + min_{k<=j}(c[k]-k)`` — one ``np.minimum.accumulate``;
    (chunk, L+1) int16 temporaries stay in cache."""
    n = len(a)
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, chunk_rows):
        hi = min(lo + chunk_rows, n)
        out[lo:hi] = _lev_chunk(a.iloc[lo:hi], b.iloc[lo:hi], max_chars)
    return out


def _lev_chunk(a: pd.Series, b: pd.Series, max_chars: int) -> np.ndarray:
    A, la = _encode_padded(a, max_chars)
    B, lb = _encode_padded(b, max_chars)
    n = len(la)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    la_max = int(la.max())
    lb_max = int(lb.max())
    j_range = np.arange(lb_max + 1, dtype=np.int16)[None, :]
    prev = np.broadcast_to(j_range, (n, lb_max + 1)).astype(np.int16)
    result = np.empty(n, dtype=np.int64)
    result[la == 0] = lb[la == 0]
    Bv = B[:, :lb_max]
    c = np.empty((n, lb_max + 1), dtype=np.int16)
    for i in range(1, la_max + 1):
        ai = A[:, i - 1][:, None]
        # c[j] = cell value before the insert chain: boundary at j=0,
        # min(substitute, delete) at j>=1
        c[:, 0] = i
        np.minimum(
            prev[:, :-1] + (ai != Bv),
            prev[:, 1:] + np.int16(1),
            out=c[:, 1:],
        )
        cur = np.minimum.accumulate(c - j_range, axis=1)
        cur += j_range
        prev = cur
        fin = la == i
        if fin.any():
            result[fin] = cur[fin, lb[fin]]
    return result


def jaro_winkler_ref(
    a: pd.Series,
    b: pd.Series,
    max_chars: int = 64,
    prefix_weight: float = 0.1,
    chunk_rows: int | None = None,
) -> np.ndarray:
    """The r5 (rows, L, L) tensor formulation — kept as the A/B and
    equivalence baseline for the bit-parallel kernel above
    (tests/test_simfns.py pins new == ref on randomized + edge shapes).

    ``chunk_rows`` defaults to ~4 MB of per-array working set
    (chunk x max_chars^2 booleans): the tensor build is pure memory
    traffic, and oversized chunks thrash the cache."""
    if chunk_rows is None:
        chunk_rows = max(128, min(2048, (1 << 22) // (max_chars * max_chars)))
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    for lo in range(0, n, chunk_rows):
        hi = min(lo + chunk_rows, n)
        out[lo:hi] = _jw_chunk_ref(
            a.iloc[lo:hi], b.iloc[lo:hi], max_chars, prefix_weight
        )
    return out


def _jw_chunk_ref(
    a: pd.Series, b: pd.Series, max_chars: int, prefix_weight: float
) -> np.ndarray:
    A, la = _encode_padded(a, max_chars)
    B, lb = _encode_padded(b, max_chars)
    n, L = A.shape
    if n == 0:
        return np.zeros(0)

    # Match window per pair: floor(max(la,lb)/2) - 1, min 0.
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)

    # eq[r, i, j] = A[r,i] == B[r,j], inside window, both positions valid.
    eq = A[:, :, None] == B[:, None, :]
    i_idx = np.arange(L)
    dist_ok = np.abs(i_idx[:, None] - i_idx[None, :])[None, :, :] <= win[:, None, None]
    valid = (i_idx[None, :, None] < la[:, None, None]) & (
        i_idx[None, None, :] < lb[:, None, None]
    )
    cand = eq & dist_ok & valid & (A[:, :, None] != 0)

    # Greedy left-to-right matching: loop over i (<= max_chars iterations),
    # vectorized across rows. Record matched b-index per a-position.
    used_b = np.zeros((n, L), dtype=bool)
    match_b = np.full((n, L), -1, dtype=np.int64)
    for i in range(L):
        avail = cand[:, i, :] & ~used_b
        has = avail.any(axis=1)
        j = np.where(has, avail.argmax(axis=1), -1)
        rows = np.nonzero(has)[0]
        used_b[rows, j[rows]] = True
        match_b[rows, i] = j[rows]

    m = (match_b >= 0).sum(axis=1).astype(np.float64)

    # Transpositions: compare matched a-chars (in a order) against matched
    # b-chars (in b order). Extract both sequences with stable ordering.
    matched_mask_a = match_b >= 0
    # a-side matched chars in a order:
    order = np.argsort(~matched_mask_a, axis=1, kind="stable")
    a_seq = np.take_along_axis(A, order, axis=1)
    # b-side matched chars in b index order:
    b_order = np.argsort(~used_b, axis=1, kind="stable")
    b_seq = np.take_along_axis(B, b_order, axis=1)
    k = matched_mask_a.sum(axis=1)
    pos = np.arange(L)[None, :]
    in_match = pos < k[:, None]
    # Integer-halved transposition count — the classic-implementation
    # convention the DuckDB oracle follows (mismatches // 2, not / 2).
    trans = (((a_seq != b_seq) & in_match).sum(axis=1) // 2).astype(np.float64)

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - trans) / np.where(m == 0, 1, m)) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)

    # Winkler prefix boost (common prefix up to 4 chars).
    pref_eq = (A[:, :4] == B[:, :4]) & (A[:, :4] != 0)
    # prefix length = position of first False
    pref_len = np.where(
        pref_eq.all(axis=1), np.minimum(4, np.minimum(la, lb)), pref_eq.argmin(axis=1)
    ).astype(np.float64)
    # Classic Winkler boost threshold: only boost when jaro > 0.7
    # (the DuckDB oracle follows this convention too).
    jw = np.where(
        jaro > 0.7, jaro + pref_len * prefix_weight * (1.0 - jaro), jaro
    )

    # Empty-string convention follows the DuckDB oracle: any empty side
    # (including both empty) scores 0.0 — empties must never fuzzy-match.
    return np.where((la == 0) | (lb == 0), 0.0, jw)
