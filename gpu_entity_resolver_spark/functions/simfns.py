"""Vectorized string-similarity kernels for Arrow-batched pandas UDFs.

The reference gets Jaro-Winkler-style fuzzy semantics through GPU TF-IDF
cosine + kNN (reference utils.py:211-232, 313-359); the north rule requires
explicit vectorized Jaro-Winkler/Levenshtein over pandas/Arrow batches with
no per-row Python. No similarity library ships in this environment, so both
kernels are implemented batch-vectorized in numpy: the only Python loop is
over character positions (bounded by ``max_chars``), never over rows.

``levenshtein_batch`` replaces the engine's use of Spark's built-in JVM
``levenshtein()`` in the pair scorer: the builtin runs the full O(L²)
dynamic program row-at-a-time per pair, while the batch kernel runs
Myers' bit-parallel edit distance vectorized ACROSS pairs (see its
docstring for the measured per-pair cost). ``levenshtein_batch_dp``
(tests/baselines/simfns_ref.py) is the row-DP form it superseded, kept as
a parity baseline. Distances are exactly the classic unit-cost DP over
code points — equal to Spark's builtin (pinned by
tests/test_levenshtein.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _encode_padded(s: pd.Series, max_chars: int) -> tuple[np.ndarray, np.ndarray]:
    """Encode a string Series into an (N, max_chars) int32 codepoint matrix
    (0-padded) plus a length vector. Vectorized via one concatenated buffer."""
    vals = s.fillna("").astype(str).str.slice(0, max_chars)
    lengths = vals.str.len().to_numpy(dtype=np.int64)
    n = len(vals)
    out = np.zeros((n, max_chars), dtype=np.int32)
    if n == 0:
        return out, lengths
    joined = "".join(vals.tolist())
    if joined:
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int32)
        ends = np.cumsum(lengths)
        starts = ends - lengths
        # scatter each row's slice; loop over rows avoided with fancy indexing
        row_idx = np.repeat(np.arange(n), lengths)
        col_idx = np.arange(len(codes)) - np.repeat(starts, lengths)
        out[row_idx, col_idx] = codes
    return out, lengths


def levenshtein_batch(
    a: pd.Series,
    b: pd.Series,
    max_chars: int = 144,
    chunk_rows: int = 2048,
) -> np.ndarray:
    """Exact classic Levenshtein distance of two aligned string Series,
    vectorized across rows (int64 result per pair).

    Strings longer than ``max_chars`` code points are truncated — callers
    must pass a bound >= their longest input for parity with the JVM
    builtin (the scorer's content sketches are <= 3*sketch_chars by
    construction).

    Kernel: Myers' bit-parallel edit distance (Myers 1999 / Hyyrö 2003)
    vectorized ACROSS pairs with ceil(max_chars/64) uint64 words per pair
    and explicit multi-word carry propagation; the per-text-char Eq masks
    are built on the fly from one vectorized compare + ``np.packbits``
    (no per-pair alphabet tables, whose scatter build would dominate).
    Pattern pad positions are set to -1 so a NUL text char can never
    alias padding. Measured ~37 core-µs/pair at L=144 vs ~110 for the
    row-DP below and ~530 for Spark's builtin; distances are identical
    (tests/test_levenshtein.py pins all three against each other)."""
    n = len(a)
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, chunk_rows):
        hi = min(lo + chunk_rows, n)
        out[lo:hi] = _lev_chunk_myers(a.iloc[lo:hi], b.iloc[lo:hi], max_chars)
    return out


def _lev_chunk_myers(a: pd.Series, b: pd.Series, max_chars: int) -> np.ndarray:
    A, la = _encode_padded(a, max_chars)
    B, lb = _encode_padded(b, max_chars)
    n = len(la)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    # Text-length-desc order (r6b): at text position j only rows with
    # lb > j still evolve their score — rows beyond that are frozen (the
    # old `upd` mask), so excluding them from the whole iteration is
    # exact. Sorted rows make the active set a sliceable prefix.
    order = np.argsort(-lb, kind="stable")
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    A, la, B, lb = A[order], la[order], B[order], lb[order]
    W = (max_chars + 63) // 64
    L = W * 64
    # Narrowest dtype holding every code PLUS the -1 pad sentinel: int8 for
    # ASCII (the overwhelming case after normalization — 4x less compare
    # traffic than int32), int16 for BMP, int32 otherwise. The pad stays -1
    # so no text char — including NUL, whose code equals the encode pad —
    # can match a non-pattern position.
    hi_code = max(int(A.max(initial=0)), int(B.max(initial=0)))
    dt = np.int8 if hi_code < 127 else (np.int16 if hi_code < 32767 else np.int32)
    Ap = np.full((n, L), -1, dtype=dt)
    Ap[:, : A.shape[1]] = A.astype(dt)
    Ap[np.arange(L)[None, :] >= la[:, None]] = -1
    Bd = B.astype(dt)
    res = np.empty(n, dtype=np.int64)
    z = la == 0
    res[z] = lb[z]
    la1 = np.maximum(la, 1)
    widx = ((la1 - 1) // 64).astype(np.int64)
    wbit = ((la1 - 1) % 64).astype(np.uint64)
    VP = np.full((n, W), np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    VN = np.zeros((n, W), dtype=np.uint64)
    score = la.astype(np.int64).copy()
    lb_neg = -lb  # ascending, for the active-prefix searchsorted
    u1, u63 = np.uint64(1), np.uint64(63)
    cmp_buf = np.empty((n, L), dtype=bool)
    with np.errstate(over="ignore"):
        for j in range(int(lb[0]) if n else 0):
            # rows with lb > j (strict) — side="left" over ascending -lb
            na = int(np.searchsorted(lb_neg, -j, side="left"))
            if na == 0:
                break
            cb = cmp_buf[:na]
            np.equal(Ap[:na], Bd[:na, j][:, None], out=cb)
            Eq = np.packbits(cb, axis=1, bitorder="little").view(np.uint64)
            vp, vn = VP[:na], VN[:na]
            X = Eq | vn
            addend = X & vp
            S = np.empty_like(vp)
            carry = np.zeros(na, dtype=np.uint64)
            for k in range(W):  # multi-word add: VP + (X & VP), carry up
                t = vp[:, k] + addend[:, k]
                c1 = t < vp[:, k]
                t2 = t + carry
                c2 = t2 < t
                S[:, k] = t2
                carry = (c1 | c2).astype(np.uint64)
            D0 = (S ^ vp) | X
            HN = vp & D0
            HP = vn | ~(vp | D0)
            # read the score delta at each pair's top pattern bit
            rows = np.arange(na)
            hp = (HP[rows, widx[:na]] >> wbit[:na]) & u1
            hn = (HN[rows, widx[:na]] >> wbit[:na]) & u1
            score[:na] += hp.astype(np.int64) - hn.astype(np.int64)
            cin = np.full(na, 1, dtype=np.uint64)  # D[0][j] = j boundary
            HPs = np.empty_like(HP)
            for k in range(W):
                cout = HP[:, k] >> u63
                HPs[:, k] = (HP[:, k] << u1) | cin
                cin = cout
            cin = np.zeros(na, dtype=np.uint64)
            HNs = np.empty_like(HN)
            for k in range(W):
                cout = HN[:, k] >> u63
                HNs[:, k] = (HN[:, k] << u1) | cin
                cin = cout
            VN[:na] = HPs & D0
            VP[:na] = HNs | ~(HPs | D0)
    res[~z] = score[~z]
    return res[inv]


_ONES64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_U1 = np.uint64(1)


def jaro_winkler(
    a: pd.Series,
    b: pd.Series,
    max_chars: int = 64,
    prefix_weight: float = 0.1,
    chunk_rows: int | None = None,
) -> np.ndarray:
    """Batch Jaro-Winkler similarity of two aligned string Series.

    Standard Jaro with half-max-length match window and transposition count,
    plus Winkler prefix boost (prefix capped at 4). Matches DuckDB's
    ``jaro_winkler_similarity`` (verified by tests/test_simfns.py).

    Kernel (r6): the greedy left-to-right match loop runs BIT-PARALLEL —
    per pattern position one vectorized compare of the text chars is packed
    to ceil(L/64) uint64 words (``np.packbits``), the match window
    [i-win, i+win] ∩ [0, lb) becomes a closed-form per-word range mask
    (no (rows, L, L) tensors at all), the taken-text-position set lives in
    the same packed words, and the first available match is
    ``log2(avail & -avail)`` (exact in float64 — lowbit is a power of two).
    Rows are processed in pattern-length-descending order so the active row
    set shrinks as i grows (pure permutation of independent rows). Values
    are BIT-IDENTICAL to the tensor formulation, kept as
    ``jaro_winkler_ref`` in tests/baselines/simfns_ref.py and pinned by
    tests/test_simfns.py — same greedy order, same integer
    match/transposition counts, same float expression.
    Measured 2.4x at L=144 (scorer sketches) / 3.1x at L=64 (canonical
    name similarity) per core."""
    if chunk_rows is None:
        chunk_rows = 8192
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    for lo in range(0, n, chunk_rows):
        hi = min(lo + chunk_rows, n)
        out[lo:hi] = _jw_chunk(
            a.iloc[lo:hi], b.iloc[lo:hi], max_chars, prefix_weight
        )
    return out


def _jw_chunk(
    a: pd.Series, b: pd.Series, max_chars: int, prefix_weight: float
) -> np.ndarray:
    A32, la = _encode_padded(a, max_chars)
    B32, lb = _encode_padded(b, max_chars)
    n, L = A32.shape
    if n == 0:
        return np.zeros(0)
    # pattern-length-desc order: at iteration i only rows with la > i are
    # active, and sorted rows make them a sliceable prefix
    order = np.argsort(-la, kind="stable")
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    A32, la = A32[order], la[order]
    B32, lb = B32[order], lb[order]
    # 8-bit compare path: normalized text is overwhelmingly ASCII; 4x fewer
    # bytes per compare. Codepoints >= 256 keep the int32 arrays unchanged.
    if A32.max(initial=0) < 256 and B32.max(initial=0) < 256:
        A: np.ndarray = A32.astype(np.uint8)
        B: np.ndarray = B32.astype(np.uint8)
    else:
        A, B = A32, B32

    W = (L + 63) // 64
    Lp = W * 64
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    used = np.zeros((n, W), dtype=np.uint64)
    match_b = np.full((n, L), -1, dtype=np.int64)
    la_neg = -la  # ascending, for the active-prefix searchsorted
    cmp_buf = np.empty((n, Lp), dtype=bool)
    cmp_buf[:, L:] = False
    for i in range(int(la[0]) if n else 0):
        na = int(np.searchsorted(la_neg, -i, side="right"))
        if na == 0:
            break
        cb = cmp_buf[:na]
        np.equal(B[:na], A[:na, i][:, None], out=cb[:, :L])
        avail = np.packbits(cb, axis=1, bitorder="little").view(np.uint64)
        lo = np.maximum(i - win[:na], 0)
        hi = np.minimum(i + win[:na], lb[:na] - 1)
        # a NUL/pad char inside the pattern can never match (encode pad == 0)
        hi = np.where(A32[:na, i] == 0, -1, hi)
        for k in range(W):
            base = 64 * k
            hi_n = np.clip(hi + 1 - base, 0, 64).astype(np.uint64)
            lo_n = np.clip(lo - base, 0, 64).astype(np.uint64)
            hi_m = np.where(hi_n >= 64, _ONES64, (_U1 << hi_n) - _U1)
            lo_m = np.where(lo_n >= 64, _ONES64, (_U1 << lo_n) - _U1)
            avail[:, k] &= hi_m & ~lo_m
        avail &= ~used[:na]
        nz = avail != 0
        has = nz.any(axis=1)
        word = nz.argmax(axis=1)
        rows = np.nonzero(has)[0]
        w_r = word[rows]
        v = avail[rows, w_r]
        lowbit = v & (~v + _U1)
        bit = np.log2(lowbit.astype(np.float64)).astype(np.int64)
        used[rows, w_r] |= lowbit
        match_b[rows, i] = w_r * 64 + bit

    matched_mask_a = match_b >= 0
    k_int = matched_mask_a.sum(axis=1)
    m = k_int.astype(np.float64)

    used_b = np.unpackbits(
        used.view(np.uint8), axis=1, bitorder="little"
    ).astype(bool)[:, :L]

    # matched chars extracted by cumsum scatter — row-major nonzero order is
    # ascending index per row, identical to the stable argsort extraction
    a_seq = np.zeros((n, L), dtype=A32.dtype)
    r, c = np.nonzero(matched_mask_a)
    pos_a = np.cumsum(matched_mask_a, axis=1) - 1
    a_seq[r, pos_a[r, c]] = A32[r, c]
    b_seq = np.zeros((n, L), dtype=B32.dtype)
    r, c = np.nonzero(used_b)
    pos_b = np.cumsum(used_b, axis=1) - 1
    b_seq[r, pos_b[r, c]] = B32[r, c]
    in_match = np.arange(L)[None, :] < k_int[:, None]
    # Integer-halved transposition count — the classic-implementation
    # convention the DuckDB oracle follows (mismatches // 2, not / 2).
    trans = (((a_seq != b_seq) & in_match).sum(axis=1) // 2).astype(np.float64)

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - trans) / np.where(m == 0, 1, m)) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)

    pref_eq = (A32[:, :4] == B32[:, :4]) & (A32[:, :4] != 0)
    pref_len = np.where(
        pref_eq.all(axis=1), np.minimum(4, np.minimum(la, lb)), pref_eq.argmin(axis=1)
    ).astype(np.float64)
    # Classic Winkler boost threshold: only boost when jaro > 0.7.
    jw = np.where(
        jaro > 0.7, jaro + pref_len * prefix_weight * (1.0 - jaro), jaro
    )
    # Empty-string convention follows the DuckDB oracle: any empty side
    # scores 0.0 — empties must never fuzzy-match.
    res = np.where((la == 0) | (lb == 0), 0.0, jw)
    return res[inv]


