"""Canonical-representative election per cluster.

V11 (reference utils.py:28-62): among the unique texts of a cluster, score
each candidate by centrality x descriptiveness:

    score = (cosine_sim_matrix @ freq_weights + freq_weights) * min(log(len+1), 3.5)

using char 3-5-gram TF-IDF (sklearn-default weighting: raw tf, smooth idf,
L2 norm). The argmax is the canonical text. The reference runs this in a
per-cluster CPU/GPU loop (resolver.py:560-571 etc.); here it is ONE
``applyInPandas`` pass over all clusters — each cluster is small after
resolution, so the per-group numpy work is tiny and fully parallel.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_codes(names: list[str], n_lo: int, n_hi: int) -> list[np.ndarray]:
    """Codes of every char n-gram occurrence of each name, n_lo <= n <= n_hi,
    one array per name. A name shorter than n counts WHOLE, once, for that
    n (the sklearn-style short-string rule the election relies on).

    One ``np.unique`` ranks the code points of all the names; a gram packs
    rank+1 per char in base A+1 (A distinct chars), first char in the
    highest of ``n_hi`` places, zero-padded. So code identity is gram
    identity and code order is Python ``str`` order: a shorter prefix pads
    with zeros and sorts first, and NUL is a rank like any other char. The
    codes are uint64 while (A+1)**n_hi fits in 64 bits (up to ~7,100
    distinct chars at n_hi=5) and Python ints (object dtype) past that.
    """
    cps = np.frombuffer(
        "".join(names).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    )
    alphabet = np.unique(cps)
    base = len(alphabet) + 1
    dtype = np.uint64 if base**n_hi <= 1 << 64 else object
    # rank+1 by table lookup: cheaper than unique's return_inverse sort
    rank1 = np.zeros(int(alphabet[-1]) + 1 if len(alphabet) else 1, np.int64)
    rank1[alphabet] = np.arange(1, base)
    digits = rank1[cps].astype(dtype)
    place = np.array([base ** (n_hi - 1 - i) for i in range(n_hi)], dtype=dtype)
    out, start = [], 0
    for s in names:
        d = digits[start : start + len(s)]
        start += len(s)
        out.append(
            np.concatenate(
                [
                    sliding_window_view(d, n) @ place[:n]
                    if len(d) >= n
                    else np.array([d @ place[: len(d)]], dtype=dtype)
                    for n in range(n_lo, n_hi + 1)
                ]
            )
        )
    return out


def _tfidf_matrix(names: list[str], n_lo: int = 3, n_hi: int = 5) -> np.ndarray:
    """Dense sklearn-default char TF-IDF matrix for a SMALL list of strings.

    Columns are the grams in sorted ``str`` order (:func:`_gram_codes`
    sorts like the strings), so tf values, idf scaling, L2 norm and
    X @ X.T are the same float ops as a per-gram ``Counter`` over a sorted
    vocabulary (pinned by test_canonical_fastpath.py).
    """
    n = len(names)
    per = [np.unique(c, return_counts=True) for c in _gram_codes(names, n_lo, n_hi)]
    vocab = np.unique(np.concatenate([u for u, _ in per]))
    X = np.zeros((n, len(vocab)))
    for r, (u, tf) in enumerate(per):
        X[r, np.searchsorted(vocab, u)] = tf
    df = (X > 0).sum(axis=0)
    idf = np.log((1.0 + n) / (1.0 + df)) + 1.0
    X = X * idf
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def _elect_canonical_list(names: list[str]) -> str:
    """Exact V11 formula on one cluster's member texts (plain-list core).

    The candidate list is processed in SORTED order (r6b), making the
    election a pure function of the name MULTISET: the earlier
    first-appearance order inherited ``collect_list``'s shuffle arrival
    order, so ``base = sim @ freq`` summed in a partition-dependent order
    and the argmax (first max wins) broke exact ties by arrival — the
    end-to-end determinism test caught a flipped near-tie after the r6b
    hygiene rewrites perturbed row order. Candidate SCORES are otherwise
    order-independent (tf/idf/norms are per-row over the sorted vocab; sim
    entries are pairwise dots), so on margin-decidable inputs — every
    oracle fixture — the winner is unchanged; ties now break
    lexicographically, deterministically."""
    if not names:
        return ""
    counts = Counter(names)
    if len(counts) == 1:
        return names[0]
    uniq = sorted(counts)
    X = _tfidf_matrix(uniq)
    sim = X @ X.T
    freq = np.array([counts[u] for u in uniq], dtype=np.float64) / float(
        len(names)
    )
    base = sim @ freq + freq
    lengths = np.array([len(u) for u in uniq], dtype=np.float64)
    bonus = np.minimum(np.log(lengths + 1.0), 3.5)
    return uniq[int(np.argmax(base * bonus))]


def elect_canonical(names: pd.Series) -> str:
    """Exact V11 formula on one cluster's member texts."""
    return _elect_canonical_list(list(names))


def canonical_map(
    members: DataFrame,
    cluster_col: str = "cluster",
    text_col: str = "norm_text",
) -> DataFrame:
    """(cluster, canonical_text, cluster_size).

    One groupBy collects each cluster's member texts, then a ``mapInPandas``
    pass elects canonicals over THOUSANDS of clusters per Arrow batch. The
    former per-cluster ``applyInPandas`` paid the Arrow/pandas round-trip
    once per cluster (28k groups = 28k tiny batches) and anti-scaled with
    cores; clusters are small post-resolution, so the collected name lists
    are bounded."""
    grouped = members.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.collect_list(F.col(text_col)).alias("_names")
    )

    def per_batch(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "cluster": pdf["cluster"],
                    "canonical_text": [
                        _elect_canonical_list(list(ns)) for ns in pdf["_names"]
                    ],
                    "cluster_size": [len(ns) for ns in pdf["_names"]],
                }
            )

    return grouped.mapInPandas(
        per_batch, "cluster long, canonical_text string, cluster_size long"
    )
