"""The vectorized gram-code TF-IDF matrix must be BITWISE equal to the
per-gram Python spec below: same tf counts in the same sorted vocabulary
make idf/L2/X@X.T float-op sequences identical, so the V11 election
(reference utils.py:28-62) is the spec's, for ASCII, any Unicode, NUL, and
alphabets too large for uint64 codes."""

import random
import string
from collections import Counter

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from gpu_entity_resolver_spark.operators.canonical import (
    _gram_codes,
    _tfidf_matrix,
    elect_canonical,
)


def _slow_matrix(names, n_lo=3, n_hi=5):
    """The pre-vectorization implementation, verbatim (the spec)."""
    grams = []
    for s in names:
        c = Counter()
        for n in range(n_lo, n_hi + 1):
            if len(s) >= n:
                for i in range(len(s) - n + 1):
                    c[s[i : i + n]] += 1
            else:
                c[s] += 1
        grams.append(c)
    vocab = {g: i for i, g in enumerate(sorted(set().union(*grams)))}
    X = np.zeros((len(names), len(vocab)))
    for r, c in enumerate(grams):
        for g, tf in c.items():
            X[r, vocab[g]] = tf
    n = len(names)
    df = (X > 0).sum(axis=0)
    idf = np.log((1.0 + n) / (1.0 + df)) + 1.0
    X = X * idf
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def test_gram_codes_identity_and_order():
    # code identity == gram identity, uint64 order == lexicographic order
    s = "abcabx"
    codes = _gram_codes([s], 3, 5)[0]
    grams = []
    for n in range(3, 6):
        grams += [s[i : i + n] for i in range(len(s) - n + 1)]
    assert len(codes) == len(grams)
    by_code = {}
    for c, g in zip(codes.tolist(), grams):
        assert by_code.setdefault(c, g) == g  # no collisions
    uniq_sorted = sorted(set(grams))
    code_sorted = [by_code[c] for c in sorted(by_code)]
    assert code_sorted == uniq_sorted


def test_matrix_bitwise_parity_random():
    rng = random.Random(7)
    alphabet = string.ascii_lowercase + " 0123456789.,-&/"
    for _ in range(250):
        k = rng.randint(1, 8)
        names = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
            for _ in range(k)
        ]
        fast = _tfidf_matrix(names)
        slow = _slow_matrix(names)
        assert fast.shape == slow.shape
        assert np.array_equal(fast, slow), names


def test_matrix_parity_edge_cases():
    for names in (
        [""],
        ["", "", "ab"],
        ["ab"],  # shorter than every n
        ["abcd", "abcd", "abcde"],  # len==4 double-counts itself at n=5
        ["aaaaaaaa", "aaaa"],  # heavy repeats
    ):
        assert np.array_equal(_tfidf_matrix(names), _slow_matrix(names))


def test_unicode_and_nul_match():
    for names in (
        ["héllo wörld pãge", "hello world page", "日本語テキスト"],
        ["a\x00b", "a", "ab\x00\x00", "\x00"],  # NUL sorts below every char
    ):
        assert np.array_equal(_tfidf_matrix(names), _slow_matrix(names))


def test_large_alphabet_takes_python_int_codes():
    # 7,500 distinct chars: (7500 + 1) ** 5 > 2 ** 64, so the codes are
    # Python ints; order and identity must still match the spec
    chars = [chr(0x4E00 + i) for i in range(7500)]
    random.Random(5).shuffle(chars)
    names = ["".join(chars[i : i + 1500]) for i in range(0, 7500, 1500)]
    names += [names[0][:700] + names[1][:700], "ab"]
    assert _gram_codes(names, 3, 5)[0].dtype == object
    assert np.array_equal(_tfidf_matrix(names), _slow_matrix(names))


def test_election_matches_spec():
    rng = random.Random(42)
    alphabet = string.ascii_lowercase + " "
    for _ in range(50):
        base = "".join(rng.choice(alphabet) for _ in range(30))
        members = [base] * 3 + [base + " extra"] * 2 + [base[:20]]
        rng.shuffle(members)
        got = elect_canonical(pd.Series(members))
        # recompute with the slow matrix: the argmax must agree
        uniq = pd.unique(pd.Series(members))
        X = _slow_matrix(list(uniq))
        sim = X @ X.T
        counts = pd.Series(members).value_counts()
        freq = counts.reindex(uniq).fillna(0).to_numpy() / float(len(members))
        base_score = sim @ freq + freq
        lengths = np.array([len(u) for u in uniq], dtype=np.float64)
        bonus = np.minimum(np.log(lengths + 1.0), 3.5)
        assert got == uniq[int(np.argmax(base_score * bonus))]


_ascii_name = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=127), max_size=60
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_ascii_name, min_size=1, max_size=6))
def test_matrix_bitwise_parity_hypothesis(names):
    # any ASCII input, NUL included: equal to the spec bit-for-bit
    assert np.array_equal(_tfidf_matrix(names), _slow_matrix(names))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(max_size=40),  # full unicode
        min_size=1,
        max_size=5,
    )
)
def test_matrix_parity_any_unicode_hypothesis(names):
    assert np.array_equal(_tfidf_matrix(names), _slow_matrix(names))
