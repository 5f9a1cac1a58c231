"""Scorer parity (SURVEY.md §5.1): the numpy-vectorized Jaro-Winkler must
agree with an independent scalar oracle — DuckDB's jaro_winkler_similarity."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from gpu_entity_resolver_spark.functions.simfns import jaro_winkler

_con = duckdb.connect()


def oracle(a: str, b: str) -> float:
    return _con.execute(
        "select jaro_winkler_similarity(?::varchar, ?::varchar)", [a, b]
    ).fetchone()[0]


KNOWN = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("jellyfish", "smellyfish"),
    ("", ""),
    ("abc", ""),
    ("", "abc"),
    ("same", "same"),
    ("crystal clean", "crystal clean llc"),
    ("a", "a"),
    ("ab", "ba"),
]


def test_known_pairs_match_duckdb():
    a = pd.Series([p[0] for p in KNOWN])
    b = pd.Series([p[1] for p in KNOWN])
    got = jaro_winkler(a, b)
    want = np.array([oracle(x, y) for x, y in KNOWN])
    np.testing.assert_allclose(got, want, atol=1e-9)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefg 123", max_size=20),
            st.text(alphabet="abcdefg 123", max_size=20),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_random_pairs_match_duckdb(pairs):
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    got = jaro_winkler(a, b)
    want = np.array([oracle(x, y) for x, y in pairs])
    np.testing.assert_allclose(got, want, atol=1e-9)


def test_chunking_invariance():
    rng = np.random.default_rng(42)
    words = ["crystal", "clean", "midwest", "waste", "service", "truck"]
    a = pd.Series([" ".join(rng.choice(words, 3)) for _ in range(500)])
    b = pd.Series([" ".join(rng.choice(words, 3)) for _ in range(500)])
    full = jaro_winkler(a, b, chunk_rows=4096)
    small = jaro_winkler(a, b, chunk_rows=7)
    np.testing.assert_array_equal(full, small)


def test_bitparallel_kernel_equals_tensor_ref():
    """The r6 bit-parallel greedy-match kernel must be BIT-identical to the
    (rows, L, L) tensor formulation it replaced, on every shape class the
    engine feeds it: long near-dup sketches (L=144), short names (L=64),
    mixed lengths (active-prefix shrink), unicode (int32 fallback), NUL
    chars, empties/None, and exact word-boundary lengths."""
    from baselines.simfns_ref import jaro_winkler_ref

    rng = np.random.default_rng(1234)
    alpha = np.array(list("abcdefgh 0123"))

    def rt(n, lo, hi):
        lens = rng.integers(lo, hi + 1, size=n)
        return pd.Series(["".join(rng.choice(alpha, L)) for L in lens])

    base = rt(500, 100, 144)
    cases = [
        (rt(800, 0, 40), rt(800, 0, 40), 64),
        (base, base.str.slice(0, 70) + "x" + base.str.slice(72), 144),
        (rt(800, 0, 144), rt(800, 0, 144), 144),
        (
            pd.Series(["café müller", "你好 world", "", None, "a\x00b", "\x00"]),
            pd.Series(["cafe muller", "你好 word", "x", "y", "ab", "\x00\x00"]),
            64,
        ),
        (
            pd.Series(["a" * 64, "b" * 128, "c" * 63, "d" * 65]),
            pd.Series(["a" * 63 + "x", "b" * 129, "c" * 64, "d" * 64]),
            144,
        ),
    ]
    for a, b, mc in cases:
        got = jaro_winkler(a, b, max_chars=mc)
        want = jaro_winkler_ref(a, b, max_chars=mc)
        np.testing.assert_array_equal(got, want)
