"""The gram-code kernel and the two term tables built on it.

``_gram_codes`` is checked against an independent pure-Python encoding;
the per-partition document-frequency partials must aggregate to EXACTLY
the per-doc term-count formulation's frequencies — the broadcast IDF
table (and so every TF-IDF vector) is built from them."""

import hashlib
import random

import numpy as np
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.operators.shingles import (
    _doc_term_counts,
    _gram_codes,
    _partition_term_dfs,
    _widths,
)

ALPHABET = "abcdef ghé"  # incl. a multi-byte char


def _texts():
    rng = random.Random(5)
    texts = ["", "a", "abc", None, "abcd"] + [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 80)))
        for _ in range(300)
    ]
    return texts + texts[5:15]  # repeated docs: df counts each doc once


def _corpus(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_texts())], "doc_id long, text string"
    ).repartition(7)


def _ref_codes(text, widths):
    """Byte n-grams packed little-endian below a width tag at bit 48; a text
    shorter than n bytes gives one md5 code for the whole string."""
    raw = ("" if text is None else text).encode("utf-8")
    out = []
    for n in widths:
        if len(raw) >= n:
            out += [
                int.from_bytes(raw[i : i + n], "little") + (n << 48)
                for i in range(len(raw) - n + 1)
            ]
        else:
            digest = hashlib.md5(raw + bytes([n])).digest()
            out.append(int.from_bytes(digest[:6], "little") + (n << 48))
    return out


def test_gram_codes_match_reference_encoding():
    for widths in ([4], [3, 4, 5]):
        for text in _texts() + ["é", "éé", "aé"]:
            got = _gram_codes(text, widths)
            assert got.dtype == np.int64
            assert got.tolist() == _ref_codes(text, widths), (text, widths)


def _dfs(df):
    return {r.h: r.df for r in df.collect()}


def test_partition_dfs_match_per_doc_counts(spark):
    docs = _corpus(spark)
    for n_lo, n_hi in ((4, 4), (3, 5)):
        widths = _widths(n_lo, n_hi)
        got = _dfs(
            _partition_term_dfs(docs, "text", widths)
            .groupBy("h")
            .agg(F.sum("df").alias("df"))
        )
        want = _dfs(
            _doc_term_counts(docs, "doc_id", "text", widths)
            .groupBy("h")
            .agg(F.count("*").alias("df"))
        )
        assert got == want
