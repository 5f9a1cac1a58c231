"""The numpy LSH key builder must emit EXACTLY the rows of the all-JVM
formulation (tests/baselines/lsh_jvm.py) — same doc_ids, same band-key
strings — on a corpus that exercises short docs, empty text, subsample
fallback and repeated texts. Any divergence would silently change candidate pairs for
every LSH consumer (resolve blocking, minhash_dedup, ngram_jaccard)."""

import random

from baselines.lsh_jvm import lsh_block_keys_jvm

from gpu_entity_resolver_spark.config import BlockingConfig
from gpu_entity_resolver_spark.operators.blocking import lsh_block_keys


def _corpus(spark):
    rng = random.Random(11)
    alphabet = "abcdefgh ijkl"
    texts = [
        "",
        "a",
        "abc",
        "abcd",
        None,
        "héllo wörld héllo wörld",
        "日本語のテキストです日本語",
        "mixed ascii ünd ünicode text",
        "the quick brown fox jumps over the lazy dog",
    ] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(120)
    ]
    texts += texts[:10]  # repeated texts
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, nt string"
    )


def _rows(df):
    assert df.columns == ["doc_id", "block_key"]
    return sorted((r.doc_id, r.block_key) for r in df.collect())


def test_lsh_numpy_matches_jvm(spark):
    docs = _corpus(spark)
    cfg = BlockingConfig()
    assert _rows(lsh_block_keys(docs, "doc_id", "nt", cfg)) == _rows(
        lsh_block_keys_jvm(docs, "doc_id", "nt", cfg)
    )


def test_lsh_numpy_matches_jvm_no_subsample(spark):
    docs = _corpus(spark)
    cfg = BlockingConfig(minhash_shingle_mod=1, bands=4, num_perm=32)
    assert _rows(lsh_block_keys(docs, "doc_id", "nt", cfg)) == _rows(
        lsh_block_keys_jvm(docs, "doc_id", "nt", cfg)
    )


def test_lsh_numpy_matches_jvm_width5(spark):
    """shingle_size != 4 cannot take the int-tail fast path — the per-gram
    fallback must still match the JVM exactly."""
    docs = _corpus(spark).limit(40)
    cfg = BlockingConfig(shingle_size=5, bands=4, num_perm=32)
    assert _rows(lsh_block_keys(docs, "doc_id", "nt", cfg)) == _rows(
        lsh_block_keys_jvm(docs, "doc_id", "nt", cfg)
    )
