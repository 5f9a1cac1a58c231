"""SimHash regression: the fast explode->groupBy table form must produce
the exact fingerprints of the original single-expression fold (captured as
fixed values so any future rewrite is checked against round-1 output)."""

from pyspark.sql import functions as F

from baselines.simhash_jvm import simhash64, simhash64_table_agg

from gpu_entity_resolver_spark.operators.dedup import (
    simhash64_table,
    simhash_bands,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dot",
    "spark sql window functions",
    "",
    "abc",
    "a",
]
# captured from the round-1 aggregate-fold implementation (seed=42, k=4)
EXPECTED = {
    0: 6974897784522080954,
    1: 6974888988429060778,
    2: 7041202951527048237,
    3: 3524361793169708440,
    4: -7147881818510587412,
    5: 3221748083033855235,
}


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_simhash_table_matches_fixed_fingerprints(spark):
    got = {
        r.doc_id: r.simhash
        for r in simhash64_table(_docs(spark), "doc_id", "text").collect()
    }
    assert got == EXPECTED


def test_simhash_table_matches_fold_expression(spark):
    fold = {
        r.doc_id: r.sh
        for r in _docs(spark)
        .select("doc_id", simhash64("text").alias("sh"))
        .collect()
    }
    assert fold == EXPECTED


def test_simhash_numpy_matches_agg_form(spark):
    """The zero-shuffle numpy popcount path (r6) must reproduce the
    aggregate form bit-for-bit on a randomized corpus — both consume the
    same JVM-computed shingle hashes, so only the majority-count logic is
    under test (incl. even-count ties and short-string fallbacks)."""
    import random

    rng = random.Random(7)
    alphabet = "abcdef gh"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
        for i in range(200)
    ]
    rows += [
        (1000, None),
        (1001, "héllo wörld héllo wörld non ascii"),
        (1002, "日本語のテキストです"),
        (1003, "mixed ascii ünd more"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        r.doc_id: r.simhash
        for r in simhash64_table(docs, "doc_id", "text").collect()
    }
    agg = {
        r.doc_id: r.simhash
        for r in simhash64_table_agg(docs, "doc_id", "text").collect()
    }
    assert fast == agg


def test_simhash_bands_cover_near_dup(spark):
    bands = simhash_bands(_docs(spark), "doc_id", "text")
    # docs 0 and 1 differ by one char -> small hamming distance -> they must
    # share at least one of the 4 16-bit bands
    shared = (
        bands.where(F.col("doc_id").isin(0, 1))
        .groupBy("band", "band_bits")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") == 2)
        .count()
    )
    assert shared >= 1
