"""The fused Arrow-UDF normalizer must equal the chained-JVM-regex
formulation string-for-string — normalize_text is a value-hash oracle and
every blocking/scoring input flows through it."""

import random

from pyspark.sql import functions as F

from baselines.normalize_jvm import normalize_entity_text_expr

from gpu_entity_resolver_spark.functions.normalize import (
    _fusable_word_rules,
    normalize_entity_text,
)

ADVERSARIAL = [
    None,
    "",
    "   ",
    "Acme & Sons + Co",
    "acme (a delaware co) inc",
    "smith dba jones repair",
    "smith d/b/a jones svc ctr",
    "big a/k/a small f/k/a tiny",
    "trk rpr svcs ctrs cntr auto auth dist mfg mfr equip natl mgmt assoc",
    "ends with digits 12345",
    "ends with digits 12345\n",
    "tab\tand\x0bweird\fwhitespace",
    "unicode café & naïve llc",
    "ALL CAPS CORP",
    "nested (paren (inner) outer) co",
    "a+b&c",
    "et al holdings group",
    "svcs.punct,adjacent;svc",
    "x" * 500 + " inc 99",
    "dba",
    "dba ",
    " dba trailing",
]


def _rand_texts(n=300):
    rng = random.Random(17)
    words = [
        "svc", "svcs", "ctr", "auto", "co", "inc", "llc", "and", "&", "+",
        "(x)", "repair", "truck", "12", "999", "dba", "al", "et",
        "word", "soup", "batch,", "line.", "a", "é",
    ]
    return [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
        for _ in range(n)
    ]


def test_default_rules_are_fusable():
    from gpu_entity_resolver_spark.config import DEFAULT_REPLACEMENTS

    assert _fusable_word_rules(DEFAULT_REPLACEMENTS)


def test_fused_equals_jvm_chain_adversarial(spark):
    texts = ADVERSARIAL + _rand_texts()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    out = df.select(
        "i",
        normalize_entity_text(F.col("t")).alias("fused"),
        normalize_entity_text_expr(F.col("t")).alias("jvm"),
    )
    bad = out.where(F.col("fused") != F.col("jvm")).collect()
    assert bad == [], bad[:5]


def test_fused_equals_jvm_chain_corpus(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = df.select(
        normalize_entity_text(F.col("text")).alias("fused"),
        normalize_entity_text_expr(F.col("text")).alias("jvm"),
    )
    assert out.where(F.col("fused") != F.col("jvm")).count() == 0


def test_fused_equals_jvm_chain_unfusable_dict(spark):
    """A dict whose value feeds a later key must fall back to the
    sequential path and still match the JVM chain."""
    reps = {"aa": "bb", "bb": "cc"}
    assert not _fusable_word_rules(reps)
    df = spark.createDataFrame(
        [("aa bb x",), ("bb aa",), ("aa aa bb",)], "t string"
    )
    out = df.select(
        normalize_entity_text(F.col("t"), reps, ()).alias("fused"),
        normalize_entity_text_expr(F.col("t"), reps, ()).alias("jvm"),
    )
    assert out.where(F.col("fused") != F.col("jvm")).count() == 0
