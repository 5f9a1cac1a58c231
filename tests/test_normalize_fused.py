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


def test_prepare_documents_equals_extract_then_normalize(spark):
    """prepare_documents' norm_text equals, row for row, the stored text
    where it is non-null and non-empty, else the extraction of the html,
    then normalized; the streaming intake gives the same norm_text."""
    import pandas as pd

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.functions.extraction import (
        extract_text_series,
    )
    from gpu_entity_resolver_spark.plans.resolve import prepare_documents
    from gpu_entity_resolver_spark.streaming.incremental import (
        normalize_stream,
    )

    html = (
        b"<html><head><script>var x = '<b>Acme</b>';</script>"
        b"<style>p {color: red}</style></head><body><!-- Zebra Co -->"
        b"<p>Smith &amp;lt; Sons &amp; Co (est 1901) Inc</p> 42</body></html>"
    )
    rows = [
        ("http://t/present", html, "Stored Text & Sons LLC 7"),
        ("http://t/empty", html, ""),
        ("http://t/null", html, None),
        ("http://t/both-null", None, None),
        ("http://t/empty-no-html", None, ""),
        ("http://t/plain", b"<p>Acme&nbsp;Corp dba Widget Svc Ctr</p>", None),
    ]
    docs = spark.createDataFrame(
        [(u, None, h, t, "en") for u, h, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(3)
    cfg = ResolverConfig()
    got = {
        r["url"]: r["norm_text"]
        for r in prepare_documents(docs, cfg).collect()
    }
    bodies = spark.createDataFrame(
        [
            (u, t if t else extract_text_series(pd.Series([h]))[0])
            for u, h, t in rows
        ],
        "url string, body string",
    )
    want = {
        r["url"]: r["n"]
        for r in bodies.select(
            "url",
            normalize_entity_text(
                F.col("body"), cfg.replacements, cfg.suffixes_to_remove
            ).alias("n"),
        ).collect()
    }
    assert got == want
    assert got["http://t/present"] == "stored text and sons"
    assert got["http://t/both-null"] == ""
    # the script, style and comment bodies never reach the text
    assert "acme" not in got["http://t/empty"]
    assert "zebra" not in got["http://t/null"]
    streamed = {
        r["url"]: r["norm_text"]
        for r in normalize_stream(docs, cfg).collect()
    }
    assert streamed == got
