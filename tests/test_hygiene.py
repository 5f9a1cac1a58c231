"""Tests for the hygiene operators (SURVEY.md §2.9) and phonetic encoding."""

import pandas as pd
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.phonetic import (
    _metaphone,
    metaphone_series,
    soundex_key,
)
from gpu_entity_resolver_spark.operators.hygiene import (
    assign_new_documents,
    check_no_key_in_two_clusters,
    check_unique_canonical_names,
    consolidate_identical_entities,
    generate_report,
    review_dataframe,
    split_clusters_by,
)


def test_metaphone_properties():
    # Metaphone implementations vary in detail; what matters for blocking/
    # scoring is that sound-alike spellings map to the same key and
    # different-sounding words do not.
    same = [
        ("Smith", "Smyth"),
        ("crystal", "kristal"),
        ("clean", "kleen"),
        ("Philips", "Filips"),
        ("Knight", "Night"),
        ("service", "servise"),
    ]
    for a, b in same:
        assert _metaphone(a) == _metaphone(b), (a, b, _metaphone(a), _metaphone(b))
    assert _metaphone("waste") != _metaphone("midwest")
    assert _metaphone("") == ""
    s = metaphone_series(pd.Series(["crystal clean service", None, ""]))
    assert s.iloc[0].count(" ") == 2 and s.iloc[0].isupper()
    assert s.iloc[1] == "" and s.iloc[2] == ""


def test_soundex_key(spark):
    # soundex keeps the first letter, so pick same-initial sound-alikes
    df = spark.createDataFrame([("smith waste svc",), ("smyth waist svc",)], "t string")
    out = [r["k"] for r in df.select(soundex_key(F.col("t")).alias("k")).collect()]
    assert out[0] == out[1]  # phonetically equal names share the key


def _doc_clusters(df) -> dict:
    return {r["doc_id"]: r["cluster"] for r in df.select("doc_id", "cluster").collect()}


def _split_id(spark, cluster: int, value: str) -> int:
    """The id split_clusters_by mints for (cluster, value)."""
    return spark.createDataFrame(
        [(cluster, value)], "cluster long, lang string"
    ).select(F.xxhash64(F.lit("split"), "cluster", "lang")).first()[0]


def test_consolidate_identical_entities(spark):
    rows = [
        # key "a" appears in clusters 1 (2 rows) and 2 (1 row) -> all to 1
        (1, "a"), (1, "a"), (2, "a"),
        (2, "b"),
        (3, "c"),
    ]
    df = spark.createDataFrame(rows, "cluster long, norm_text string")
    out = consolidate_identical_entities(df)
    got = {(r["norm_text"], r["cluster"]) for r in out.collect()}
    assert ("a", 1) in got and ("a", 2) not in got
    assert ("b", 2) in got and ("c", 3) in got
    assert check_no_key_in_two_clusters(out) == 0

    rows = [
        # key "a" spans clusters 5 (size 3), 3 (size 2) and 7 (size 1):
        # every "a" row moves to 5; the other rows of 3 stay put
        (1, 5, "a"), (2, 5, "a"), (3, 5, None),
        (4, 3, "a"), (5, 3, "b"),
        (6, 7, "a"),
        # key "t" in clusters 8 and 9, both of size 2: the tie goes to the
        # smallest cluster id; the null key in 9 keeps its cluster
        (7, 8, "t"), (8, 8, "c"),
        (9, 9, "t"), (10, 9, None),
        (11, 4, "z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cluster long, norm_text string")
    out = consolidate_identical_entities(df)
    assert out.columns == ["doc_id", "cluster", "norm_text"]
    assert _doc_clusters(out) == {
        1: 5, 2: 5, 3: 5, 4: 5, 5: 3, 6: 5, 7: 8, 8: 8, 9: 8, 10: 9, 11: 4,
    }


def test_split_clusters_by(spark):
    rows = [
        (10, "en", "x1"), (10, "en", "x2"), (10, "de", "x3"),  # spans 2 langs
        (20, "en", "y1"), (20, "en", "y2"),                      # single lang
    ]
    df = spark.createDataFrame(rows, "cluster long, lang string, norm_text string")
    out = split_clusters_by(df, "lang")
    clusters = {
        (r["lang"], r["cluster"]) for r in out.where(F.col("norm_text").startswith("x")).collect()
    }
    langs = {l for l, _ in clusters}
    ids = {c for _, c in clusters}
    assert langs == {"en", "de"} and len(ids) == 2  # split happened
    assert out.where(F.col("norm_text").startswith("y")).select("cluster").distinct().count() == 1
    # minted ids are fresh: distinct per language and disjoint from input ids
    assert ids.isdisjoint({10, 20})

    rows = [
        # cluster 10 spans en and de; its null-lang row keeps the cluster
        (1, 10, "en", "x1"), (2, 10, "en", "x2"), (3, 10, "de", "x3"),
        (4, 10, None, "x4"),
        # a null value does not count: {en, null} is one language
        (5, 20, "en", "y1"), (6, 20, None, "y2"),
        (7, 30, None, "z1"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, cluster long, lang string, norm_text string"
    )
    out = split_clusters_by(df, "lang")
    assert out.columns == ["cluster", "lang", "doc_id", "norm_text"]
    en, de = _split_id(spark, 10, "en"), _split_id(spark, 10, "de")
    assert _doc_clusters(out) == {1: en, 2: en, 3: de, 4: 10, 5: 20, 6: 20, 7: 30}

    # key "p" spans clusters 1 (two de rows) and 2 (one en row, plus "q"):
    # the sizes tie, so consolidate moves the en "p" row into 1, and split
    # then divides 1 by language; "q" stays in 2
    rows = [(1, 1, "p", "de"), (2, 1, "p", "de"), (3, 2, "p", "en"), (4, 2, "q", "en")]
    df = spark.createDataFrame(
        rows, "doc_id long, cluster long, norm_text string, lang string"
    )
    out = split_clusters_by(consolidate_identical_entities(df), "lang")
    assert out.columns == ["cluster", "lang", "doc_id", "norm_text"]
    de, en = _split_id(spark, 1, "de"), _split_id(spark, 1, "en")
    assert _doc_clusters(out) == {1: de, 2: de, 3: en, 4: 2}


def test_invariant_unique_canonical(spark):
    canon = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "cluster long, canonical_text string",
    )
    assert check_unique_canonical_names(canon) == 1


def test_report_and_review(spark):
    resolved = spark.createDataFrame(
        [
            (1, 1, "a", "a", 2, 0.9, "VeryHigh", False, ""),
            (2, 1, "a2", "a", 2, 0.6, "Medium", True, "low_confidence"),
            (3, 3, "b", "b", 1, 0.5, "Low", True, "low_confidence,singleton_changed"),
        ],
        "doc_id long, cluster long, norm_text string, canonical_text string,"
        "cluster_size long, confidence_score double, confidence_category string,"
        "needs_review boolean, review_reason string",
    )
    rep = generate_report(resolved)
    assert rep["n_docs"] == 3 and rep["n_clusters"] == 2
    assert rep["n_needs_review"] == 2
    assert rep["review_reasons"]["low_confidence"] == 2
    rev = review_dataframe(resolved)
    assert rev.count() == 2


def test_assign_new_documents(spark):
    canon = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "cluster long, canonical_text string",
    )
    new = spark.createDataFrame(
        [
            (7, "the quick brown fox jumps over the lazy dog today"),
            (8, "completely unrelated zebra text with nothing shared qq"),
        ],
        "doc_id long, norm_text string",
    )
    out = {r["doc_id"]: r for r in assign_new_documents(spark, new, canon).collect()}
    assert out[7]["cluster"] == 100 and not out[7]["is_new_entity"]
    assert out[8]["cluster"] == 8 and out[8]["is_new_entity"]


def test_assign_new_documents_reads_batch_once(spark):
    # a lazy batch whose norm_text passes through a counting UDF: every
    # consumer inside assign (both key families, both doc-vector passes,
    # the sketches, the output join) must read one evaluation of it
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def counted(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    canon = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (200, "acme widget company main street springfield"),
        ],
        "cluster long, canonical_text string",
    )
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumped over a lazy dog today",
        "acme widget company main street springfield",
        "acme widgets co main st springfield",
        "completely unrelated zebra text with nothing shared qq",
    ]
    new = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, raw string"
    ).select("doc_id", counted("raw").alias("norm_text"))
    out = assign_new_documents(spark, new, canon).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(texts)))
    assert {r["doc_id"]: r["cluster"] for r in out if not r["is_new_entity"]}[0] == 100
    assert seen.value == len(texts)
