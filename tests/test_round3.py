"""Round-3 additions: V2 phonetic scoring term, full config round-trip,
IVF auto-sizing recall, S5 report distribution stats, G5+G10 ensemble
wiring."""

import math
import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import (
    BlockingConfig,
    ResolverConfig,
    ScoringConfig,
    config_from_dict,
    config_to_dict,
)


# --- V2 phonetic scoring term ----------------------------------------------

def _entity_score(spark, a: str, b: str, phonetic_weight: float) -> float:
    from gpu_entity_resolver_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, norm_text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    cfg = ScoringConfig(
        tfidf_weight=0.40,
        jaro_winkler_weight=0.35,
        levenshtein_weight=0.25,
        phonetic_weight=phonetic_weight,
        tfidf_ngram_lo=3,
        tfidf_ngram_hi=5,
        cosine_prefilter=0.0,
        jw_decision_band=0.0,
    )
    row = score_pairs(pairs, docs, cfg=cfg).collect()[0]
    return row


def test_phonetic_term_lifts_misspelling_over_threshold(spark):
    # 'jonsen trucking salvage' vs 'johnson trucking salvage': identical
    # Metaphone codes (JNSN TRKNK SLFJ), so ph_sim = 1.0 lifts the pair;
    # without the phonetic stream the shingle/edit signals alone are weaker.
    a, b = "jonsen trucking salvage", "johnson trucking salvage"
    without = _entity_score(spark, a, b, 0.0)
    with_ph = _entity_score(spark, a, b, 0.15)
    assert with_ph["ph_sim"] == 1.0
    assert with_ph["score"] > without["score"]
    # the entity path's 0.65 threshold: phonetics carries it across
    assert with_ph["score"] >= 0.65


def test_phonetic_term_neutral_for_identical_and_absent_for_corpus(spark):
    row = _entity_score(spark, "acme manufacturing", "acme manufacturing", 0.15)
    assert row["ph_sim"] == 1.0 and row["score"] == pytest.approx(1.0)
    # corpus scorer (phonetic_weight = 0) reports ph_sim as null
    from gpu_entity_resolver_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, norm_text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = score_pairs(pairs, docs, cfg=ScoringConfig(cosine_prefilter=0.0)).collect()
    assert all(r["ph_sim"] is None for r in out)


def test_decision_band_skips_only_low_side(spark):
    # ADVICE r3: confident pairs must get an EXACT jw — mean/median/rank
    # consumers read score values, not just threshold outcomes. Only pairs
    # that cannot reach the floor even with jw = 1 are dropped.
    from gpu_entity_resolver_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [
            (1, "acme manufacturing company of rockford illinois"),
            (2, "acme manufacturing company of rockford illinois"),
            (3, "completely unrelated text about gardening tulips"),
        ],
        "doc_id long, norm_text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    cfg = ScoringConfig(cosine_prefilter=0.0, jw_decision_band=0.55)
    rows = {(r["src"], r["dst"]): r for r in score_pairs(pairs, docs, cfg=cfg).collect()}
    hi_pair = rows[(1, 2)]
    assert hi_pair["jw"] is not None and hi_pair["jw"] > 0.99
    # exact score (not partial-only); float32 vector weights bound the slack
    assert abs(hi_pair["score"] - 1.0) < 1e-6
    assert (1, 3) not in rows


# --- S3/S4 full config round-trip -------------------------------------------

def test_config_round_trip_exact():
    cfg = ResolverConfig()
    cfg.scoring.edge_threshold = 0.71
    cfg.scoring.jw_decision_band = 0.6
    cfg.clustering.name_match_threshold = 0.93
    cfg.clustering.allow_neighboring_states = (("il", "wi"), ("mn", "ia"))
    cfg.blocking.max_block_size = 99
    back = config_from_dict(config_to_dict(cfg))
    assert back == cfg
    # legacy band forms: a saved [lo, hi] band keeps its floor lo, and the
    # former "always compute JW" None becomes floor 0.0
    legacy = config_to_dict(cfg)
    legacy["scoring"]["jw_decision_band"] = [0.6, 0.8]
    assert config_from_dict(legacy) == cfg
    legacy["scoring"]["jw_decision_band"] = None
    assert config_from_dict(legacy).scoring.jw_decision_band == 0.0


def test_config_round_trip_ignores_unknown_keys():
    newer = config_to_dict(ResolverConfig())
    newer["scoring"]["added_in_future_version"] = 1
    newer["brand_new_section"] = {"x": 1}
    # fields that older saved models still carry after their removal
    older = config_to_dict(ResolverConfig())
    older["blocking"]["salt_buckets"] = 8
    older["random_seed"] = 7
    older["clustering"]["min_cluster_size"] = 1
    older["runtime"].update(
        shuffle_partitions=32,
        arrow_batch_size=10_000,
        broadcast_threshold_rows=1_000_000,
    )
    for d in (newer, older):
        cfg = config_from_dict(d)
        assert cfg == ResolverConfig()


def test_save_load_restores_thresholds(spark, tmp_path):
    import pandas as pd

    from gpu_entity_resolver_spark.plans.entities import EntityResolver

    cfg = ResolverConfig()
    cfg.clustering.addr_match_threshold = 0.91  # non-default
    cfg.scoring.edge_threshold = 0.58
    df = pd.DataFrame(
        {
            "company_name": ["Acme Mfg", "Acme Manufacturing", "Zebra Co"],
            "address": [
                "12 Main St Springfield IL 62701",
                "12 Main St Springfield IL 62701",
                "9 Oak Ave Peoria IL 61601",
            ],
        }
    )
    r = EntityResolver(config=cfg, spark=spark)
    r.fit(df)
    path = str(tmp_path / "model")
    r.save_model(path)
    loaded = EntityResolver(spark=spark).load_model(path)
    # reference-parity classmethod form (reference resolver.py:1439-1440)
    cls_loaded = EntityResolver.load_model(path)
    assert cls_loaded._is_fitted
    assert cls_loaded.config.clustering.addr_match_threshold == 0.91
    assert loaded.config.clustering.addr_match_threshold == 0.91
    assert loaded.config.scoring.edge_threshold == 0.58
    # transform runs under the restored config
    out = loaded.transform(df.head(1))
    assert len(out) == 1


# --- IVF auto-sizing --------------------------------------------------------

def test_ivf_autosize_recall(spark, sf_dir):
    # The IVF use case is near-dup retrieval: corpus = base vectors plus
    # small perturbations; the perturbed query must retrieve its base
    # vector in the top-5. Auto-sized n_centroids/n_probe.
    from gpu_entity_resolver_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    dim = len(emb.first()["embedding"])
    planted = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x + 0.05 * "
            f"embedding[(i + 7) % {dim}] as float))"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    queries = planted.where(F.col("vec_id") < 1_000_050)
    hits = {
        r["query_id"]
        for r in ivf_topk(corpus, queries, k=5).collect()
        if r["neighbor_id"] == r["query_id"] - 1_000_000
    }
    recall = len(hits) / queries.count()
    assert recall >= 0.9, f"IVF near-dup recall@5 {recall:.3f}"


def test_ivf_autosize_formula():
    # ceil(sqrt(N)) with a floor of 16
    assert max(16, math.isqrt(99) + 1) == 16
    n = 100_000
    assert max(16, math.isqrt(n - 1) + 1) == 317


# --- S5 report parity -------------------------------------------------------

def test_report_distribution_stats(spark):
    from gpu_entity_resolver_spark.operators.hygiene import generate_report

    rows = []
    for c in range(5):
        for m in range(c + 1):
            rows.append(
                (c * 100 + m, c, f"text {c}", f"canon {c}", c + 1, 0.9,
                 "VeryHigh", False, "")
            )
    df = spark.createDataFrame(
        rows,
        "doc_id long, cluster long, norm_text string, canonical_text string,"
        " cluster_size int, confidence_score double,"
        " confidence_category string, needs_review boolean,"
        " review_reason string",
    )
    rep = generate_report(df, top_n_clusters=3)
    st = rep["cluster_size_stats"]
    assert st["min"] == 1 and st["max"] == 5
    assert st["mean"] == pytest.approx(3.0)
    assert len(rep["largest_clusters"]) == 3
    assert rep["largest_clusters"][0]["size"] == 5
    assert rep["largest_clusters"][0]["canonical_text"] == "canon 4"


# --- SQL soundex oracle parity ----------------------------------------------

def test_soundex_sql_parity_full_vocab(spark, sf_dir):
    # The phonetic_soundex DuckDB oracle must equal Spark's soundex() on
    # every word of the corpus vocabulary (pure lowercase ASCII).
    import duckdb

    import __spark_entry__ as entry_mod

    sdf = entry_mod.queries()["phonetic_soundex"](spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    odf = con.execute(entry_mod.oracle_sql()["phonetic_soundex"]).df()
    s = dict(zip(sdf["doc_id"], sdf["phonetic_key"]))
    o = dict(zip(odf["doc_id"], odf["phonetic_key"]))
    assert s == o


def test_soundex_sql_parity_adversarial(spark):
    # Words the corpus vocabulary may never contain but real text will:
    # H/W-initial words (the drop-first-code step must remove the first
    # letter's own code, not the next one's), H/W-invisible collapses
    # (NIST examples tymczak/ashcraft), non-alpha-initial tokens (Spark
    # passes the input through unchanged), and digits/punct inside words
    # (separator semantics).
    import duckdb

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from gpu_entity_resolver_spark.functions.phonetic import soundex_key

    words = [
        "wright", "php", "hwb", "4runner", "abc123", "pfister", "baba",
        "tymczak", "honeyman", "robert", "rupert", "ashcraft", "ashcroft",
        "wu", "h", "a", "99", "o'neil", "x-ray",
    ]
    sdf = spark.createDataFrame(
        [(i + 1, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["k"]
        for r in sdf.select(
            "doc_id", soundex_key(F.col("text"), 5).alias("k")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT row_number() OVER () AS doc_id, "
        "w AS text FROM (SELECT unnest(?) AS w)",
        [words],
    )
    odf = con.execute(entry_mod.oracle_sql()["phonetic_soundex"]).df()
    want = dict(zip(odf["doc_id"], odf["phonetic_key"]))
    assert got == want


# --- G5 + G10 ensemble in the flagship --------------------------------------

def test_resolve_with_mutual_rank_ensemble(spark):
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    docs = generate_documents(spark, "/root/testdata/sf0.001").select(
        *INPUT_COLUMNS
    ).limit(400).localCheckpoint(eager=True)
    cfg = ResolverConfig()
    cfg.clustering.ensemble_mutual_rank = True
    out = resolve_documents(spark, docs, cfg).localCheckpoint(eager=True)
    assert out.count() == docs.count()
    srcs = {r["label_source"] for r in out.select("label_source").distinct().collect()}
    assert srcs <= {0, 1, 2} and 0 in srcs
    # default config keeps the column, constant 0
    out0 = resolve_documents(spark, docs)
    assert {r["label_source"] for r in out0.select("label_source").distinct().collect()} == {0}


def test_score_pairs_returns_exact_rows_only(spark, sf_dir):
    """The scorer's contract on a real corpus slice: with the prefilter and
    the band floor in force it returns exactly the rows of an unfiltered
    run (prefilter 0, floor 0) that pass ``tfidf_cos >= prefilter`` and
    ``partial + jw_share >= floor`` — same pairs, bit-equal signals — for
    the default floor and for floor 0.0, and for the default floor with
    the prefilter off (where the floor alone does the dropping)."""
    import dataclasses

    from gpu_entity_resolver_spark.config import BlockingConfig
    from gpu_entity_resolver_spark.operators.blocking import (
        blocking_plan,
        candidate_pairs,
    )
    from gpu_entity_resolver_spark.operators.scoring import score_pairs

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.lower(F.coalesce("text", F.lit(""))).alias("norm_text"),
        )
        .localCheckpoint(eager=True)
    )
    bcfg = BlockingConfig()
    keys, tokens = blocking_plan(docs, "doc_id", "norm_text", cfg=bcfg)
    pairs = candidate_pairs(keys, bcfg, tokens=tokens).localCheckpoint(
        eager=True
    )
    cols = ["src", "dst", "tfidf_cos", "lev_ratio", "jw", "ph_sim", "score"]

    def rows(scfg):
        out = score_pairs(pairs, docs, cfg=scfg).select(*cols).collect()
        return {(r["src"], r["dst"]): r for r in out}

    base = ScoringConfig()
    unfiltered = rows(
        dataclasses.replace(base, cosine_prefilter=0.0, jw_decision_band=0.0)
    )
    total_w = (
        base.tfidf_weight
        + base.jaro_winkler_weight
        + base.levenshtein_weight
        + base.phonetic_weight
    )
    jw_share = base.jaro_winkler_weight / total_w
    for prefilter, floor in (
        (base.cosine_prefilter, base.jw_decision_band),
        (base.cosine_prefilter, 0.0),
        (0.0, base.jw_decision_band),
    ):
        want = {
            k: r
            for k, r in unfiltered.items()
            if r["tfidf_cos"] >= prefilter
            and (
                base.tfidf_weight * r["tfidf_cos"]
                + base.levenshtein_weight * r["lev_ratio"]
                + base.phonetic_weight * (r["ph_sim"] or 0.0)
            )
            / total_w
            + jw_share
            >= floor
        }
        got = rows(
            dataclasses.replace(
                base, cosine_prefilter=prefilter, jw_decision_band=floor
            )
        )
        assert len(got) > 0 and got.keys() == want.keys()
        for k, r in got.items():
            w = want[k]
            assert (r["tfidf_cos"], r["lev_ratio"], r["jw"]) == (
                w["tfidf_cos"], w["lev_ratio"], w["jw"]
            )
            assert abs(r["score"] - w["score"]) <= 1e-12
    # the last config is not vacuous: the floor alone drops rows
    assert len(got) < len(unfiltered)


def _sketch(text: str, seg: int) -> str:
    """scoring.content_sketch on the driver: the whole text up to 3*seg
    chars, else the first, middle and last ``seg`` chars."""
    n = len(text)
    if n <= 3 * seg:
        return text
    mid = int(n / 2) - seg // 2 - 1
    return text[:seg] + text[mid:mid + seg] + text[n - seg:]


def _metaphone_set(text: str) -> set:
    from gpu_entity_resolver_spark.functions.phonetic import metaphone_series

    return {t for t in metaphone_series(pd.Series([text]))[0].split(" ") if t}


def _reference_rows(inputs, cfg) -> dict:
    """score_pairs' documented contract recomputed on the driver from
    (src, dst, tfidf_cos, text_a, text_b): prefilter on cosine, Levenshtein
    ratio and Metaphone Jaccard per pair, partial = (w_tfidf * cos + w_lev
    * lev_ratio + w_ph * ph) / total_w, keep partial + jw_share >= floor,
    score = partial + jw_share * jw."""
    from gpu_entity_resolver_spark.functions.simfns import (
        jaro_winkler,
        levenshtein_batch,
    )

    seg = cfg.sketch_chars
    rows = [r for r in inputs if r[2] >= cfg.cosine_prefilter]
    a = pd.Series([_sketch(r[3], seg) for r in rows], dtype=object)
    b = pd.Series([_sketch(r[4], seg) for r in rows], dtype=object)
    lev = levenshtein_batch(a, b, max_chars=3 * seg)
    jw = jaro_winkler(a, b, max_chars=3 * seg)
    total_w = (
        cfg.tfidf_weight
        + cfg.jaro_winkler_weight
        + cfg.levenshtein_weight
        + cfg.phonetic_weight
    )
    jw_share = cfg.jaro_winkler_weight / total_w
    want = {}
    for i, (src, dst, cos, text_a, text_b) in enumerate(rows):
        lev_ratio = 1.0 - int(lev[i]) / max(len(a[i]), len(b[i]), 1)
        ph = None
        if cfg.phonetic_weight > 0:
            pa, pb = _metaphone_set(text_a), _metaphone_set(text_b)
            ph = len(pa & pb) / len(pa | pb) if pa | pb else 0.0
        partial = (
            cfg.tfidf_weight * cos
            + cfg.levenshtein_weight * lev_ratio
            + cfg.phonetic_weight * (ph or 0.0)
        ) / total_w
        if partial + jw_share >= cfg.jw_decision_band:
            score = partial + jw_share * float(jw[i])
            want[(src, dst)] = (cos, lev_ratio, float(jw[i]), ph, score)
    return want


def test_score_pairs_matches_driver_reference(spark, sf_dir):
    """score_pairs' kernel against an independent recomputation on the
    driver (levenshtein_batch, jaro_winkler and the documented formula):
    the same pairs and bit-equal values in every column, for the default
    config, floor 0.0, prefilter 0 with the default floor, prefilter 0
    with floor 0, and the entity config (phonetic on), on the corpus slice
    plus an empty and a one-char doc."""
    import dataclasses

    from gpu_entity_resolver_spark.config import BlockingConfig
    from gpu_entity_resolver_spark.operators.blocking import (
        blocking_plan,
        candidate_pairs,
    )
    from gpu_entity_resolver_spark.operators.scoring import score_pairs
    from gpu_entity_resolver_spark.operators.shingles import (
        doc_vector_table,
        pair_cosine_vecs,
    )
    from gpu_entity_resolver_spark.plans.entities import _entity_scoring_config

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower(F.coalesce("text", F.lit(""))).alias("norm_text")
    )
    extra = spark.createDataFrame(
        [(10**6, ""), (10**6 + 1, "a")], "doc_id long, norm_text string"
    )
    docs = corpus.unionByName(extra).localCheckpoint(eager=True)
    texts = {r["doc_id"]: r["norm_text"] for r in docs.collect()}
    bcfg = BlockingConfig()
    keys, tokens = blocking_plan(docs, "doc_id", "norm_text", cfg=bcfg)
    odd = [(10**6, 10**6 + 1)] + [
        (d, e) for d in (0, 1, 2) for e in (10**6, 10**6 + 1)
    ]
    pairs = (
        candidate_pairs(keys, bcfg, tokens=tokens)
        .unionByName(spark.createDataFrame(odd, "src long, dst long"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cols = ["src", "dst", "tfidf_cos", "lev_ratio", "jw", "ph_sim", "score"]
    base = ScoringConfig()
    configs = [
        base,
        dataclasses.replace(base, jw_decision_band=0.0),
        # the default floor alone does the dropping
        dataclasses.replace(base, cosine_prefilter=0.0),
        dataclasses.replace(base, cosine_prefilter=0.0, jw_decision_band=0.0),
        _entity_scoring_config(ResolverConfig()),
    ]
    cosines = {}
    kept = []
    for cfg in configs:
        tfidf = (
            cfg.tfidf_ngram_lo, cfg.tfidf_ngram_hi, cfg.tfidf_min_df,
            cfg.tfidf_top_k,
        )
        if tfidf not in cosines:
            vecs = doc_vector_table(
                docs, n_lo=tfidf[0], n_hi=tfidf[1], min_df=tfidf[2],
                top_k=tfidf[3],
            )
            cosines[tfidf] = [
                (r["src"], r["dst"], r["tfidf_cos"],
                 texts[r["src"]], texts[r["dst"]])
                for r in pair_cosine_vecs(pairs, vecs).collect()
            ]
        want = _reference_rows(cosines[tfidf], cfg)
        got = {
            (r["src"], r["dst"]): tuple(r)[2:]
            for r in score_pairs(pairs, docs, cfg=cfg).select(*cols).collect()
        }
        assert got.keys() == want.keys(), cfg
        bad = [k for k in want if got[k] != want[k]]
        assert not bad, [(k, got[k], want[k]) for k in bad[:5]]
        kept.append(got.keys())
    # not vacuous: the floor drops rows, and with nothing cut the empty and
    # one-char docs are scored
    assert len(kept[2]) < len(kept[3])
    assert set(odd) <= kept[3]


def test_unrolled_dot_equals_fold(spark):
    """r6b: the dim-unrolled codegen dot/norm must be BIT-identical to the
    zip_with/aggregate fold (same left-associative addition order), and the
    CASE guard must route size-mismatched rows to the fold."""
    import random

    from gpu_entity_resolver_spark.operators.similarity import _dot, _norm

    rng = random.Random(99)
    rows = []
    for i in range(500):
        d = 64 if i % 7 else rng.choice([3, 64, 65])  # some mismatched sizes
        rows.append((
            [rng.uniform(-1, 1) for _ in range(d)],
            [rng.uniform(-1, 1) for _ in range(d)],
        ))
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = df.select(
        _dot("a", "b", 64).alias("d"), _norm("a", 64).alias("n")
    ).collect()
    want = df.select(_dot("a", "b").alias("d"), _norm("a").alias("n")).collect()
    assert [(r["d"], r["n"]) for r in got] == [(r["d"], r["n"]) for r in want]
