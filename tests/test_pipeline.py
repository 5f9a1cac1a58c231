"""End-to-end pipeline tests (SURVEY.md §5.3): pairwise F1 on the labeled
synthetic web corpus, extraction byte-identity, blocking recall, and
checkpoint/resume."""

import dataclasses
import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import ResolverConfig, with_band_floor
from gpu_entity_resolver_spark.functions.extraction import extract_text_series
from gpu_entity_resolver_spark.operators.blocking import (
    blocking_plan,
    candidate_pairs,
)
from gpu_entity_resolver_spark.plans.resolve import (
    prepare_documents,
    resolve_documents,
)
from gpu_entity_resolver_spark.sources.webgen import (
    INPUT_COLUMNS,
    generate_documents,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    gen = generate_documents(spark, SF_DIR).localCheckpoint(eager=True)
    return gen


@pytest.fixture(scope="module")
def truth(corpus):
    return corpus.select(
        F.xxhash64("url").alias("doc_id"), "entity_id"
    ).localCheckpoint(eager=True)


def test_generator_deterministic_across_parallelism(spark, corpus):
    """FIXTURES.md: generator output is independent of partitioning."""
    again = (
        generate_documents(spark, SF_DIR)
        .repartition(64)
        .select("url", "text", F.md5("html").alias("h"))
    )
    first = corpus.select("url", "text", F.md5("html").alias("h"))
    assert first.exceptAll(again).count() == 0
    assert again.exceptAll(first).count() == 0


def test_extraction_byte_identity(corpus):
    """input_hint invariant: extracted text is byte-identical per url and
    equals the stored ground-truth text where present."""
    pdf = corpus.select("url", "html", "text").toPandas()
    extracted1 = extract_text_series(pdf["html"])
    extracted2 = extract_text_series(pdf["html"].sample(frac=1, random_state=7).sort_index())
    assert (extracted1 == extracted2).all()
    has_truth = pdf["text"].notna()
    assert (extracted1[has_truth] == pdf["text"][has_truth]).all(), (
        "markup noise changed extracted bytes"
    )


def test_blocking_recall(spark, corpus, truth):
    """SURVEY.md §5.1: every labeled duplicate pair shares >= 1 blocking key."""
    cfg = ResolverConfig()
    prep = prepare_documents(corpus.select(*INPUT_COLUMNS), cfg).localCheckpoint(
        eager=True
    )
    # same key families the pipeline uses (MinHash bands + SN prefix)
    keys, tokens = blocking_plan(prep, "doc_id", "norm_text", cfg=cfg.blocking)
    pairs = candidate_pairs(keys, cfg.blocking, tokens=tokens)
    t = truth
    true_pairs = (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.entity_id") == F.col("b.entity_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    n_true = true_pairs.count()
    n_hit = pairs.join(true_pairs, ["src", "dst"], "left_semi").count()
    assert n_hit / n_true >= 0.995, f"blocking recall {n_hit}/{n_true}"


def test_pipeline_f1(spark, corpus, truth):
    """BASELINE.json gate: pairwise F1 >= 0.99 on labeled same-block pairs.
    (We compute all-pairs F1, which is stricter: same-block is a subset.)"""
    resolved = resolve_documents(spark, corpus.select(*INPUT_COLUMNS))
    j = resolved.select("doc_id", "cluster").join(truth, "doc_id")
    pairs = (
        j.alias("a")
        .join(j.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            (F.col("a.cluster") == F.col("b.cluster")).alias("pred"),
            (F.col("a.entity_id") == F.col("b.entity_id")).alias("truth"),
        )
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("pred") & F.col("truth"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("truth"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("truth"), 1).otherwise(0)).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"F1={f1:.4f} (P={precision:.4f} R={recall:.4f})"


def test_checkpoint_resume_after_midwrite_crash(spark):
    """VERDICT r3 #8: a cold kill MID-WRITE leaves a partial stage dir
    (part files present, no _SUCCESS). The rerun must treat that stage as
    uncommitted, rebuild it idempotently over the debris, keep upstream
    committed stages untouched, and build downstream stages normally."""
    from gpu_entity_resolver_spark.sources.checkpoint import CheckpointManager

    workdir = tempfile.mkdtemp(prefix="ckpt_crash_")
    try:
        builds = {"s1": 0, "s2": 0, "s3": 0}

        def run():
            ck = CheckpointManager(spark, workdir)
            d1 = ck.stage("s1", lambda: (builds.__setitem__("s1", builds["s1"] + 1), spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v")))[1])
            d2 = ck.stage("s2", lambda: (builds.__setitem__("s2", builds["s2"] + 1), d1.withColumn("w", F.col("v") + 1))[1])
            return ck.stage("s3", lambda: (builds.__setitem__("s3", builds["s3"] + 1), d2.groupBy((F.col("id") % 10).alias("g")).agg(F.sum("w").alias("sw")))[1])

        out1 = {(r["g"], r["sw"]) for r in run().collect()}
        assert builds == {"s1": 1, "s2": 1, "s3": 1}

        # crash mid-s2-write: drop the commit marker, leave the part files,
        # add orphan debris a killed writer could have left; s3 never ran
        s2 = os.path.join(workdir, "s2")
        os.remove(os.path.join(s2, "_SUCCESS"))
        with open(os.path.join(s2, "part-99999-orphan.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        shutil.rmtree(os.path.join(workdir, "s3"), ignore_errors=True)

        out2 = {(r["g"], r["sw"]) for r in run().collect()}
        # s1 resumed from disk; s2 rebuilt exactly once; s3 rebuilt
        assert builds == {"s1": 1, "s2": 2, "s3": 2}
        assert out2 == out1
        # the rebuild replaced the debris and recommitted
        assert os.path.exists(os.path.join(s2, "_SUCCESS"))
        assert not os.path.exists(os.path.join(s2, "part-99999-orphan.parquet"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _resolved_rows(res):
    """Every output column, one row per doc in doc_id order; floats rounded
    to 6 places and compared within 1e-6, as in the determinism test below."""
    floats = ("avg_pair_score", "name_similarity", "confidence_score")
    return (
        res.select(
            *[F.round(c, 6).alias(c) if c in floats else c for c in res.columns]
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_checkpoint_resume(spark, corpus):
    """North rule: the pipeline resumes from the last committed stage, and
    the resumed run returns the fresh run's rows in every column. Resuming
    after 01, 02, 03 or 04 reruns hygiene (finalize reuses the pre-merge
    election); resuming after 04b takes finalize's full-election path
    instead."""
    workdir = tempfile.mkdtemp(prefix="ckpt_")
    try:
        docs = corpus.select(*INPUT_COLUMNS).limit(300)
        fresh = _resolved_rows(resolve_documents(spark, docs, checkpoint_dir=workdir))
        # committed stages are consulted, lineage rows exist per stage
        lineage = spark.read.parquet(os.path.join(workdir, "_lineage"))
        stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
        assert {"01_normalized", "02_pairs", "03_scored"} <= stages
        # Simulate restarts by removing the stage tables after the last
        # committed one.
        for dropped in (
            ["02_pairs", "03_scored", "04_clusters", "04b_hygiene", "05_resolved"],
            ["03_scored", "04_clusters", "04b_hygiene", "05_resolved"],
            ["04_clusters", "04b_hygiene", "05_resolved"],
            ["04b_hygiene", "05_resolved"],
            ["05_resolved"],
        ):
            for stage in dropped:
                shutil.rmtree(os.path.join(workdir, stage), ignore_errors=True)
            resumed = _resolved_rows(
                resolve_documents(spark, docs, checkpoint_dir=workdir)
            )
            assert len(resumed) == len(fresh) > 0
            pd.testing.assert_frame_equal(
                resumed, fresh, check_exact=False, rtol=0, atol=1e-6, obj=str(dropped)
            )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _edge_config(edge_threshold: float) -> ResolverConfig:
    cfg = ResolverConfig()
    return dataclasses.replace(
        cfg, scoring=dataclasses.replace(cfg.scoring, edge_threshold=edge_threshold)
    )


def _half_and_half(spark, docs, n=40, shift=6):
    """``docs`` plus ``n`` planted pages, each made of the first half of one
    page's words and the start of another's, so that some pairs score
    between 0.40 and the 0.55 floor: with the floor left at 0.55, edge
    0.40 moves 0.5% of the labels."""
    pdf = docs.orderBy("url").limit(n).toPandas()
    words = pdf["text"].fillna("").str.split().tolist()
    pdf["url"] = [f"planted://{i}" for i in range(n)]
    pdf["html"] = None
    pdf["text"] = [
        " ".join(w[: len(w) // 2] + words[(i + shift) % n][: len(w) - len(w) // 2])
        for i, w in enumerate(words)
    ]
    return docs.unionByName(spark.createDataFrame(pdf, schema=docs.schema))


def test_sub_floor_edge_threshold_keeps_its_pairs(spark, corpus):
    """An edge_threshold below the JW band floor (0.55) lowers the floor to
    it, so no pair scoring between the two is dropped before it can become
    an edge: the labels equal those of the same config with no floor."""
    cfg = _edge_config(0.40)
    assert with_band_floor(ResolverConfig(), 0.55, 0.75, 0.82) == ResolverConfig()
    no_floor = dataclasses.replace(
        cfg, scoring=dataclasses.replace(cfg.scoring, jw_decision_band=0.0)
    )
    docs = _half_and_half(spark, corpus.select(*INPUT_COLUMNS))
    got, want = (
        resolve_documents(spark, docs, c)
        .select("doc_id", "cluster")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        for c in (cfg, no_floor)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_attach_is_noop_within_its_bound(spark, corpus):
    """With attachment_min_matching >= 1 and attach tau >= edge_threshold,
    resolve skips attach_singletons: run on the committed 03 scores and 04
    labels, the pass returns the 04 labels unchanged."""
    from gpu_entity_resolver_spark.operators.hygiene import attach_singletons

    docs = corpus.select(*INPUT_COLUMNS)
    # At the default every scored pair is an edge (03 keeps rows at or above
    # the 0.55 band floor), so no pair touches a singleton. At 0.82, the
    # bound's edge (tau == edge_threshold), pairs in [0.55, 0.82) do, and
    # the pass has singletons with neighbours to look at.
    for edge in (0.55, 0.82):
        cfg = _edge_config(edge)
        ccfg = cfg.clustering
        assert ccfg.attachment_min_matching >= 1
        assert ccfg.attachment_similarity_threshold >= edge
        workdir = tempfile.mkdtemp(prefix="ckpt_attach_")
        try:
            resolve_documents(spark, docs, cfg, checkpoint_dir=workdir)
            scored = spark.read.parquet(os.path.join(workdir, "03_scored"))
            labels = spark.read.parquet(
                os.path.join(workdir, "04_clusters")
            ).select("doc_id", "cluster")
            sizes = labels.groupBy("cluster").count()
            singles = labels.join(sizes.where("count = 1"), "cluster").select("doc_id")
            touching = scored.join(
                singles.withColumnRenamed("doc_id", "src"), "src", "left_semi"
            ).unionByName(
                scored.join(
                    singles.withColumnRenamed("doc_id", "dst"), "dst", "left_semi"
                )
            )
            assert (touching.count() > 0) == (edge > 0.55), edge
            attached = attach_singletons(
                scored.select("src", "dst", "score"),
                labels,
                tau=ccfg.attachment_similarity_threshold,
                min_matching=ccfg.attachment_min_matching,
                ratio_threshold=ccfg.attachment_ratio_threshold,
            )
            diff = attached.withColumnRenamed("cluster", "got").join(
                labels, "doc_id", "full_outer"
            ).where("got IS DISTINCT FROM cluster")
            assert diff.count() == 0, edge
        finally:
            shutil.rmtree(workdir, ignore_errors=True)


def test_attach_runs_outside_its_bound(spark, corpus, monkeypatch):
    """Above tau (edge_threshold 0.9 > 0.82) an attach can move a doc, so
    resolve calls the pass; at the defaults it does not."""
    from gpu_entity_resolver_spark.operators import hygiene

    calls = []
    attach = hygiene.attach_singletons

    def counting(*args, **kwargs):
        calls.append(1)
        return attach(*args, **kwargs)

    monkeypatch.setattr(hygiene, "attach_singletons", counting)
    docs = corpus.select(*INPUT_COLUMNS).limit(100)
    resolve_documents(spark, docs, _edge_config(0.9))
    assert len(calls) == 1
    resolve_documents(spark, docs)
    assert len(calls) == 1


def test_resolve_spreads_its_input_once(spark, corpus, monkeypatch):
    """resolve_documents passes its input through the package's one
    small-input rule, once."""
    from gpu_entity_resolver_spark.plans import resolve

    seen = []
    spread = resolve.spread_input

    def counting(df):
        seen.append(df)
        return spread(df)

    monkeypatch.setattr(resolve, "spread_input", counting)
    docs = corpus.select(*INPUT_COLUMNS).limit(100)
    resolve_documents(spark, docs)
    assert len(seen) == 1 and seen[0] is docs


def test_resolve_deterministic_across_parallelism(spark, corpus):
    """North-rule invariant, end to end: the RESOLVED output — cluster
    partition, canonical text, review flags — is identical no matter how
    the input is partitioned. Every ordering the pipeline relies on is
    explicit (xxhash salting, rank windows with doc_id tie-breaks,
    min-based CC labels, deterministic election), so repartitioning the
    input must not move a single document. Float aggregates
    (avg_pair_score, confidence) are compared rounded: their summation
    ORDER legitimately varies with partitioning."""
    docs = corpus.select(*INPUT_COLUMNS)
    outs = []
    for nparts in (3, 29):
        res = resolve_documents(spark, docs.repartition(nparts))
        outs.append(
            res.select(
                "doc_id",
                "cluster",
                "canonical_text",
                "cluster_size",
                "needs_review",
                F.round("confidence_score", 6).alias("conf6"),
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    a, b = outs
    assert len(a) == len(b)
    # identical cluster PARTITION (labels are min-vertex ids — comparable
    # directly), identical canonicals, identical flags
    for col in ("cluster", "canonical_text", "cluster_size", "needs_review"):
        assert a[col].equals(b[col]), col
    assert (a["conf6"] - b["conf6"]).abs().max() <= 1e-6
