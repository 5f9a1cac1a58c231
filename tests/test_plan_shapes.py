"""Physical-plan shape guards: the properties that make the headline
queries survive a 100x scale-up must stay visible in `.explain` output —
broadcast joins stay broadcast, filters reach the parquet scan, column
pruning holds (a scan reading 16 columns for a 3-column query is a
regression), and nothing degenerates into a CartesianProduct."""

import io
import contextlib

import pytest

import __spark_entry__ as entry_mod


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_join_enrich_broadcasts_and_pushes_down(spark, sf_dir):
    s = _explain(entry_mod.queries()["join_enrich"](spark, sf_dir))
    assert "BroadcastHashJoin" in s, "small-dim join must broadcast"
    assert "PushedFilters: [IsNotNull(l_partkey)]" in s
    # column pruning: the fact scan reads only the 3 needed columns
    assert (
        "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,"
        "l_discount:double>" in s
    )


def test_exact_dedup_prunes_columns(spark, sf_dir):
    s = _explain(entry_mod.queries()["exact_dedup"](spark, sf_dir))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in s


@pytest.mark.parametrize(
    "name",
    ["join_enrich", "exact_dedup", "topk_per_group", "agg_stats",
     "value_counts", "anti_semi", "minmax_range"],
)
def test_no_cartesian_product(spark, sf_dir, name):
    assert "CartesianProduct" not in _explain(
        entry_mod.queries()[name](spark, sf_dir)
    )


def _final_plan(df) -> str:
    """The physical plan that ran: with AQE on, the adaptive root's final
    plan, not the initial one it also prints."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


@pytest.mark.parametrize("entity", [False, True], ids=["corpus", "entity"])
def test_score_pairs_runs_one_python_pass(spark, entity):
    """Phase 2 of score_pairs (Levenshtein, the JW band gate and
    Jaro-Winkler) runs in one mapInPandas kernel over the cosine
    survivors: the final plan holds exactly one MapInPandas node for it
    and no lev/jw ArrowEvalPython node. The only ArrowEvalPython allowed
    is the entity case's per-doc Metaphone encoding."""
    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.operators.scoring import score_pairs
    from gpu_entity_resolver_spark.plans.entities import _entity_scoring_config

    # the entity plan scores with the phonetic signal on and band floor 0.0
    cfg = (
        _entity_scoring_config(ResolverConfig()) if entity
        else ResolverConfig().scoring
    )
    docs = spark.createDataFrame(
        list(enumerate([
            "acme corporation main street", "acme corp main st",
            "acme corporation main st", "zebra holdings", "zebra holding co",
        ])),
        "doc_id long, norm_text string",
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)], "src long, dst long"
    )
    lines = _final_plan(score_pairs(pairs, docs, cfg=cfg)).splitlines()
    evals = [ln for ln in lines if "ArrowEvalPython" in ln]
    assert all("metaphone_udf(" in ln for ln in evals), evals
    assert entity == bool(evals), evals
    maps = [ln for ln in lines if "MapInPandas" in ln]
    assert len(maps) == 1 and "score_sketch_pairs(" in maps[0], maps


def _executions(spark) -> list:
    """(id, execution record) of each SQL execution so far, once the
    listener bus has delivered the AQE final-plan updates."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [(e.executionId(), e) for e in (ex.apply(i) for i in range(ex.size()))]


def _assign_inputs(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def batch_marker(s: pd.Series) -> pd.Series:
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
        "acme widget company main street springfield annex",
    ]
    batch = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, raw string"
    ).select("doc_id", batch_marker("raw").alias("norm_text"))
    return batch, canon


def test_assign_batch_rebalanced_under_its_barrier(spark):
    """assign_new_documents rebalances the batch inside its barrier, so
    AQE can coalesce a small batch to one partition and each Python pass
    over it starts one worker, not one per inherited partition."""
    from gpu_entity_resolver_spark.operators.hygiene import assign_new_documents

    batch, canon = _assign_inputs(spark)
    before = max((eid for eid, _ in _executions(spark)), default=-1)
    assign_new_documents(spark, batch.repartition(8), canon).collect()
    plans = [
        e.physicalPlanDescription() for eid, e in _executions(spark)
        if eid > before and e.description().startswith("localCheckpoint")
    ]
    barriers = [plan for plan in plans if "batch_marker(" in plan]
    assert len(barriers) == 1, barriers
    (plan,) = barriers
    assert "REBALANCE_PARTITIONS" in plan, plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert "AQEShuffleRead" in final, plan


def test_assign_rows_invariant_to_batch_partitioning(spark):
    from gpu_entity_resolver_spark.operators.hygiene import assign_new_documents

    batch, canon = _assign_inputs(spark)
    cols = ["doc_id", "cluster", "match_score", "is_new_entity"]
    spread, single = (
        sorted(
            tuple(r) for r in
            assign_new_documents(spark, b, canon).select(*cols).collect()
        )
        for b in (batch.repartition(8), batch.coalesce(1))
    )
    assert spread == single
    assert any(not r[3] for r in spread) and any(r[3] for r in spread)


def test_prepare_documents_runs_one_python_node(spark):
    """Extraction and normalization run in one ArrowEvalPython node: the
    normalize UDF reads the extraction UDF directly, so Spark chains them
    into one Python runner per partition (a CASE between them would split
    them into two nodes)."""
    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.plans.resolve import prepare_documents

    docs = spark.createDataFrame(
        [
            ("http://t/1", None, b"<p>Acme Corp</p>", None, "en"),
            ("http://t/2", None, None, "Zebra Holdings LLC", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    nodes = [
        ln for ln in
        _final_plan(prepare_documents(docs, ResolverConfig())).splitlines()
        if "ArrowEvalPython" in ln
    ]
    assert len(nodes) == 1, nodes


def test_normalize_stream_extracts_once(spark):
    """normalize_stream outputs the body and normalizes it: the plan must
    run the extraction UDF once per row, not a second time chained under
    the normalizer."""
    from gpu_entity_resolver_spark.streaming.incremental import normalize_stream

    docs = spark.createDataFrame(
        [
            ("http://t/1", None, b"<p>Acme Corp</p>", None, "en"),
            ("http://t/2", None, None, "Zebra Holdings LLC", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    plan = _final_plan(normalize_stream(docs))
    assert plan.count("extract_text_udf(") == 1, plan
