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
def test_score_pairs_runs_levenshtein_once(spark, entity):
    """The Levenshtein UDF feeds both the JW band filter and the output
    projection; the plan must evaluate it in one ArrowEvalPython node, not
    once under the filter and again over the kept rows."""
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
    nodes = [
        ln for ln in _final_plan(score_pairs(pairs, docs, cfg=cfg)).splitlines()
        if "ArrowEvalPython" in ln
    ]
    assert sum("lev(" in ln for ln in nodes) == 1, nodes
    assert sum("jw(" in ln for ln in nodes) == 1, nodes
