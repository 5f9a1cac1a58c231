"""Dump .explain("formatted") plans as plan evidence for optimization work.

Usage: python dump_plans.py <outdir> <suffix> [queries|stages|all]

``queries`` writes the bench queries' top-level plans. ``stages`` writes
the resolve pipeline's INNER stage plans (prepare, blocking pairs, pair
cosine, scoring, and the 04b hygiene passes attach, consolidate and split
over the stage-04 labels): the top-level resolve plan is a checkpoint scan,
so the interesting operators live in the per-stage query executions.
Default ``all``. Each plan goes to ``<outdir>/<name>_<suffix>.txt``, and
its ``Exchange`` and ``BroadcastExchange`` counts are printed; diff two
suffixes (e.g. before/after) to compare a change. Env:
``SPARK_GRAFT_SF_DIR`` (input scale factor), ``SPARK_GRAFT_AMPLIFY``
(stage corpus amplification, default 1), ``SPARK_GRAFT_CPUS``.
Evidence generation only: not part of the `__spark_entry__` query contract.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "resolve_pipeline",
    "minhash_dedup",
    "simhash",
    "knn_bruteforce",
    "knn_ivf",
    "connected_components",
    "exact_dedup",
    "agg_stats",
    "join_enrich",
    "topk_per_group",
    "dedup_survivors",
    "ngram_jaccard",
    "assign_new",
]


def dump_queries(spark, sf_dir, dump) -> None:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in QUERIES:
        if name not in qs:
            continue
        try:
            dump(name, qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            dump(name, None, f"EXPLAIN FAILED: {exc}")


def dump_stages(spark, sf_dir, dump) -> None:
    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.operators.blocking import (
        blocking_plan,
        candidate_pairs,
    )
    from gpu_entity_resolver_spark.operators.scoring import (
        content_sketch,
        score_pairs,
    )
    from gpu_entity_resolver_spark.operators.shingles import (
        doc_vector_table,
        pair_cosine_vecs,
    )
    from gpu_entity_resolver_spark.operators.hygiene import (
        attach_singletons,
        consolidate_identical_entities,
        split_clusters_by,
    )
    from gpu_entity_resolver_spark.operators.scoring import edges_above_threshold
    from gpu_entity_resolver_spark.plans.resolve import (
        label_clusters,
        prepare_documents,
    )
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    amplify = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "1"))
    cfg = ResolverConfig()
    docs = generate_documents(spark, sf_dir, amplify=amplify).select(
        *INPUT_COLUMNS
    ).localCheckpoint(eager=True)
    prepared = prepare_documents(docs, cfg)
    dump("resolve_prepare_stage", prepared)
    prepared_c = prepared.localCheckpoint(eager=False)  # mirror ckpt.stage
    keys, tokens = blocking_plan(prepared_c, "doc_id", "norm_text", cfg=cfg.blocking)
    pairs = candidate_pairs(keys, cfg.blocking, tokens=tokens)
    dump("resolve_pairs_stage", pairs)
    pairs_c = pairs.localCheckpoint(eager=False)  # mirror ckpt.stage
    scfg = cfg.scoring
    texts = prepared_c.select(
        F.col("doc_id"),
        F.col("norm_text").alias("full_t"),
        content_sketch(F.col("norm_text"), scfg.sketch_chars).alias("t"),
    )
    vecs = doc_vector_table(
        texts, id_col="doc_id", text_col="full_t",
        n_lo=scfg.tfidf_ngram_lo, n_hi=scfg.tfidf_ngram_hi,
        min_df=scfg.tfidf_min_df, top_k=scfg.tfidf_top_k,
    )
    dump("resolve_cos_join", pair_cosine_vecs(pairs_c, vecs))
    scored = score_pairs(pairs_c, prepared_c, "doc_id", "norm_text", scfg)
    dump("resolve_score_stage", scored)
    scored_c = scored.localCheckpoint(eager=False)  # mirror ckpt.stage
    ccfg = cfg.clustering
    # runs connected components: its rounds are eager
    clustered = label_clusters(
        prepared_c,
        edges_above_threshold(scored_c, scfg.edge_threshold),
        ccfg.cc_max_iterations,
    ).localCheckpoint(eager=False)
    # resolve skips attach at the default config (its proof is at the call
    # site); the plan shows what the pass costs where it runs
    dump(
        "resolve_hygiene_attach",
        attach_singletons(
            scored_c.select("src", "dst", "score"),
            clustered,
            tau=ccfg.attachment_similarity_threshold,
            min_matching=ccfg.attachment_min_matching,
            ratio_threshold=ccfg.attachment_ratio_threshold,
        ),
    )
    dump(
        "resolve_hygiene_consolidate",
        consolidate_identical_entities(clustered, "norm_text", "cluster"),
    )
    dump("resolve_hygiene_split", split_clusters_by(clustered, "lang", "cluster"))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    what = sys.argv[3] if len(sys.argv) > 3 else "all"
    if what not in ("queries", "stages", "all"):
        raise SystemExit(f"unknown plan set {what!r}: queries|stages|all")
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    from gpu_entity_resolver_spark.session import get_spark

    spark = get_spark(app_name=f"plans_{suffix}", cpus=cpus, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def dump(name, df, txt=None):
        if txt is None:
            txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        nodes = re.findall(r"^\(\d+\) (\w+)", txt, re.MULTILINE)
        print(
            f"wrote {path} ({len(txt)} bytes): {nodes.count('Exchange')} Exchange,"
            f" {nodes.count('BroadcastExchange')} BroadcastExchange"
        )

    if what in ("queries", "all"):
        dump_queries(spark, sf_dir, dump)
    if what in ("stages", "all"):
        dump_stages(spark, sf_dir, dump)


if __name__ == "__main__":
    main()
