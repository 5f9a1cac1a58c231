"""Dump the resolve pipeline's INNER stage plans (blocking-pairs, scoring)
to plans/r06/ — the top-level resolve plan is a checkpoint scan, so the
interesting operators live in the per-stage query executions.

Usage: python dump_stage_plans.py <outdir> <suffix>
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.operators.blocking import (
        blocking_plan,
        candidate_pairs,
    )
    from gpu_entity_resolver_spark.operators.scoring import score_pairs
    from gpu_entity_resolver_spark.operators.shingles import (
        doc_vector_table,
        pair_cosine_vecs,
    )
    from gpu_entity_resolver_spark.plans.resolve import prepare_documents
    from gpu_entity_resolver_spark.session import get_spark
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    amplify = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "1"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(app_name=f"stage_plans_{suffix}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    cfg = ResolverConfig()
    docs = generate_documents(spark, sf_dir, amplify=amplify).select(
        *INPUT_COLUMNS
    ).localCheckpoint(eager=True)
    prepared = prepare_documents(docs, cfg)

    def dump(name, df):
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")

    dump("resolve_prepare_stage", prepared)
    prepared_c = prepared.localCheckpoint(eager=False)  # mirror ckpt.stage
    keys, tokens = blocking_plan(prepared_c, "doc_id", "norm_text", cfg=cfg.blocking)
    pairs = candidate_pairs(keys, cfg.blocking, tokens=tokens)
    dump("resolve_pairs_stage", pairs)
    pairs_c = pairs.localCheckpoint(eager=False)  # mirror ckpt.stage
    scfg = cfg.scoring
    from gpu_entity_resolver_spark.operators.scoring import content_sketch

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
    dump(
        "resolve_score_stage",
        score_pairs(pairs_c, prepared_c, "doc_id", "norm_text", scfg),
    )
    # the form the resolve pipeline's 03 stage actually runs since r6b:
    # one linear plan, no approx-branch union, no cos/base barriers
    dump(
        "resolve_score_stage_exact_only",
        score_pairs(
            pairs_c, prepared_c, "doc_id", "norm_text", scfg, exact_only=True
        ),
    )


if __name__ == "__main__":
    main()
