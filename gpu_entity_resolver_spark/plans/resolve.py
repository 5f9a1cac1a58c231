"""The flagship end-to-end resolve pipeline (SURVEY.md §7.1):

documents(url, warc_ts, html, text, lang)
  1 EXTRACT+NORMALIZE  byte-identical html→text UDF chained into the
                       P1 normalization UDF (one Arrow runner);
                       doc_id = xxhash64(url)
  2 BLOCK              MinHash-LSH bands ∪ sorted-neighborhood keys
                       (blocking_plan), hot blocks salted
  3 SCORE              TF-IDF-cosine (JVM join) + Levenshtein and
                       Jaro-Winkler (Arrow UDFs over numpy kernels);
                       weighted; threshold τ
  4 CLUSTER            large-star/small-star connected components
  5 FINALIZE           canonical election (V11), per-cluster stats,
                       confidence (C10 shape), review flags (C11)

Each stage optionally checkpoints to a parquet stage table with lineage
rows (CheckpointManager) so a killed run resumes after the last committed
stage. Stage order mirrors the reference's ``_process_pipeline``
(resolver.py:1552-1642).

``plans/entities.py`` imports the steps both plans run from here:
:func:`label_clusters`, :func:`mean_incident_score`, :func:`cohesion_scores`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ResolverConfig, with_band_floor
from ..functions.extraction import extracted_text
from ..functions.normalize import confidence_bin, normalize_entity_text
from ..operators.blocking import blocking_plan, candidate_pairs
from ..operators.canonical import canonical_map
from ..operators.connected_components import connected_components
from ..operators.scoring import edges_above_threshold, make_jw_udf, score_pairs
from ..sources.checkpoint import CheckpointManager
from ..util import spread_input


def _cluster_sig(members: DataFrame) -> DataFrame:
    """Per-cluster membership signature: (count, bit_xor of doc_id hashes).

    Two clusters carry equal signatures iff their member sets are identical
    (xor collision odds are 2^-64 per pair; a collision's only consequence is
    reusing a stale canonical text, never a partition change). One map-side
    partial agg, O(clusters) output — the cheap test that lets the finalize
    stage skip re-electing canonicals for clusters hygiene never touched."""
    return members.groupBy("cluster").agg(
        F.count("*").alias("_sig_n"),
        F.bit_xor(F.xxhash64("doc_id")).alias("_sig_x"),
    )


def label_clusters(docs: DataFrame, edges: DataFrame, max_iterations: int) -> DataFrame:
    """``docs`` plus ``cluster``: each doc's connected-component label over
    ``edges``, or its own doc_id when no edge touches it."""
    labels = connected_components(edges, max_iterations=max_iterations)
    return docs.join(
        labels.withColumnsRenamed({"vertex": "doc_id", "component": "cluster"}),
        "doc_id",
        "left",
    ).withColumn("cluster", F.coalesce("cluster", "doc_id"))


def mean_incident_score(edges: DataFrame, out_col: str) -> DataFrame:
    """(doc_id, out_col): mean score of each doc's incident edges — the
    cluster_probability analog (reference HDBSCAN probabilities,
    resolver.py:450 → SURVEY G7)."""
    return (
        edges.select(F.col("src").alias("doc_id"), "score")
        .unionByName(edges.select(F.col("dst").alias("doc_id"), "score"))
        .groupBy("doc_id")
        .agg(F.avg("score").alias(out_col))
    )


def cohesion_scores(rows: DataFrame, cluster_col: str) -> DataFrame:
    """(cluster_col, cohesion_score): 1 - std of the members'
    ``name_similarity`` clamped to [0, 1], 1 for a single member (reference
    resolver.py:1113-1120)."""
    return rows.groupBy(cluster_col).agg(
        F.coalesce(F.stddev_samp("name_similarity"), F.lit(0.0)).alias("_nv")
    ).withColumn(
        "cohesion_score",
        F.least(F.greatest(1.0 - F.col("_nv"), F.lit(0.0)), F.lit(1.0)),
    ).drop("_nv")


def prepare_documents(docs: DataFrame, cfg: ResolverConfig) -> DataFrame:
    """Stage 1: extraction + normalization + stable doc ids.

    Emits ONLY the columns later stages consume (doc_id, url, lang,
    norm_text). The raw ``body_text`` (~2 KB/doc) and ``warc_ts`` used to
    ride every stage checkpoint, hygiene join and the finalize chain even
    though nothing after this stage reads them — at 128 k docs that was
    ~300 MB of dead weight per materialization (guide §2.3: project before
    the exchange; §8: don't carry payload the decisions never touch).
    The normalize UDF reads the extraction UDF directly, so Spark chains
    the two into one Arrow runner per partition, not two."""
    body = extracted_text(F.col("html"), F.col("text"))
    # doc_id is a 64-bit hash of the url: n distinct urls give about
    # n^2 / 2^65 expected colliding pairs, ~2.7 at 10^10 docs and ~27k at
    # 10^12. Two urls that collide share one doc_id.
    return docs.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        "lang",
        normalize_entity_text(
            body, cfg.replacements, cfg.suffixes_to_remove
        ).alias("norm_text"),
    )


def resolve_documents(
    spark: SparkSession,
    docs: DataFrame,
    cfg: ResolverConfig | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Resolve a documents table into entity clusters.

    Returns one row per input document:
    (doc_id, url, cluster, canonical_text, cluster_size, avg_pair_score,
     name_similarity, confidence_score, confidence_category, needs_review,
     review_reason).
    """
    cfg = cfg or ResolverConfig()
    ccfg = cfg.clustering
    # Every threshold the stage-03 scores are compared against: the edges,
    # merge's centroid prefilter, attach tau (a skipped attach pass has tau
    # >= edge_threshold, so listing it then lowers nothing) and the
    # ensemble recall path.
    cfg = with_band_floor(
        cfg,
        cfg.scoring.edge_threshold,
        *([ccfg.centroid_similarity_threshold] if ccfg.merge_similar else []),
        *([ccfg.attachment_similarity_threshold] if ccfg.attach_noise else []),
        *([ccfg.ensemble_recall_threshold] if ccfg.ensemble_mutual_rank else []),
    )
    ckpt = CheckpointManager(spark, checkpoint_dir or cfg.runtime.checkpoint_dir)

    # Stage 1 (extraction UDF + normalization) is narrow, so it inherits the
    # INPUT partitioning: a handful of small files would serialize the most
    # expensive per-row work. spread_input spreads only a small file scan.
    docs = spread_input(docs)

    prepared = ckpt.stage("01_normalized", lambda: prepare_documents(docs, cfg))

    # Host keys are deliberately NOT in the default key set: MinHash bands +
    # sorted-neighborhood already block every textual duplicate (measured
    # 100% labeled-pair recall), while Zipf-hot hosts contributed ~80% of
    # candidate pairs with no additional recall. Pass blocking_plan a
    # url_col for URL-duplicate-specific workloads.
    def build_pairs() -> DataFrame:
        keys, tokens = blocking_plan(
            prepared, "doc_id", "norm_text", cfg=cfg.blocking
        )
        return candidate_pairs(keys, cfg.blocking, tokens=tokens)

    pairs = ckpt.stage("02_pairs", build_pairs)

    # score_pairs returns exact rows only. Every consumer below thresholds
    # at or above the band floor (it is lowered to the lowest of them
    # above), so the dropped candidates — ~95% of the volume — never reach
    # the stage table.
    scored = ckpt.stage(
        "03_scored",
        lambda: score_pairs(pairs, prepared, "doc_id", "norm_text", cfg.scoring),
    )
    edges = edges_above_threshold(scored, cfg.scoring.edge_threshold)

    clustered = ckpt.stage(
        "04_clusters",
        lambda: label_clusters(prepared, edges, cfg.clustering.cc_max_iterations),
    )

    def build_hygiene() -> DataFrame:
        from ..operators.hygiene import (
            attach_singletons,
            consolidate_identical_entities,
            ensemble_labels,
            merge_similar_clusters,
            split_clusters_by,
        )

        out = clustered
        ccfg = cfg.clustering
        if ccfg.ensemble_mutual_rank:
            # G5+G10: labeling B = CC over the mutual-rank kNN graph built
            # from sub-threshold scored pairs (reference SNN recall path,
            # utils.py:400-469); arbitration keeps the precise CC labels as
            # the core and rescues/mints from B (resolver.py:2157-2278).
            from ..operators.knn_graph import mutual_rank_edges

            recall_edges = mutual_rank_edges(
                scored.where(
                    F.col("score") >= ccfg.ensemble_recall_threshold
                ).select("src", "dst", "score"),
                k=ccfg.mutual_rank_k,
            )
            b_full = label_clusters(
                out.select("doc_id"), recall_edges, ccfg.cc_max_iterations
            )
            ens = ensemble_labels(out.select("doc_id", "cluster"), b_full)
            out = out.drop("cluster").join(ens, "doc_id")
        # G8 rescues singletons with a strong, unambiguous signal from the
        # stage-03 scores (reference utils.py:473-545, whose top-k
        # neighborhood crowds out the pairs score_pairs drops). On the CC
        # labels it cannot move a doc when min_matching >= 1 and tau >=
        # edge_threshold (defaults 2 and 0.82 >= 0.55): an attach needs
        # _n_tau >= min_matching >= 1 scored (singleton, member) pairs
        # >= tau >= edge_threshold. Each is an edge; connected_components
        # raises unless it converged, so the endpoints share a label and the
        # doc was never a singleton. With the ensemble on, the labels come
        # from ensemble_labels and the pass runs.
        attach_can_move = (
            ccfg.ensemble_mutual_rank
            or ccfg.attachment_min_matching < 1
            or ccfg.attachment_similarity_threshold < cfg.scoring.edge_threshold
        )
        if ccfg.attach_noise and attach_can_move:
            out = attach_singletons(
                scored.select("src", "dst", "score"),
                out,
                tau=ccfg.attachment_similarity_threshold,
                min_matching=ccfg.attachment_min_matching,
                ratio_threshold=ccfg.attachment_ratio_threshold,
            )
        if out is not clustered:
            # Barrier: the elections, merge, consolidate and split all read
            # `out`; without it each read reruns the ensemble/attach plan.
            out = out.localCheckpoint(eager=False)
        if ccfg.merge_similar:
            # Finalize reuses the pre-merge election for every cluster
            # hygiene leaves untouched (on the benchmark corpora hygiene
            # moves no doc), so the full-corpus collect_list shuffle +
            # election runs ONCE per job. Eager localCheckpoints pin both
            # frames. Session-local only: resuming from a committed 04b
            # skips this closure and finalize runs a full election.
            canon0 = canonical_map(out, "cluster", "norm_text").localCheckpoint(
                eager=True
            )
            _election_reuse["canon0"] = canon0
            _election_reuse["sig0"] = _cluster_sig(out).localCheckpoint(eager=True)
            out = merge_similar_clusters(out, canon0, cfg)
        if ccfg.consolidate_identical:
            out = consolidate_identical_entities(out, "norm_text", "cluster")
        if ccfg.split_by_lang:
            out = split_clusters_by(out, "lang", "cluster")
        return out

    _election_reuse: dict[str, DataFrame] = {}
    clustered = ckpt.stage("04b_hygiene", build_hygiene)

    def build_resolved() -> DataFrame:
        canon0 = _election_reuse.get("canon0")
        sig0 = _election_reuse.get("sig0")
        if canon0 is not None:
            # Incremental re-election: a final cluster whose id AND
            # membership signature match the pre-merge state elected the
            # same canonical text — reuse it. Only clusters hygiene
            # actually touched (absent id or changed signature) pay the
            # collect_list + election again.
            unchanged = (
                _cluster_sig(clustered)
                .join(sig0, ["cluster", "_sig_n", "_sig_x"])
                .select("cluster")
                .localCheckpoint(eager=True)
            )
            canon = canon0.join(unchanged, "cluster", "leftsemi").unionByName(
                canonical_map(
                    clustered.join(unchanged, "cluster", "left_anti"),
                    "cluster",
                    "norm_text",
                )
            )
        else:
            canon = canonical_map(clustered, "cluster", "norm_text")
        jw = make_jw_udf(64)
        out = (
            clustered.join(canon, "cluster")
            .join(mean_incident_score(edges, "avg_pair_score"), "doc_id", "left")
            .withColumn("avg_pair_score", F.coalesce("avg_pair_score", F.lit(1.0)))
            .withColumn("name_similarity", jw("norm_text", "canonical_text"))
            .localCheckpoint(eager=False)
        )
        out = out.join(cohesion_scores(out, "cluster"), "cluster")
        # C10-shaped confidence: weighted sum of name similarity, cluster
        # probability, log-size factor and cohesion
        # (reference resolver.py:1086-1173; address terms are absent for the
        # web-page payload, weights renormalized accordingly).
        c = cfg.confidence
        wsum = (
            c.name_similarity_weight
            + c.avg_cluster_prob_weight
            + c.cluster_size_weight
            + c.cohesion_weight
        )
        size_factor = F.least(
            F.log(F.col("cluster_size").cast("double") + 1.0) / F.lit(3.5), F.lit(1.0)
        )
        conf = (
            c.name_similarity_weight * F.col("name_similarity")
            + c.avg_cluster_prob_weight * F.col("avg_pair_score")
            + c.cluster_size_weight * size_factor
            + c.cohesion_weight * F.col("cohesion_score")
        ) / F.lit(wsum)
        # Noise analog: singletons get 0.5 x name_similarity floor like the
        # reference's noise rule (resolver.py:1154-1160).
        conf = F.when(F.col("cluster_size") == 1, F.lit(0.5)).otherwise(conf)
        out = (
            out.withColumn(
                "confidence_score", F.least(F.greatest(conf, F.lit(0.0)), F.lit(1.0))
            )
            .withColumn("confidence_category", confidence_bin(F.col("confidence_score")))
        )
        # C11 review flags (reference resolver.py:1199-1227): OR-combined
        # masks with a csv reason string built from an array of fired rules.
        reasons = F.array_compact(
            F.array(
                F.when(
                    F.col("confidence_score") < c.review_confidence_threshold,
                    F.lit("low_confidence"),
                ),
                F.when(
                    (F.col("cluster_size") == 1)
                    & (F.col("name_similarity") < 1.0),
                    F.lit("singleton_changed"),
                ),
                F.when(
                    F.col("name_similarity") < 1.0 - c.review_change_threshold,
                    F.lit("high_change"),
                ),
            )
        )
        label_source = (
            F.col("label_source")
            if "label_source" in clustered.columns
            else F.lit(0)
        )
        return out.select(
            "doc_id",
            "url",
            "cluster",
            "norm_text",
            "canonical_text",
            "cluster_size",
            "avg_pair_score",
            "name_similarity",
            "confidence_score",
            "confidence_category",
            label_source.cast("int").alias("label_source"),
            (F.size(reasons) > 0).alias("needs_review"),
            F.array_join(reasons, ",").alias("review_reason"),
        )

    return ckpt.stage("05_resolved", build_resolved)
