"""Reference-shaped public API: ``EntityResolver`` over (company_name,
address) tables — the reference's actual domain (reference README.md:47-80,
resolver.py:38). A user of ``andrewjordan3/gpu-entity-resolver`` can switch
to this class and run the same ``fit_transform`` / ``fit`` / ``transform`` /
``save_model`` / ``load_model`` / ``generate_report`` /
``get_review_dataframe`` calls.

Differences by design (Spark-first, per SURVEY.md):
- clustering is blocking -> pairwise scoring -> connected components instead
  of UMAP/HDBSCAN/SNN (north rule), with the reference's validation
  semantics kept where they are relational: state compatibility (C4,
  resolver.py:2653-2678) gates every edge;
- "fitted state" is a canonical-map table + config, not pickled models
  (SURVEY.md §3.3): save/load round-trips through parquet + JSON.

A fit runs five stages on the same stage driver as ``resolve_documents``
(``CheckpointManager.stage``) and shares its CC labeling, incident-edge
mean and cohesion steps (``plans/resolve.py``):

  e01_prepared  normalize names, parse addresses; C1 + C2 consolidation
  e02_edges     block, score, C4 state gate, ``entity_threshold``
  e03_clusters  connected-components labels
  e04_hygiene   C3 validate/reassign, C5 merge, C6 consolidate
  e05_resolved  rows, C7 enrichment, state and street-number splits,
                canonical table, confidence and review flags

The ``e`` prefix keeps these tables apart from the resolve plan's when both
use one checkpoint directory.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ResolverConfig, ScoringConfig
from ..functions.address import parsed_address
from ..functions.normalize import (
    address_key,
    address_score,
    confidence_bin,
    normalize_entity_text,
)
from ..operators.blocking import blocking_plan, candidate_pairs
from ..operators.canonical import canonical_map
from ..operators.scoring import make_jw_udf, score_pairs
from ..sources.checkpoint import CheckpointManager
from .resolve import cohesion_scores, label_clusters, mean_incident_score


def _entity_scoring_config(cfg: ResolverConfig) -> ScoringConfig:
    """Entity names are short strings: reference-faithful char (3,5) grams
    (config.py:57-64) and name-weighted fuzzy signals."""
    return dataclasses.replace(
        cfg.scoring,
        tfidf_ngram_lo=3,
        tfidf_ngram_hi=5,
        tfidf_weight=0.40,
        jaro_winkler_weight=0.35,
        levenshtein_weight=0.25,
        # V2: phonetic stream at the reference's 15% energy
        # (config.py:117-124) — misspellings beyond shingle reach
        # ("jonsen"/"johnson") still score
        phonetic_weight=0.15,
        cosine_prefilter=0.15,
        # JW carries 35% of the entity score: floor 0.0 scores every
        # cosine survivor with it
        jw_decision_band=0.0,
    )


class _hybridmethod:
    """Descriptor making a method callable BOTH as a classmethod and on an
    instance. The reference exposes ``load_model`` as a classmethod
    (``EntityResolver.load_model(path)``, resolver.py:1439-1440); the Spark
    port also supports the instance form so callers can inject a session
    (``EntityResolver(spark=...).load_model(path)``). Class-form calls get
    a fresh default-constructed instance (lazy session)."""

    def __init__(self, fn):
        self.fn = fn
        self.__doc__ = fn.__doc__

    def __get__(self, obj, objtype=None):
        import functools

        if obj is not None:
            return functools.partial(self.fn, obj)

        # Defer default construction to CALL time: merely referencing
        # EntityResolver.load_model (introspection, help(), hasattr)
        # must not construct an instance.
        @functools.wraps(self.fn)
        def class_form(*args, **kwargs):
            return self.fn(objtype(), *args, **kwargs)

        return class_form


class EntityResolver:
    """Drop-in analog of the reference ``EntityResolver`` (resolver.py:38).

    With ``config.runtime.checkpoint_dir`` set, each fit stage (see the
    module docstring) commits a parquet table there, and a fit resumes after
    the last committed stage. As with ``resolve_documents``, the stage
    tables belong to ONE run: a committed stage is read back whatever the
    input, so fit a different table against a fresh directory. Without a
    directory each stage is a lazy ``localCheckpoint``."""

    def __init__(
        self,
        config: ResolverConfig | None = None,
        spark: SparkSession | None = None,
        # name+address pairs merge at a lower bar than web documents: the
        # reference accepts e.g. "Midwest Waste Services"/"Midwest Waste"
        # (README.md:74-80), which scores ~0.68 under this scorer; precision
        # comes from blocking + the C4 state gate.
        entity_threshold: float = 0.65,
    ):
        self.config = config or ResolverConfig()
        self._spark = spark
        self.entity_threshold = entity_threshold
        self.canonical_map_: DataFrame | None = None
        self.resolved_: DataFrame | None = None
        self._is_fitted = False

    # -- session ------------------------------------------------------------
    def _session(self) -> SparkSession:
        if self._spark is None:
            from ..session import get_spark

            self._spark = get_spark()
        return self._spark

    # -- public API (reference README.md:68-72) ------------------------------
    def fit_transform(self, df, entity_col: str = "company_name",
                      address_col: str = "address"):
        """Resolve a table; returns same type as input (pandas or Spark)."""
        was_pandas = isinstance(df, pd.DataFrame)
        spark = self._session()
        sdf = spark.createDataFrame(df) if was_pandas else df
        resolved = self._resolve(sdf, entity_col, address_col)
        self.resolved_ = resolved.localCheckpoint(eager=True)
        self.canonical_map_ = (
            self.resolved_.select(
                "final_cluster",
                F.col("canonical_name"),
                F.col("canonical_address"),
                F.col("canonical_state"),
            ).dropDuplicates(["final_cluster"])
        ).localCheckpoint(eager=True)
        self._is_fitted = True
        out = self.resolved_
        return out.toPandas() if was_pandas else out

    def fit(self, df, **kw):
        self.fit_transform(df, **kw)
        return self

    def transform(self, df, entity_col: str = "company_name",
                  address_col: str = "address"):
        """Assign NEW records against the fitted canonical map (C13)."""
        assert self._is_fitted, "call fit/fit_transform or load_model first"
        from ..operators.hygiene import assign_new_documents

        was_pandas = isinstance(df, pd.DataFrame)
        spark = self._session()
        sdf = spark.createDataFrame(df) if was_pandas else df
        # `new` (into assign) and `out` both read prep: the barrier runs the
        # normalize and address-parse UDFs once
        prep = self._prepare(sdf, entity_col, address_col).localCheckpoint(
            eager=False
        )
        new = prep.select(
            F.xxhash64("normalized_text", "addr_normalized_key").alias("doc_id"),
            F.concat_ws(" ", "normalized_text", "addr_normalized_key").alias(
                "norm_text"
            ),
        ).dropDuplicates(["doc_id"])
        canon = self.canonical_map_.select(
            F.col("final_cluster").alias("cluster"),
            F.concat_ws(
                " ",
                F.lower("canonical_name"),
                F.lower(F.coalesce("canonical_address", F.lit(""))),
            ).alias("canonical_text"),
        )
        cfg = dataclasses.replace(self.config, scoring=_entity_scoring_config(self.config))
        assigned = assign_new_documents(spark, new, canon, cfg)
        out = (
            prep.withColumn(
                "doc_id",
                F.xxhash64("normalized_text", "addr_normalized_key"),
            )
            .join(assigned, "doc_id", "left")
            .join(
                self.canonical_map_.withColumnsRenamed(
                    {"final_cluster": "cluster"}
                ),
                "cluster",
                "left",
            )
            .withColumn("is_new_entity", F.coalesce("is_new_entity", F.lit(True)))
        )
        # C13 assignment validation (reference _validate_assignments,
        # resolver.py:2280-2332): evict matches whose address similarity or
        # state conflicts with the assigned cluster's canonical profile.
        from ..operators.validate import state_compatible

        ccfg = self.config.clustering
        jw = make_jw_udf(64)
        nonempty = lambda c: F.col(c).isNotNull() & (F.col(c) != "")  # noqa: E731
        addr_fail = (
            nonempty("addr_normalized_key")
            & nonempty("canonical_address")
            & (
                jw("addr_normalized_key", F.lower(F.col("canonical_address")))
                < ccfg.addr_match_threshold
            )
        )
        if "canonical_state" in out.columns:
            state_fail = ~state_compatible(
                F.col("addr_state"),
                F.col("canonical_state"),
                ccfg.allow_neighboring_states,
            )
        else:  # models saved before canonical_state existed
            state_fail = F.lit(False)
        evict = ~F.col("is_new_entity") & (addr_fail | state_fail)
        out = (
            out.withColumn("is_new_entity", F.col("is_new_entity") | evict)
            .withColumn(
                "cluster",
                F.when(evict, F.lit(None).cast("long")).otherwise(F.col("cluster")),
            )
            .withColumn(
                "match_score",
                F.when(evict, F.lit(0.0)).otherwise(F.col("match_score")),
            )
            .withColumn(
                "canonical_name",
                F.when(evict, F.lit(None).cast("string")).otherwise(
                    F.col("canonical_name")
                ),
            )
            .withColumn(
                "canonical_name",
                F.coalesce("canonical_name", F.initcap("normalized_text")),
            )
            .drop("doc_id")
        )
        return out.toPandas() if was_pandas else out

    def save_model(self, path: str) -> None:
        """Persist fitted state as tables + JSON (no pickles; SURVEY.md S3).

        The FULL config tree is serialized (reference save_model pickles
        config + encoders, resolver.py:1387-1437) so ``load_model`` +
        ``transform`` runs with the blocking/scoring/validation thresholds
        that produced the canonical map, not defaults."""
        assert self._is_fitted
        from ..config import config_to_dict

        os.makedirs(path, exist_ok=True)
        self.canonical_map_.write.mode("overwrite").parquet(
            os.path.join(path, "canonical_map")
        )
        with open(os.path.join(path, "config.json"), "w") as f:
            json.dump(
                {
                    "entity_threshold": self.entity_threshold,
                    "edge_threshold": self.config.scoring.edge_threshold,
                    "config": config_to_dict(self.config),
                },
                f,
            )

    @_hybridmethod
    def load_model(self, path: str) -> "EntityResolver":
        """Load a saved model. Reference-parity classmethod form
        (``EntityResolver.load_model(path)``) and session-injecting
        instance form (``EntityResolver(spark=s).load_model(path)``) both
        work — see :class:`_hybridmethod`."""
        from ..config import config_from_dict

        spark = self._session()
        self.canonical_map_ = spark.read.parquet(
            os.path.join(path, "canonical_map")
        )
        with open(os.path.join(path, "config.json")) as f:
            meta = json.load(f)
        self.entity_threshold = meta["entity_threshold"]
        if "config" in meta:  # models saved before the full round-trip keep defaults
            self.config = config_from_dict(meta["config"])
        self._is_fitted = True
        return self

    def generate_report(
        self, original_df=None, entity_col: str = "company_name"
    ) -> dict:
        """S5 summary report. The reference signature takes the original
        input frame and reports ``unique_entities_before`` from it
        (resolver.py:1289-1304); it is optional here so the no-input form
        keeps working, and accepts pandas or Spark."""
        assert self.resolved_ is not None
        from ..operators.hygiene import generate_report

        renamed = self.resolved_.withColumnsRenamed(
            {"final_cluster": "cluster", "canonical_name": "canonical_text"}
        ).withColumn("norm_text", F.col("normalized_text"))
        rep = generate_report(renamed)
        if original_df is not None:
            if isinstance(original_df, pd.DataFrame):
                before = int(original_df[entity_col].nunique())
            else:
                before = original_df.select(entity_col).distinct().count()
            rep["unique_entities_before"] = before
        return rep

    def get_review_dataframe(self) -> DataFrame:
        assert self.resolved_ is not None
        from ..operators.hygiene import review_dataframe

        return review_dataframe(
            self.resolved_.withColumnsRenamed(
                {
                    "final_cluster": "cluster",
                    "canonical_name": "canonical_text",
                    "normalized_text": "norm_text",
                }
            )
        )

    # -- internals ------------------------------------------------------------
    def _prepare(self, sdf: DataFrame, entity_col: str, address_col: str) -> DataFrame:
        cfg = self.config
        out = sdf.withColumn(
            "normalized_text",
            normalize_entity_text(
                F.col(entity_col), cfg.replacements, cfg.suffixes_to_remove
            ),
        )
        if address_col in sdf.columns:
            parsed = parsed_address(F.col(address_col))
            out = (
                out.withColumn("_addr", parsed)
                .withColumn("addr_street_number", F.col("_addr.street_number"))
                .withColumn("addr_street_name", F.col("_addr.street_name"))
                .withColumn("addr_city", F.col("_addr.city"))
                .withColumn("addr_state", F.col("_addr.state"))
                .withColumn("addr_zip", F.col("_addr.zip"))
                .drop("_addr")
            )
        else:
            for c in ("addr_street_number", "addr_street_name", "addr_city",
                      "addr_state", "addr_zip"):
                out = out.withColumn(c, F.lit(""))
        return out.withColumn(
            "addr_normalized_key",
            address_key(
                F.col("addr_street_number"),
                F.col("addr_street_name"),
                F.col("addr_city"),
                F.col("addr_state"),
                F.col("addr_zip"),
            ),
        ).withColumn(
            "addr_score",
            address_score(
                F.col("addr_street_number"),
                F.col("addr_street_name"),
                F.col("addr_city"),
                F.col("addr_state"),
                F.col("addr_zip"),
            ),
        )

    def _resolve(self, sdf: DataFrame, entity_col: str, address_col: str) -> DataFrame:
        from ..operators.hygiene import (
            consolidate_identical_entities,
            consolidate_names_by_address,
            consolidate_similar_addresses,
            merge_similar_clusters,
            number_chain_entities,
            split_by_street_number_range,
            split_clusters_by,
        )
        from ..operators.validate import (
            best_address,
            enrich_addresses,
            state_compatible,
            validate_reassign,
        )

        cfg = self.config
        ccfg = cfg.clustering
        scfg = _entity_scoring_config(cfg)
        # short entity names: the phonetic key family earns its keep here
        # (V2; useless on long web documents)
        bcfg = dataclasses.replace(cfg.blocking, use_phonetic_keys=True)
        ckpt = CheckpointManager(self._session(), cfg.runtime.checkpoint_dir)

        def build_prepared() -> DataFrame:
            prep = self._prepare(sdf, entity_col, address_col).localCheckpoint(
                eager=False
            )
            # C1 consolidate similar address strings + C2 consolidate names
            # per address — both run on every training pass in the reference
            # (resolver.py:1573-1576, 1644-1709, 256-299)
            if ccfg.consolidate_addresses:
                prep = consolidate_similar_addresses(
                    prep,
                    threshold=ccfg.addr_match_threshold,
                    blocking_cfg=cfg.blocking,
                )
            if ccfg.consolidate_names:
                prep = consolidate_names_by_address(prep)
            return prep

        prep = ckpt.stage("e01_prepared", build_prepared)
        # one row per distinct (name, addr) for scoring; rows map back after
        ent = (
            prep.select(
                F.concat_ws(" ", "normalized_text", "addr_normalized_key").alias(
                    "norm_text"
                ),
                "normalized_text",
                "addr_normalized_key",
                "addr_state",
            )
            .withColumn("doc_id", F.xxhash64("norm_text"))
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=False)
        )

        def build_edges() -> DataFrame:
            keys, tokens = blocking_plan(ent, "doc_id", "norm_text", cfg=bcfg)
            pairs = candidate_pairs(keys, bcfg, tokens=tokens)
            scored = score_pairs(pairs, ent, "doc_id", "norm_text", scfg)
            # C4 state-compatibility gate (reference resolver.py:2653-2678):
            # different non-null states never merge (unless configured
            # neighbors).
            st = ent.select("doc_id", "addr_state")
            st_a = st.withColumnsRenamed({"doc_id": "src", "addr_state": "st_a"})
            st_b = st.withColumnsRenamed({"doc_id": "dst", "addr_state": "st_b"})
            gate = state_compatible(
                F.col("st_a"), F.col("st_b"), ccfg.allow_neighboring_states
            )
            return (
                scored.join(st_a, "src")
                .join(st_b, "dst")
                .where(gate & (F.col("score") >= self.entity_threshold))
                .select("src", "dst", "score")
            )

        edges = ckpt.stage("e02_edges", build_edges)
        members = ckpt.stage(
            "e03_clusters",
            lambda: label_clusters(ent, edges, ccfg.cc_max_iterations),
        )

        def build_hygiene() -> DataFrame:
            out = members
            # C3 validate membership + reassign (reference resolver.py:2334-2651)
            if ccfg.validate_membership:
                out = validate_reassign(
                    out,
                    id_col="doc_id",
                    cluster_col="cluster",
                    name_col="normalized_text",
                    addr_col="addr_normalized_key",
                    state_col="addr_state",
                    name_threshold=ccfg.name_match_threshold,
                    addr_threshold=ccfg.addr_match_threshold,
                    allow_neighboring_states=ccfg.allow_neighboring_states,
                    blocking_cfg=bcfg,
                )
            else:
                out = out.withColumn(
                    "membership_status", F.lit("kept")
                ).withColumn("reassign_score", F.lit(1.0))
            # C5/G9 sampled-member merge with the J3 name∩addr gate
            # (reference resolver.py:542-700)
            if ccfg.merge_similar:
                addr0 = out.groupBy("cluster").agg(
                    F.max_by("addr_normalized_key", "doc_id").alias("canonical_address")
                )
                out = merge_similar_clusters(
                    out, canonical_map(out, "cluster", "norm_text"), cfg,
                    "cluster", "norm_text", canon_addr=addr0,
                )
            # C6: the same entity key never stays in two clusters
            if ccfg.consolidate_identical:
                out = consolidate_identical_entities(out, "norm_text", "cluster")
            return out

        members = ckpt.stage("e04_hygiene", build_hygiene)

        def build_resolved() -> DataFrame:
            rows = prep.withColumn(
                "doc_id",
                F.xxhash64(
                    F.concat_ws(" ", "normalized_text", "addr_normalized_key")
                ),
            ).join(
                members.select(
                    "doc_id", F.col("cluster").alias("final_cluster"),
                    "membership_status", "reassign_score",
                ),
                "doc_id",
            ).join(
                # per-doc cluster_probability analog over the kept edges
                mean_incident_score(edges, "_edge_prob"), "doc_id", "left"
            ).withColumn(
                # edge-less docs default to 1.0: they are either exact-duplicate
                # collapses (merged by byte equality — full certainty) or true
                # singletons (whose confidence uses the noise formula instead)
                "_row_prob",
                F.when(
                    F.col("membership_status").isin("reassigned", "rescued"),
                    F.col("reassign_score"),
                ).otherwise(F.coalesce("_edge_prob", F.lit(1.0))),
            ).drop("_edge_prob")
            # C7 refine (reference resolver.py:784-899): address enrichment,
            # then state split, then street-number-range split
            if ccfg.enrich_addresses:
                rows = enrich_addresses(rows, "final_cluster")
            else:
                rows = rows.withColumn("address_was_enriched", F.lit(False))
            # state split ignores empty states (cuDF groupby drops nulls —
            # reference resolver.py:850-860 semantics)
            rows = split_clusters_by(
                rows.withColumn("_st", F.expr("nullif(addr_state, '')")),
                "_st",
                "final_cluster",
            ).drop("_st")
            rows = split_by_street_number_range(rows).localCheckpoint(eager=False)
            # canonical name per cluster: V11 election over normalized names.
            # Must run AFTER the street-number-range split — the split mints
            # new final_cluster ids which would otherwise have no canonical
            # row and be silently dropped by the inner join below.
            canon_names = canonical_map(
                rows, "final_cluster", "normalized_text"
            ).withColumnsRenamed(
                {"cluster": "final_cluster", "canonical_text": "_canon_norm"}
            )
            # C8: one canonical row per cluster; chain entities (same canonical
            # name at several addresses) get ' - N' numbering (W2).
            canon_table = number_chain_entities(
                canon_names.join(
                    best_address(rows, "final_cluster"), "final_cluster", "left"
                ).select(
                    "final_cluster",
                    F.initcap(F.col("_canon_norm")).alias("canonical_name"),
                    "canonical_address",
                    "canonical_street_number",
                    "canonical_street_name",
                    "canonical_city",
                    "canonical_state",
                    "canonical_zip",
                    "_canon_norm",
                    "cluster_size",
                )
            ).localCheckpoint(eager=False)
            jw = make_jw_udf(64)
            out = (
                rows.join(canon_table, "final_cluster")
                .withColumn(
                    "name_similarity", jw("normalized_text", F.col("_canon_norm"))
                )
                # address_confidence term (reference resolver.py:1104-1108):
                # similarity of the row's address key to the cluster's canonical
                .withColumn(
                    "address_confidence",
                    jw(
                        "addr_normalized_key",
                        F.coalesce("canonical_address", F.lit("")),
                    ),
                )
                .drop("_canon_norm")
                .localCheckpoint(eager=False)
            )
            out = out.join(cohesion_scores(out, "final_cluster"), "final_cluster")
            # C10 full confidence formula (reference resolver.py:1086-1173,
            # weights config.py:223-229)
            c = cfg.confidence
            size_factor = F.least(
                F.log1p(F.col("cluster_size").cast("double")) / F.lit(math.log1p(10.0)),
                F.lit(1.0),
            )
            base = (
                c.avg_cluster_prob_weight * F.col("_row_prob")
                + c.name_similarity_weight * F.col("name_similarity")
                + c.address_confidence_weight * F.col("address_confidence")
                + c.cohesion_weight * F.col("cohesion_score")
                + c.cluster_size_weight * size_factor
            )
            # change magnitude vs the ORIGINAL entity string (resolver.py:1146-1160)
            change = 1.0 - jw(
                F.lower(F.col(entity_col)), F.lower(F.col("canonical_name"))
            )
            out = out.withColumn("_change", change)
            # penalties: x0.9 drastic rename, x0.95 enriched address, x0.85 tiny
            # cluster with a large rename
            base = F.when(F.col("_change") > 0.5, base * 0.9).otherwise(base)
            base = F.when(F.col("address_was_enriched"), base * 0.95).otherwise(base)
            base = F.when(
                (F.col("cluster_size") <= 2) & (F.col("_change") > 0.7), base * 0.85
            ).otherwise(base)
            conf = F.when(
                F.col("cluster_size") == 1, 0.5 * F.col("name_similarity")
            ).otherwise(base)
            out = out.withColumn(
                "confidence_score",
                F.least(F.greatest(conf, F.lit(0.0)), F.lit(1.0)),
            ).withColumn(
                "confidence_category", confidence_bin(F.col("confidence_score"))
            )
            # C11 review reasons (reference resolver.py:1199-1227)
            reasons = F.array_compact(
                F.array(
                    F.when(
                        F.col("confidence_score") < c.review_confidence_threshold,
                        F.lit("low_confidence"),
                    ),
                    F.when(F.col("_change") > 0.7, F.lit("drastic_change")),
                    F.when(
                        (F.col("cluster_size") == 1) & (F.col("_change") > 0.01),
                        F.lit("single_member_change"),
                    ),
                    F.when(
                        F.col("address_was_enriched")
                        & (F.col("confidence_score") < 0.8),
                        F.lit("enriched_low_conf"),
                    ),
                )
            )
            out = (
                out.withColumn("needs_review", F.size(reasons) > 0)
                .withColumn("review_reason", F.array_join(reasons, ","))
                .drop("doc_id", "_change", "_row_prob", "reassign_score")
            )
            return out

        return ckpt.stage("e05_resolved", build_resolved)
