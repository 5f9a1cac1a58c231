"""C3 cluster-membership validation + reassignment and C7 address
enrichment (reference resolver.py:2334-2651 and 784-841), re-expressed as
joins / filters / windows.

The reference validates every member against its cluster profile (canonical
name + best address + state), evicts members below the fuzz thresholds,
then batch-cross-joins the evicted/noise set against ALL profiles to find a
better home, scoring candidates with fixed weights
(config.py:213-218: name .40 / address .40 / size .10 / probability .10).
Here the cross-join is replaced with the engine's blocking machinery: the
evicted set and the profile set each emit blocking keys and candidates come
from the key equi-join (``blocking.cross_pairs``, which drops keys held by
more than ``max_block_size`` profiles) — the same recall mechanism used
everywhere else, no quadratic pass, no batching loops.

Similarities use the Jaro-Winkler kernel (Arrow-batched pandas UDF) so the
eviction filter and the weighted argmax are independently checkable against
DuckDB's ``jaro_winkler_similarity`` (tests/test_simfns.py proves kernel
parity to 1e-9).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canonical import canonical_map
from .scoring import make_jw_udf

# reference config.py:201-204
NAME_FUZZ = 0.89
ADDR_FUZZ = 0.87
# reference config.py:213-218 (reassignment_scoring_weights)
W_NAME, W_ADDR, W_SIZE, W_PROB = 0.40, 0.40, 0.10, 0.10
_LOG11 = math.log1p(10.0)


def state_compatible(a, b, allow_neighboring_states: tuple = ()):
    """C4 state gate (reference resolver.py:2653-2678): states are
    compatible when equal or either is null/empty; optionally a configured
    set of neighboring state pairs is also allowed."""
    base = (
        a.isNull() | b.isNull() | (a == "") | (b == "") | (a == b)
    )
    if allow_neighboring_states:
        pairs = {
            "|".join(sorted((s1.lower(), s2.lower())))
            for s1, s2 in allow_neighboring_states
        }
        key = F.concat_ws(
            "|", F.least(F.lower(a), F.lower(b)), F.greatest(F.lower(a), F.lower(b))
        )
        base = base | key.isin(*sorted(pairs))
    return base


def cluster_profiles(
    members: DataFrame,
    cluster_col: str = "cluster",
    name_col: str = "normalized_text",
    addr_col: str = "addr_normalized_key",
    state_col: str = "addr_state",
    prob_col: str | None = None,
    min_size: int = 2,
) -> DataFrame:
    """One profile row per cluster of size >= ``min_size``:
    (cluster, profile_name, profile_addr_key, profile_state, size, avg_prob).

    profile_name is the V11 canonical election; profile_addr_key/state are
    the most frequent non-empty values (freq desc, value asc tie-break) —
    the relational core of the reference's get_best_address_gpu profile
    (utils.py:168-207). Clusters below min_size get no profile: they are the
    noise analog (the reference builds profiles only for cluster != -1)."""
    names = canonical_map(
        members.select(F.col(cluster_col).alias("cluster"), F.col(name_col).alias("nt")),
        "cluster",
        "nt",
    ).withColumnsRenamed({"canonical_text": "profile_name", "cluster_size": "size"})
    names = names.where(F.col("size") >= min_size)

    def _mode(col: str, out: str) -> DataFrame:
        w = Window.partitionBy("cluster").orderBy(F.desc("_n"), F.asc(col))
        return (
            members.select(F.col(cluster_col).alias("cluster"), col)
            .where(F.col(col).isNotNull() & (F.col(col) != ""))
            .groupBy("cluster", col)
            .agg(F.count("*").alias("_n"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("cluster", F.col(col).alias(out))
        )

    prof = (
        names.join(_mode(addr_col, "profile_addr_key"), "cluster", "left")
        .join(_mode(state_col, "profile_state"), "cluster", "left")
        .withColumn("profile_addr_key", F.coalesce("profile_addr_key", F.lit("")))
        .withColumn("profile_state", F.coalesce("profile_state", F.lit("")))
    )
    if prob_col is not None:
        probs = members.groupBy(F.col(cluster_col).alias("cluster")).agg(
            F.avg(prob_col).alias("avg_prob")
        )
        prof = prof.join(probs, "cluster", "left").withColumn(
            "avg_prob", F.coalesce("avg_prob", F.lit(0.9))
        )
    else:
        prof = prof.withColumn("avg_prob", F.lit(0.9))
    return prof


def validate_reassign(
    members: DataFrame,
    profiles: DataFrame | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    name_col: str = "normalized_text",
    addr_col: str = "addr_normalized_key",
    state_col: str = "addr_state",
    name_threshold: float = NAME_FUZZ,
    addr_threshold: float = ADDR_FUZZ,
    allow_neighboring_states: tuple = (),
    blocking_cfg=None,
    jw_chars: int = 64,
) -> DataFrame:
    """C3: evict members that don't belong to their cluster, then try to
    reassign evicted members and singletons to a better cluster
    (reference resolver.py:2334-2651).

    Returns the members with ``cluster`` updated plus ``membership_status``
    in {kept, evicted, reassigned, rescued} and ``reassign_score``
    (the weighted match score for reassigned/rescued rows, 1.0 for kept).
    """
    from ..config import BlockingConfig
    from .blocking import cross_pairs

    blocking_cfg = blocking_cfg or BlockingConfig()
    if profiles is None:
        profiles = cluster_profiles(
            members, cluster_col, name_col, addr_col, state_col
        )
    profiles = profiles.localCheckpoint(eager=False)
    jw = make_jw_udf(jw_chars)

    # --- pass 1: validate members against their own cluster profile -------
    cur = members.join(profiles, members[cluster_col] == profiles["cluster"], "left").drop(
        profiles["cluster"]
    )
    name_sim = jw(F.col(name_col), F.col("profile_name"))
    addr_sim = jw(F.col(addr_col), F.col("profile_addr_key"))
    st_ok = state_compatible(
        F.col(state_col), F.col("profile_state"), allow_neighboring_states
    )
    cur = cur.withColumn(
        "_valid",
        F.col("profile_name").isNotNull()  # profiled cluster (size >= 2)
        & (name_sim >= name_threshold)
        & (addr_sim >= addr_threshold)
        & st_ok,
    ).withColumn("_is_singleton", F.col("profile_name").isNull())
    cur = cur.drop(
        "profile_name", "profile_addr_key", "profile_state", "size", "avg_prob"
    ).localCheckpoint(eager=False)

    member_cols = members.columns
    kept = cur.where(F.col("_valid")).select(*member_cols)

    # --- pass 2: blocked candidate search for evicted + singleton rows ----
    moving = cur.where(~F.col("_valid")).select(*member_cols, "_is_singleton")
    cand = (
        cross_pairs(
            moving, profiles, id_col, "cluster", name_col, "profile_name",
            blocking_cfg,
        )
        .withColumnsRenamed({"src": "_mid", "dst": "_pid"})
        .join(moving.withColumnRenamed(id_col, "_mid"), "_mid")
        .join(profiles.withColumnRenamed("cluster", "_pid"), "_pid")
        # never re-offer the cluster the member was just evicted from
        .where(F.col("_pid") != F.col(cluster_col))
    )
    c_name = jw(F.col(name_col), F.col("profile_name"))
    c_addr = jw(F.col(addr_col), F.col("profile_addr_key"))
    c_st = state_compatible(
        F.col(state_col), F.col("profile_state"), allow_neighboring_states
    )
    size_factor = F.least(
        F.log1p(F.col("size").cast("double")) / F.lit(_LOG11), F.lit(1.0)
    )
    cand = (
        cand.withColumn("_name_sim", c_name)
        .withColumn("_addr_sim", c_addr)
        .where(
            (F.col("_name_sim") >= name_threshold)
            & (F.col("_addr_sim") >= addr_threshold)
            & c_st
        )
        .withColumn(
            "_match_score",
            W_NAME * F.col("_name_sim")
            + W_ADDR * F.col("_addr_sim")
            + W_SIZE * size_factor
            + W_PROB * F.col("avg_prob"),
        )
    )
    best = (
        cand.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_mid").orderBy(
                    F.desc("_match_score"), F.asc("_pid")
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            F.col("_mid"),
            F.col("_pid").alias("_best_cluster"),
            F.col("_match_score").alias("_best_score"),
        )
    )
    moved = (
        moving.withColumnRenamed(id_col, "_mid")
        .join(best, "_mid", "left")
        .withColumn(
            "membership_status",
            F.when(
                F.col("_best_cluster").isNotNull() & F.col("_is_singleton"),
                "rescued",
            )
            .when(F.col("_best_cluster").isNotNull(), "reassigned")
            .when(F.col("_is_singleton"), "kept")
            .otherwise("evicted"),
        )
        .withColumn(
            cluster_col,
            # No valid home: evicted members mint a fresh singleton cluster
            # (the noise analog of the reference's -1), singletons stay put.
            # The mint must be collision-free against the min-member-doc_id
            # label space: an evicted doc that IS the min-id member of its
            # old component would otherwise "mint" the very id it was
            # evicted from and silently remain inside it downstream.
            F.coalesce(
                "_best_cluster",
                F.when(F.col("_is_singleton"), F.col(cluster_col)).otherwise(
                    F.xxhash64(F.lit("evict"), F.col("_mid"))
                ),
            ),
        )
        .withColumn("reassign_score", F.coalesce("_best_score", F.lit(0.0)))
        .withColumnRenamed("_mid", id_col)
        .select(*member_cols, "membership_status", "reassign_score")
    )
    return kept.withColumn("membership_status", F.lit("kept")).withColumn(
        "reassign_score", F.lit(1.0)
    ).unionByName(moved)


def best_address(members: DataFrame, cluster_col: str) -> DataFrame:
    """V12 best address per cluster (reference utils.py:168-207), ranked
    completeness desc, key frequency desc, key asc; the winner's parsed
    components ride along (P7): (cluster_col, canonical_address,
    canonical_{street_number,street_name,city,state,zip}). One key can carry
    several component variants (C1 rewrites similar keys to one), so the
    components break the last ties: the winner never depends on row order."""
    parts = [
        "addr_street_number", "addr_street_name", "addr_city", "addr_state",
        "addr_zip",
    ]
    freq = members.groupBy(cluster_col, "addr_normalized_key").agg(
        F.count("*").alias("_freq")
    )
    cand = members.select(
        cluster_col, "addr_normalized_key", "addr_score", *parts
    ).distinct()
    return (
        cand.join(freq, [cluster_col, "addr_normalized_key"])
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(cluster_col).orderBy(
                    F.desc("addr_score"), F.desc("_freq"),
                    F.asc("addr_normalized_key"), *parts,
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.col("addr_normalized_key").alias("canonical_address"),
            *[F.col(p).alias(p.replace("addr_", "canonical_")) for p in parts],
        )
    )


def enrich_addresses(
    members: DataFrame,
    cluster_col: str = "cluster",
    min_cluster_size: int = 2,
) -> DataFrame:
    """C7 address enrichment (reference resolver.py:790-841): a member with
    no street name inherits the cluster's canonical street number + name
    when its city, state and zip all match the canonical address; flags the
    row with ``address_was_enriched`` and rebuilds ``addr_normalized_key``.

    Expects the entity-path address columns (addr_street_number,
    addr_street_name, addr_city, addr_state, addr_zip, addr_normalized_key,
    addr_score)."""
    from ..functions.normalize import address_key, address_score

    # the size filter is per cluster, so it never changes a winner
    sizes = members.groupBy(cluster_col).agg(F.count("*").alias("_csize"))
    best = (
        best_address(members, cluster_col)
        .join(sizes, cluster_col)
        .where(F.col("_csize") >= min_cluster_size)
        .drop("_csize", "canonical_address")
    )
    out = members.join(best, cluster_col, "left")
    empty = lambda c: F.col(c).isNull() | (F.col(c) == "")  # noqa: E731
    enrich = F.coalesce(
        empty("addr_street_name")
        & F.col("canonical_street_name").isNotNull()
        & (F.col("canonical_street_name") != "")
        & (F.col("addr_city") == F.col("canonical_city"))
        & (F.col("addr_state") == F.col("canonical_state"))
        & (F.col("addr_zip") == F.col("canonical_zip")),
        F.lit(False),  # clusters below min size have no canonical row
    )
    # Materialize the flag FIRST and reference the flag column afterwards:
    # the raw `enrich` expression reads addr_street_name, which the next
    # withColumn overwrites — re-evaluating it later would see the filled
    # street and silently skip the key rebuild.
    flag = F.col("address_was_enriched")
    out = (
        out.withColumn("address_was_enriched", enrich)
        .withColumn(
            "addr_street_number",
            F.when(flag, F.col("canonical_street_number")).otherwise(
                F.col("addr_street_number")
            ),
        )
        .withColumn(
            "addr_street_name",
            F.when(flag, F.col("canonical_street_name")).otherwise(
                F.col("addr_street_name")
            ),
        )
        .withColumn(
            "addr_normalized_key",
            F.when(
                flag,
                address_key(
                    F.col("addr_street_number"), F.col("addr_street_name"),
                    F.col("addr_city"), F.col("addr_state"), F.col("addr_zip"),
                ),
            ).otherwise(F.col("addr_normalized_key")),
        )
        # Completeness score must track the enriched components, or the V12
        # best-address election downstream undervalues enriched rows.
        .withColumn(
            "addr_score",
            F.when(
                flag,
                address_score(
                    F.col("addr_street_number"), F.col("addr_street_name"),
                    F.col("addr_city"), F.col("addr_state"), F.col("addr_zip"),
                ),
            ).otherwise(F.col("addr_score")),
        )
        .drop(*best.columns[1:])  # the canonical components
    )
    return out
