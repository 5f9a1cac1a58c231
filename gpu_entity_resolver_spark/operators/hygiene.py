"""Cluster-hygiene operators (SURVEY.md §2.9) — the relational stages the
reference runs between clustering and canonical-map building, re-expressed
as joins/windows/aggregations:

- C6 ``consolidate_identical_entities`` (reference resolver.py:702-782)
- C7 ``split_clusters_by``             (reference resolver.py:784-899)
- C5 ``merge_similar_clusters``        (reference resolver.py:542-700)
- C12 invariant checks                 (reference resolver.py:2680-2796)
- S5 ``generate_report``               (reference resolver.py:1289-1385)
- S6 ``review_dataframe``              (reference resolver.py:1233-1287)
- C13 ``assign_new_documents``         (reference resolver.py:1020-1042,
                                        2280-2332 — the transform path)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import ResolverConfig, with_band_floor


def consolidate_identical_entities(
    members: DataFrame,
    key_col: str = "norm_text",
    cluster_col: str = "cluster",
) -> DataFrame:
    """C6: if the same entity key appears in more than one cluster, move all
    its rows to the largest cluster (ties: smallest cluster id) — reference
    resolver.py:702-782 semantics, two window passes instead of a Python
    loop. A null key keeps its cluster.

    Returns the input with ``cluster`` re-mapped.
    """
    # Windows over a narrow (key hash, cluster) projection; the map holds
    # only the keys whose rows move, so the apply join broadcasts while it
    # is small and the wide rows are not shuffled. The key rides as
    # xxhash64(key), as doc_id = xxhash64(url) and the split-mint ids do;
    # a null key hashes to null and never matches. Bound: n distinct keys
    # give about n^2 / 2^65 expected colliding pairs (~2.7 at 10^10 keys,
    # ~27k at 10^12); a collision merges the two keys' clusters.
    key_h = F.when(F.col(key_col).isNotNull(), F.xxhash64(key_col)).alias("_kh")
    by_key = Window.partitionBy("_kh").orderBy(F.desc("_csize"), F.asc(cluster_col))
    moves = (
        members.select(key_h, F.col(cluster_col))
        .withColumn("_csize", F.count("*").over(Window.partitionBy(cluster_col)))
        .where(F.col("_kh").isNotNull())
        .withColumn("_winner", F.first(cluster_col).over(by_key))
        .where(F.col("_winner") != F.col(cluster_col))
        .select("_kh", "_winner")
        .distinct()
    )
    return (
        members.withColumn("_kh", key_h)
        .join(moves, "_kh", "left")
        .withColumn(cluster_col, F.coalesce("_winner", F.col(cluster_col)))
        .drop("_kh", "_winner")
    )


def split_clusters_by(
    members: DataFrame,
    split_col: str,
    cluster_col: str = "cluster",
) -> DataFrame:
    """C7: split clusters spanning more than one value of ``split_col``
    (the reference splits on state, resolver.py:850-860; for web pages the
    analog is language). A null value neither counts nor moves. New ids are
    minted deterministically (reference W3 ngroup pattern,
    resolver.py:857-859)."""
    # Shuffle-free deterministic id minting: the reference's `max_id + ngroup`
    # (resolver.py:857-859) needs a total order — a single-partition sort at
    # scale. Ids here only need to be unique and deterministic, so mint them
    # as xxhash64 of the (cluster, split value) pair; collision odds with
    # existing hash-derived ids are ~n^2/2^64. One window over the narrow
    # (cluster, value) projection finds the multi-value clusters; the
    # distinct reuses its partitioning, and only their rows reach the map.
    by_cluster = Window.partitionBy(cluster_col)
    new_ids = (
        members.select(cluster_col, split_col)
        .withColumn("_nv", F.size(F.collect_set(split_col).over(by_cluster)))
        .where((F.col("_nv") > 1) & F.col(split_col).isNotNull())
        .select(cluster_col, split_col)
        .distinct()
        .withColumn(
            "_new", F.xxhash64(F.lit("split"), F.col(cluster_col), F.col(split_col))
        )
    )
    return (
        members.join(new_ids, [cluster_col, split_col], "left")
        .withColumn(cluster_col, F.coalesce("_new", F.col(cluster_col)))
        .drop("_new")
    )


def merge_similar_clusters(
    members: DataFrame,
    canon: DataFrame,
    cfg: ResolverConfig | None = None,
    cluster_col: str = "cluster",
    text_col: str = "norm_text",
    canon_addr: DataFrame | None = None,
) -> DataFrame:
    """C5/G9: merge over-split clusters using the reference's SAMPLED-MEMBER
    semantics (utils.py:589-656, config.py:150-169):

    1. candidate cluster pairs: canonical representatives blocked + scored,
       prefiltered at ``centroid_similarity`` (the centroid-prefilter analog,
       config.py:164-166);
    2. per candidate pair, up to ``merge_sample_size`` members are sampled
       from each side DETERMINISTICALLY (xxhash64 rank — reproducible across
       runs and parallelism, unlike the reference's cupy.random.choice);
    3. all sampled cross pairs are scored with the standard scorer (a pair
       it drops counts as 0.0); the pair merges only when the member-pair
       MEDIAN >= merge_median_threshold AND MAX >= merge_max_threshold;
    4. optionally (J3, reference resolver.py:609-632) a per-cluster address
       string table gates merges: clusters merge only when their canonical
       ADDRESSES are also similar — the name-edge ∩ addr-edge intersection;
    5. merged components relabel via connected components (replaces the
       reference's union-find loop, utils.py:570-579).
    """
    from .blocking import blocking_plan, candidate_pairs
    from .connected_components import connected_components
    from .scoring import make_jw_udf, score_pairs

    cfg = cfg or ResolverConfig()
    ccfg = cfg.clustering
    # No barrier here: `reps` is a two-column projection of `canon`, which
    # the caller already materialized (plans/resolve.py checkpoints canon0
    # eagerly) — a localCheckpoint of a projection of cached data only
    # added a copy job and storage (r6 job-floor trim).
    reps = canon.select(
        F.col(cluster_col).alias("doc_id"),
        F.col("canonical_text").alias(text_col),
    )
    rep_keys, rep_tokens = blocking_plan(reps, "doc_id", text_col, cfg=cfg.blocking)
    pairs = candidate_pairs(rep_keys, cfg.blocking, tokens=rep_tokens)
    rep_scored = score_pairs(pairs, reps, "doc_id", text_col, cfg.scoring)
    cand = rep_scored.where(
        F.col("score") >= ccfg.centroid_similarity_threshold
    ).select(F.col("src").alias("_ca"), F.col("dst").alias("_cb"))
    # J3 address-edge intersection: both names AND addresses must be similar
    if canon_addr is not None:
        jw = make_jw_udf(64)
        addr = canon_addr.select(
            F.col(cluster_col).alias("_c"), F.col("canonical_address").alias("_ad")
        )
        cand = (
            cand.join(addr.withColumnsRenamed({"_c": "_ca", "_ad": "_ad_a"}), "_ca")
            .join(addr.withColumnsRenamed({"_c": "_cb", "_ad": "_ad_b"}), "_cb")
            .where(jw("_ad_a", "_ad_b") >= ccfg.addr_match_threshold)
            .select("_ca", "_cb")
        )
    cand = cand.localCheckpoint(eager=False)
    if cand.isEmpty():
        return members
    # deterministic per-cluster member sample (<= merge_sample_size)
    sample = (
        members.select(F.col(cluster_col).alias("_c"), F.col("doc_id"), text_col)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_c").orderBy(F.xxhash64("doc_id", F.lit(42)))
            ),
        )
        .where(F.col("_rk") <= ccfg.merge_sample_size)
        .drop("_rk")
        .localCheckpoint(eager=False)
    )
    mem_pairs = (
        cand.join(
            sample.select(
                F.col("_c").alias("_ca"), F.col("doc_id").alias("src")
            ),
            "_ca",
        )
        .join(
            sample.select(
                F.col("_c").alias("_cb"), F.col("doc_id").alias("dst")
            ),
            "_cb",
        )
        .select("_ca", "_cb", "src", "dst")
    )
    mem_scored = score_pairs(
        mem_pairs.select("src", "dst").distinct(),
        sample.select("doc_id", text_col),
        "doc_id",
        text_col,
        cfg.scoring,
    )
    # A sampled pair that score_pairs dropped counts as 0.0. Its partial
    # (band drop) or tfidf-only (prefilter drop) score is below
    # B = max(floor - jw_share, tfidf_share * prefilter), and counting
    # values < B as 0 moves no median >= t or max >= t decision while
    # merge_median_threshold > (B + 1) / 2 and merge_max_threshold > B.
    # Defaults: B = 0.45, so (B + 1) / 2 = 0.725 < 0.84 and 0.45 < 0.90.
    stats = (
        mem_pairs.join(mem_scored, ["src", "dst"], "left")
        .groupBy("_ca", "_cb")
        .agg(
            F.expr("percentile(coalesce(score, 0.0D), 0.5)").alias("_med"),
            F.max("score").alias("_max"),
        )
    )
    # Barrier: the isEmpty() probe below executes the sampled member-pair
    # scoring + percentile job; without it connected_components would
    # re-execute the whole thing (nothing between `cand` and here is
    # materialized). merge_edges is tiny (one row per merging cluster pair).
    merge_edges = stats.where(
        (F.col("_med") >= ccfg.merge_median_threshold)
        & (F.col("_max") >= ccfg.merge_max_threshold)
    ).select(
        F.col("_ca").alias("src"), F.col("_cb").alias("dst")
    ).localCheckpoint(eager=False)
    if merge_edges.isEmpty():
        return members
    remap = connected_components(merge_edges).withColumnsRenamed(
        {"vertex": cluster_col, "component": "_merged"}
    )
    return (
        members.join(remap, cluster_col, "left")
        .withColumn(cluster_col, F.coalesce("_merged", F.col(cluster_col)))
        .drop("_merged")
    )


def attach_singletons(
    pairs: DataFrame,
    labels: DataFrame,
    tau: float = 0.82,
    min_matching: int = 2,
    ratio_threshold: float = 1.5,
) -> DataFrame:
    """G8 noise attachment (reference utils.py:473-545): attach a singleton
    to an existing cluster when its scored in-block neighbors give a strong,
    UNAMBIGUOUS signal:

    - candidate clusters ranked by neighbor count (most frequent first) —
      deliberately matching the reference, which orders candidates by
      FREQUENCY (``value_counts`` in utils.py:509-515), not by mean
      similarity. The ratio test below therefore compares the top-frequency
      candidate's mean against the runner-up-BY-FREQUENCY's mean, exactly
      as the reference's best/second arrays are frequency-ordered
      (utils.py:517-531). A cluster with fewer but individually stronger
      neighbors can lose the ranking — that is the reference's semantics,
      kept on purpose;
    - ratio test: mean similarity to the best candidate must be >=
      ``ratio_threshold`` x the mean to the second-best (ambiguous pulls
      are skipped);
    - strength test: >= ``min_matching`` neighbors, mean sim >= tau, and
      >= ``min_matching`` of them individually >= tau.

    ``pairs``: (src, dst, score) — the pipeline's already-scored candidate
    pairs (no extra scoring pass); score_pairs output qualifies, as its
    rows are all exact. ``labels``: (doc_id, cluster). Returns labels with
    singleton clusters re-pointed where attached."""
    sizes = labels.groupBy("cluster").agg(F.count("*").alias("_sz"))
    # One narrow (doc_id, is-singleton, cluster-if-clustered) role row per
    # doc. The former shape unioned BOTH orientations of the pair table
    # (2P rows) through a semi-join and a join — two shuffles of twice the
    # pairs; joining the roles onto each endpoint instead touches each pair
    # once, and the role table is small enough for AQE's runtime broadcast
    # (guide §2.3/§3.1). Row-for-row equivalent: a doc is singleton XOR
    # clustered, so each pair yields exactly the orientation rows the union
    # form kept (src singleton & dst clustered, and/or the reverse).
    roles = (
        labels.select("doc_id", "cluster")
        .join(sizes, "cluster")
        .select(
            "doc_id",
            (F.col("_sz") == 1).alias("_single"),
            F.when(F.col("_sz") >= 2, F.col("cluster")).alias("_rc"),
        )
    )
    j = pairs.join(
        roles.withColumnsRenamed(
            {"doc_id": "src", "_single": "_sa", "_rc": "_ca"}
        ),
        "src",
    ).join(
        roles.withColumnsRenamed(
            {"doc_id": "dst", "_single": "_sb", "_rc": "_cb"}
        ),
        "dst",
    )
    cand = (
        j.select(
            F.when(F.col("_sa"), F.col("src"))
            .when(F.col("_sb"), F.col("dst"))
            .alias("doc_id"),
            F.when(F.col("_sa"), F.col("_cb"))
            .when(F.col("_sb"), F.col("_ca"))
            .alias("_cand"),
            "score",
        )
        .where(F.col("doc_id").isNotNull() & F.col("_cand").isNotNull())
        .groupBy("doc_id", "_cand")
        .agg(
            F.count("*").alias("_n"),
            F.avg("score").alias("_mean"),
            F.sum((F.col("score") >= tau).cast("int")).alias("_n_tau"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("_n"), F.desc("_mean"), F.asc("_cand")
    )
    ranked = cand.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_mean2", F.lead("_mean").over(w)
    )
    attach = (
        ranked.where(F.col("_rn") == 1)
        .where(
            F.col("_mean2").isNull()
            | (F.col("_mean") / (F.col("_mean2") + F.lit(1e-8)) >= ratio_threshold)
        )
        .where(
            (F.col("_n") >= min_matching)
            & (F.col("_mean") >= tau)
            & (F.col("_n_tau") >= min_matching)
        )
        .select("doc_id", F.col("_cand").alias("_new_cluster"))
    )
    return (
        labels.join(attach, "doc_id", "left")
        .withColumn("cluster", F.coalesce("_new_cluster", F.col("cluster")))
        .drop("_new_cluster")
    )


def ensemble_overlap_purity(
    labels_a: DataFrame,
    labels_b: DataFrame,
    purity_min: float = 0.75,
    min_overlap: int = 2,
) -> DataFrame:
    """A7/G10 ensemble mapping (reference resolver.py:2157-2230): map each
    cluster of the SECOND labeling onto its best-overlapping cluster of the
    FIRST, keeping only mappings whose purity (overlap / b-cluster size
    within the joint set) and absolute overlap pass the thresholds
    (ensemble_params, config.py:171-178).

    ``labels_a``/``labels_b``: (doc_id, cluster). Returns
    (b_cluster, a_cluster, overlap_size, purity)."""
    joint = labels_a.withColumnsRenamed({"cluster": "_a"}).join(
        labels_b.withColumnsRenamed({"cluster": "_b"}), "doc_id"
    )
    overlap = joint.groupBy("_b", "_a").agg(F.count("*").alias("overlap_size"))
    totals = overlap.groupBy("_b").agg(F.sum("overlap_size").alias("_tot"))
    best = (
        overlap.join(totals, "_b")
        .withColumn(
            "purity", F.col("overlap_size") / F.col("_tot").cast("double")
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_b").orderBy(
                    F.desc("overlap_size"), F.asc("_a")
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .where(
            (F.col("purity") >= purity_min)
            & (F.col("overlap_size") >= min_overlap)
        )
    )
    return best.select(
        F.col("_b").alias("b_cluster"),
        F.col("_a").alias("a_cluster"),
        "overlap_size",
        F.round("purity", 6).alias("purity"),
    )


def ensemble_labels(
    labels_a: DataFrame,
    labels_b: DataFrame,
    purity_min: float = 0.75,
    min_overlap: int = 2,
    min_new_cluster_size: int = 4,
) -> DataFrame:
    """G10 two-strategy ensemble arbitration (reference
    resolver.py:2157-2278): labeling A is the precise core, labeling B the
    high-recall rescue. The noise analog of the reference's ``-1`` label is
    a SINGLETON cluster (connected components gives every doc a label).

    - core docs keep their A cluster (label_source = 0);
    - an A-noise doc whose B cluster maps onto an A cluster with purity >=
      ``purity_min`` and overlap >= ``min_overlap`` adopts the mapped A
      cluster (label_source = 1);
    - A-noise docs in an UNMAPPED non-noise B cluster of size >=
      ``min_new_cluster_size`` mint a fresh cluster together — id =
      xxhash64('ens', b_cluster), the same shuffle-free minting used by the
      split operators (label_source = 2).

    Returns (doc_id, cluster, label_source)."""
    sz_a = labels_a.groupBy("cluster").agg(F.count("*").alias("_na"))
    a = labels_a.join(sz_a, "cluster").select(
        "doc_id", F.col("cluster").alias("_a"), (F.col("_na") == 1).alias("_a_noise")
    )
    sz_b = labels_b.groupBy("cluster").agg(F.count("*").alias("_nb"))
    b = labels_b.join(sz_b, "cluster").select(
        "doc_id",
        F.col("cluster").alias("_b"),
        (F.col("_nb") == 1).alias("_b_noise"),
        "_nb",
    )
    # mapping computed over docs clustered by BOTH strategies
    both_a = a.where(~F.col("_a_noise")).select("doc_id", F.col("_a").alias("cluster"))
    both_b = b.where(~F.col("_b_noise")).select("doc_id", F.col("_b").alias("cluster"))
    mapping = ensemble_overlap_purity(
        both_a, both_b, purity_min=purity_min, min_overlap=min_overlap
    ).select(F.col("b_cluster").alias("_b"), F.col("a_cluster").alias("_mapped"))
    joint = a.join(b, "doc_id").join(mapping, "_b", "left")
    minted = F.xxhash64(F.lit("ens"), F.col("_b"))
    can_mint = (
        ~F.col("_b_noise")
        & F.col("_mapped").isNull()
        & (F.col("_nb") >= min_new_cluster_size)
    )
    return joint.select(
        "doc_id",
        F.when(~F.col("_a_noise"), F.col("_a"))
        .when(F.col("_mapped").isNotNull(), F.col("_mapped"))
        .when(can_mint, minted)
        .otherwise(F.col("_a"))
        .alias("cluster"),
        F.when(~F.col("_a_noise"), F.lit(0))
        .when(F.col("_mapped").isNotNull(), F.lit(1))
        .when(can_mint, F.lit(2))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("label_source"),
    )


def split_by_street_number_range(
    members: DataFrame,
    cluster_col: str = "final_cluster",
    number_col: str = "addr_street_number",
    street_col: str = "addr_street_name",
    zip_col: str = "addr_zip",
    max_range: int = 50,
) -> DataFrame:
    """C7 street-number-range split (reference resolver.py:862-888): a
    (cluster, street, zip) group whose numeric street-number span exceeds
    ``max_range`` (with >1 distinct number) cannot be one site; each distinct
    number is minted into its own cluster (W3 ngroup pattern)."""
    num = F.when(
        F.col(number_col).rlike(r"^[0-9]+$"), F.col(number_col).cast("long")
    )
    grp = (
        members.withColumn("_num", num)
        .groupBy(cluster_col, street_col, zip_col)
        .agg(
            (F.max("_num") - F.min("_num")).alias("_span"),
            F.countDistinct("_num").alias("_nnum"),
        )
        .where((F.col("_span") > max_range) & (F.col("_nnum") > 1))
        .select(cluster_col, street_col, zip_col)
    )
    # Same shuffle-free hash minting as split_clusters_by (no global sort).
    new_ids = (
        members.join(grp, [cluster_col, street_col, zip_col], "left_semi")
        .select(cluster_col, street_col, zip_col, number_col)
        .distinct()
        .withColumn(
            "_new",
            F.xxhash64(
                F.lit("snsplit"),
                F.col(cluster_col),
                F.col(street_col),
                F.col(zip_col),
                F.col(number_col),
            ),
        )
    )
    return (
        members.join(new_ids, [cluster_col, street_col, zip_col, number_col], "left")
        .withColumn(cluster_col, F.coalesce("_new", F.col(cluster_col)))
        .drop("_new")
    )


def number_chain_entities(
    canon: DataFrame,
    name_col: str = "canonical_name",
    cluster_col: str = "final_cluster",
    addr_col: str = "canonical_address",
) -> DataFrame:
    """C8 chain-entity numbering (reference resolver.py:943-1001): when the
    same canonical name belongs to multiple clusters (a chain with several
    locations), number them ' - N' by address order (W2,
    resolver.py:979) so canonical names stay unique."""
    w = Window.partitionBy(name_col).orderBy(
        F.asc_nulls_last(addr_col), F.asc(cluster_col)
    )
    counts = Window.partitionBy(name_col)
    return (
        canon.withColumn("_n", F.count("*").over(counts))
        .withColumn("_i", F.row_number().over(w))
        .withColumn(
            name_col,
            F.when(
                F.col("_n") > 1,
                F.concat(F.col(name_col), F.lit(" - "), F.col("_i").cast("string")),
            ).otherwise(F.col(name_col)),
        )
        .drop("_n", "_i")
    )


def consolidate_similar_addresses(
    members: DataFrame,
    addr_col: str = "addr_normalized_key",
    score_col: str = "addr_score",
    threshold: float = 0.87,
    blocking_cfg=None,
    jw_chars: int = 64,
) -> DataFrame:
    """C1 (reference resolver.py:1644-1709): consolidate near-identical
    address strings to one canonical form per similarity component.

    Distinct keys (with frequency and completeness score) are blocked with
    the engine's key machinery, pairs above the Jaro-Winkler threshold form
    edges, connected components group the variants, and the component's best
    representative (score desc, freq desc, key asc — the reference's sort)
    replaces every member's key. Runs over DISTINCT keys only, so the heavy
    work is proportional to unique addresses, not rows."""
    from ..config import BlockingConfig
    from .blocking import blocking_plan, candidate_pairs
    from .connected_components import connected_components
    from .scoring import make_jw_udf

    blocking_cfg = blocking_cfg or BlockingConfig()
    uniq = (
        members.where(F.col(addr_col).isNotNull() & (F.col(addr_col) != ""))
        .groupBy(addr_col)
        .agg(
            F.count("*").alias("_freq"),
            F.max(F.coalesce(F.col(score_col), F.lit(0.0))).alias("_score"),
        )
        .withColumn("_aid", F.xxhash64(addr_col))
        .localCheckpoint(eager=False)
    )
    keys, tokens = blocking_plan(uniq, "_aid", addr_col, cfg=blocking_cfg)
    pairs = candidate_pairs(keys, blocking_cfg, tokens=tokens)
    jw = make_jw_udf(jw_chars)
    texts = uniq.select(F.col("_aid"), F.col(addr_col).alias("_t"))
    edges = (
        pairs.join(texts.withColumnsRenamed({"_aid": "src", "_t": "_ta"}), "src")
        .join(texts.withColumnsRenamed({"_aid": "dst", "_t": "_tb"}), "dst")
        .where(jw("_ta", "_tb") >= threshold)
        .select("src", "dst")
    )
    comp = connected_components(edges).withColumnsRenamed(
        {"vertex": "_aid", "component": "_comp"}
    )
    grouped = uniq.join(comp, "_aid")  # only keys in some component matter
    rep = (
        grouped.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_comp").orderBy(
                    F.desc("_score"), F.desc("_freq"), F.asc(addr_col)
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select("_comp", F.col(addr_col).alias("_canon_addr"))
    )
    remap = (
        grouped.join(rep, "_comp")
        .where(F.col(addr_col) != F.col("_canon_addr"))
        .select(addr_col, "_canon_addr")
    )
    return (
        members.join(remap, addr_col, "left")
        .withColumn(addr_col, F.coalesce("_canon_addr", F.col(addr_col)))
        .drop("_canon_addr")
    )


def consolidate_names_by_address(
    members: DataFrame,
    addr_col: str = "addr_normalized_key",
    name_col: str = "normalized_text",
) -> DataFrame:
    """C2 (reference resolver.py:256-299): for every address key carrying
    more than one distinct name, elect ONE canonical name (V11 formula) and
    rewrite all rows of that address to it. One applyInPandas election pass
    over only the conflicted addresses instead of the reference's per-address
    CPU loop."""
    from .canonical import canonical_map

    multi = (
        members.where(F.col(addr_col).isNotNull() & (F.col(addr_col) != ""))
        .groupBy(addr_col)
        .agg(F.countDistinct(name_col).alias("_nn"))
        .where(F.col("_nn") > 1)
        .select(addr_col)
    )
    conflicted = members.join(multi, addr_col, "left_semi")
    elected = canonical_map(
        conflicted.select(
            F.xxhash64(addr_col).alias("_akey"), F.col(name_col).alias("nt")
        ),
        "_akey",
        "nt",
    ).select(F.col("cluster").alias("_akey"), F.col("canonical_text").alias("_cname"))
    return (
        members.withColumn("_akey", F.xxhash64(addr_col))
        .join(elected, "_akey", "left")
        .withColumn(name_col, F.coalesce("_cname", F.col(name_col)))
        .drop("_akey", "_cname")
    )


# --- invariants (C12) -------------------------------------------------------

def check_no_key_in_two_clusters(
    members: DataFrame, key_col: str = "norm_text", cluster_col: str = "cluster"
) -> int:
    """Reference resolver.py:2702-2725: returns the number of entity keys
    found in more than one cluster (0 = invariant holds)."""
    return (
        members.groupBy(key_col)
        .agg(F.countDistinct(cluster_col).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )


def check_unique_canonical_names(canon: DataFrame) -> int:
    """Reference resolver.py:1007-1015: canonical names must be unique
    across clusters (before chain numbering makes them so)."""
    return (
        canon.groupBy("canonical_text")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )


# --- report / review export (S5, S6) ---------------------------------------

def generate_report(resolved: DataFrame, top_n_clusters: int = 10) -> dict:
    """S5: summary statistics dict (reference resolver.py:1289-1385),
    including the reference's distribution stats (cluster-size describe,
    resolver.py:1311-1314) and the ``top_n_clusters`` largest clusters.

    All aggregates run over the full table distributed; only scalar rows
    and the bounded top-N listing are collected."""
    row = resolved.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.sum(F.when(F.col("cluster_size") == 1, 1).otherwise(0)).alias(
            "n_singletons"
        ),
        F.round(F.avg("confidence_score"), 4).alias("avg_confidence"),
        F.sum(F.col("needs_review").cast("int")).alias("n_needs_review"),
        F.max("cluster_size").alias("max_cluster_size"),
    ).first()
    cat = {
        r["confidence_category"]: r["n"]
        for r in resolved.groupBy("confidence_category")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    reasons = {
        r["reason"]: r["n"]
        for r in resolved.where(F.col("review_reason") != "")
        .select(F.explode(F.split("review_reason", ",")).alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # Per-cluster size table (one row per cluster, not per member) feeds
    # both the describe() analog and the largest-cluster listing.
    csizes = resolved.groupBy("cluster").agg(
        F.count("*").alias("size"),
        F.first("canonical_text").alias("canonical_text"),
    )
    dist = csizes.agg(
        F.round(F.avg("size"), 4).alias("mean"),
        F.round(F.coalesce(F.stddev_samp("size"), F.lit(0.0)), 4).alias("std"),
        F.min("size").alias("min"),
        F.percentile_approx("size", 0.25).alias("p25"),
        F.percentile_approx("size", 0.5).alias("p50"),
        F.percentile_approx("size", 0.75).alias("p75"),
        F.max("size").alias("max"),
    ).first()
    largest = [
        {
            "cluster": r["cluster"],
            "size": r["size"],
            "canonical_text": r["canonical_text"],
        }
        for r in csizes.orderBy(F.desc("size"), F.asc("cluster"))
        .limit(top_n_clusters)
        .collect()
    ]
    return {
        "n_docs": row["n_docs"],
        "n_clusters": row["n_clusters"],
        "n_singletons": row["n_singletons"],
        "avg_confidence": row["avg_confidence"],
        "n_needs_review": row["n_needs_review"],
        "max_cluster_size": row["max_cluster_size"],
        "confidence_categories": cat,
        "review_reasons": reasons,
        "cluster_size_stats": {
            "mean": dist["mean"],
            "std": dist["std"],
            "min": dist["min"],
            "p25": dist["p25"],
            "p50": dist["p50"],
            "p75": dist["p75"],
            "max": dist["max"],
        },
        "largest_clusters": largest,
    }


def review_dataframe(resolved: DataFrame) -> DataFrame:
    """S6: dedup + sorted review mapping table (reference
    resolver.py:1233-1287)."""
    return (
        resolved.where(F.col("needs_review"))
        .select(
            "norm_text",
            "canonical_text",
            "cluster",
            "confidence_score",
            "review_reason",
        )
        .dropDuplicates(["norm_text", "canonical_text"])
        .orderBy("canonical_text", "norm_text")
    )


# --- transform path (C13) ---------------------------------------------------

def assign_new_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    canon: DataFrame,
    cfg: ResolverConfig | None = None,
) -> DataFrame:
    """C13: assign new documents to existing clusters by blocking + scoring
    against the canonical representatives; unmatched docs become new
    entities (reference transform path, resolver.py:1633-1639).

    ``new_docs``: (doc_id, norm_text); ``canon``: (cluster, canonical_text).
    Returns (doc_id, cluster, match_score, is_new_entity).
    ``new_docs`` may be lazy: it is rebalanced and evaluated once per call,
    behind one barrier, so the batch's Python passes (block keys, DF
    partials, vectors) run over partitions AQE sizes from the batch's
    shuffled bytes instead of the caller's partitions. The rep side (rep
    block keys, IDF, rep vectors) is rebuilt from ``canon`` on every call.
    """
    from .blocking import cross_pairs
    from .scoring import score_pairs

    cfg = cfg or ResolverConfig()
    # the winner must reach edge_threshold: no pair at or above it may drop
    cfg = with_band_floor(cfg, cfg.scoring.edge_threshold)
    # Barrier: blocking (two key families), both doc-vector passes, the
    # sketches and the output join all read the batch; without it each
    # read reruns the caller's prepare chain (extraction, normalize UDFs).
    # The rebalance costs one shuffle of (doc_id, norm_text) and lets AQE
    # size the batch's partitions from its bytes: a small batch spread
    # over many partitions becomes one, so each Python pass over it pays
    # the worker floor once, not once per inherited partition (TUNING.md,
    # "Python worker floor", which also gives the large-batch timings).
    new_docs = (
        new_docs.select("doc_id", "norm_text")
        .hint("rebalance")
        .localCheckpoint(eager=False)
    )
    reps = canon.select(
        F.col("cluster").alias("doc_id"), F.col("canonical_text").alias("norm_text")
    )
    combined = new_docs.unionByName(reps)
    # only the (new x rep) pairs: blocking union(new, reps) would build
    # new x new and rep x rep pairs only to discard them
    nr = cross_pairs(
        new_docs, reps, "doc_id", "doc_id", "norm_text", "norm_text", cfg.blocking
    )
    scored = score_pairs(nr, combined, "doc_id", "norm_text", cfg.scoring)
    best = (
        scored.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
            ),
        )
        .where((F.col("_rn") == 1) & (F.col("score") >= cfg.scoring.edge_threshold))
        .select(
            F.col("src").alias("doc_id"),
            F.col("dst").alias("cluster"),
            F.col("score").alias("match_score"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", "doc_id").alias("cluster"),
            F.coalesce("match_score", F.lit(0.0)).alias("match_score"),
            F.col("match_score").isNull().alias("is_new_entity"),
        )
    )
