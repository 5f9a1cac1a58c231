"""Round-2 hygiene operators: C1 address-string consolidation, C2
names-per-address consolidation, G8 singleton attachment, G9 sampled-member
merge with the J3 name∩addr gate, A7 ensemble purity mapping."""

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import ResolverConfig
from gpu_entity_resolver_spark.operators.hygiene import (
    attach_singletons,
    consolidate_names_by_address,
    consolidate_similar_addresses,
    ensemble_overlap_purity,
    merge_similar_clusters,
)


def test_consolidate_similar_addresses(spark):
    rows = (
        [(i, "12 main st rockford il", 1.0) for i in range(3)]
        + [(3, "12 main street rockford il", 1.0)]
        + [(4, "99 willow ave galena il", 1.0)]
    )
    df = spark.createDataFrame(rows, "doc_id long, addr_normalized_key string, addr_score double")
    out = consolidate_similar_addresses(df)
    got = {r.doc_id: r.addr_normalized_key for r in out.collect()}
    # minority spelling folds into the majority (score tie -> freq wins)
    assert got[3] == "12 main st rockford il"
    assert got[0] == "12 main st rockford il"
    # the unrelated address is untouched
    assert got[4] == "99 willow ave galena il"


def test_consolidate_names_by_address(spark):
    rows = (
        [(i, "12 main st", "acme manufacturing") for i in range(5)]
        + [(5, "12 main st", "acme mfg")]
        + [(6, "99 oak ave", "zebra holdings")]
        + [(7, "", "no address one"), (8, "", "no address two")]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, addr_normalized_key string, normalized_text string"
    )
    out = consolidate_names_by_address(df)
    got = {r.doc_id: r.normalized_text for r in out.collect()}
    assert got[5] == "acme manufacturing"  # minority rewritten to the elected name
    assert got[0] == "acme manufacturing"
    assert got[6] == "zebra holdings"      # single-name address untouched
    # empty address keys never consolidate across unrelated rows
    assert got[7] == "no address one" and got[8] == "no address two"


def test_attach_singletons(spark):
    labels = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200),
         (9, 9), (10, 10), (11, 11)],
        "doc_id long, cluster long",
    )
    pairs = spark.createDataFrame(
        [
            # 9: strong, unambiguous pull to 100
            (9, 1, 0.9), (9, 2, 0.85), (9, 4, 0.3),
            # 10: ambiguous (two clusters, similar mean) -> skipped
            (10, 1, 0.85), (10, 2, 0.85), (10, 4, 0.84), (10, 5, 0.84),
            # 11: only one qualifying neighbor -> below min_matching
            (11, 3, 0.95),
        ],
        "src long, dst long, score double",
    )
    out = {r.doc_id: r.cluster for r in attach_singletons(pairs, labels).collect()}
    assert out[9] == 100          # attached
    assert out[10] == 10          # ratio test blocks the ambiguous pull
    assert out[11] == 11          # strength test blocks single-neighbor
    assert out[1] == 100 and out[4] == 200  # clustered docs untouched


def test_merge_similar_clusters_sampled(spark):
    cfg = ResolverConfig()
    cfg.clustering.merge_similar = True
    members = spark.createDataFrame(
        [
            (1, 100, "acme manufacturing"),
            (2, 100, "acme manufacturing"),
            (3, 200, "acme manufacturing"),
            (4, 200, "acme manufacturing co"),
            (5, 300, "zebra holdings"),
            (6, 300, "zebra holdings"),
        ],
        "doc_id long, cluster long, norm_text string",
    )
    canon = spark.createDataFrame(
        [(100, "acme manufacturing"), (200, "acme manufacturing"),
         (300, "zebra holdings")],
        "cluster long, canonical_text string",
    )
    same_addr = spark.createDataFrame(
        [(100, "12 main st rockford il"), (200, "12 main st rockford il"),
         (300, "99 willow ave galena il")],
        "cluster long, canonical_address string",
    )
    out = merge_similar_clusters(members, canon, cfg, canon_addr=same_addr)
    got = {r.doc_id: r.cluster for r in out.collect()}
    assert got[1] == got[3]        # over-split acme clusters merged
    assert got[5] not in (got[1],)  # zebra untouched
    # J3: identical names but FAR addresses must NOT merge
    far_addr = spark.createDataFrame(
        [(100, "12 main st rockford il"), (200, "99 pine rd denver co"),
         (300, "99 willow ave galena il")],
        "cluster long, canonical_address string",
    )
    out2 = merge_similar_clusters(members, canon, cfg, canon_addr=far_addr)
    got2 = {r.doc_id: r.cluster for r in out2.collect()}
    assert got2[1] != got2[3]
    # Sampled member pairs that score below the band floor count against
    # the median: unrelated members in cluster 200 pull it under
    # merge_median_threshold once they make up half the sampled pairs.
    unrelated = ["quartz pivot lumen", "gravel orchid tundra"]
    for n_unrelated, merged in ((1, True), (2, False)):
        noisy = members.unionByName(
            spark.createDataFrame(
                [(10 + i, 200, t) for i, t in enumerate(unrelated[:n_unrelated])],
                "doc_id long, cluster long, norm_text string",
            )
        )
        got3 = {
            r.doc_id: r.cluster
            for r in merge_similar_clusters(noisy, canon, cfg).collect()
        }
        assert (got3[1] == got3[3]) is merged


def test_number_chain_entities_standalone(spark):
    """C8 chain numbering must be reachable without the full EntityResolver
    path: same canonical name across clusters gets ' - N' by address order;
    unique names stay untouched (reference resolver.py:943-1001)."""
    from gpu_entity_resolver_spark.operators.hygiene import number_chain_entities

    canon = spark.createDataFrame(
        [
            (1, "Acme Pizza", "12 lake st chicago il"),
            (2, "Acme Pizza", "9000 desert rd phoenix az"),
            (3, "Acme Pizza", None),
            (4, "Zebra Holdings", "9 oak ave peoria il"),
        ],
        "final_cluster long, canonical_name string, canonical_address string",
    )
    got = {
        r.final_cluster: r.canonical_name
        for r in number_chain_entities(canon).collect()
    }
    # numbered by address asc ('12...' < '9000...' lexically), nulls last
    assert got[1] == "Acme Pizza - 1"
    assert got[2] == "Acme Pizza - 2"
    assert got[3] == "Acme Pizza - 3"   # null address sorts last
    assert got[4] == "Zebra Holdings"   # unique names stay untouched


def test_ensemble_overlap_purity(spark):
    # a-clusters 1/2; b-clusters: 10 pure in 1, 20 split 3:1 across 1 and 2,
    # 30 too small (overlap 1)
    a = spark.createDataFrame(
        [(i, 1) for i in range(1, 8)] + [(8, 2), (9, 2), (10, 2)],
        "doc_id long, cluster long",
    )
    b = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10),
         (4, 20), (5, 20), (6, 20), (8, 20),
         (9, 30)],
        "doc_id long, cluster long",
    )
    rows = {r.b_cluster: r for r in ensemble_overlap_purity(a, b).collect()}
    assert rows[10].a_cluster == 1 and rows[10].purity == 1.0
    assert rows[20].a_cluster == 1 and abs(rows[20].purity - 0.75) < 1e-9
    assert 30 not in rows  # min_overlap filter


def test_ensemble_labels_rescue_and_mint(spark):
    """G10 arbitration: A-noise docs are rescued via the purity mapping;
    unmapped B-only groups of sufficient size mint a new cluster."""
    from gpu_entity_resolver_spark.operators.hygiene import ensemble_labels

    # A: core cluster 1 = docs 1-3; everything else noise (singletons)
    a = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 7), (8, 8),
         (9, 9), (10, 10), (11, 11)],
        "doc_id long, cluster long",
    )
    # B: cluster 100 overlaps A cluster 1 purely (docs 1,2,3) and also
    # contains noise doc 4 -> doc 4 is RESCUED into A cluster 1.
    # B cluster 200 = docs 5-8, unmapped, size 4 -> MINTED as new cluster.
    # B cluster 300 = docs 9-10, unmapped but too small -> stays noise.
    b = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 100),
         (5, 200), (6, 200), (7, 200), (8, 200),
         (9, 300), (10, 300), (11, 11)],
        "doc_id long, cluster long",
    )
    got = {r.doc_id: r for r in ensemble_labels(a, b).collect()}
    for d in (1, 2, 3):
        assert got[d].cluster == 1 and got[d].label_source == 0
    assert got[4].cluster == 1 and got[4].label_source == 1      # rescued
    minted = {got[d].cluster for d in (5, 6, 7, 8)}
    assert len(minted) == 1 and got[5].label_source == 2          # minted
    assert minted.isdisjoint({1, 4, 5, 6, 7, 8, 9, 10, 11})
    assert got[9].cluster == 9 and got[9].label_source == 0       # too small
    assert got[11].cluster == 11 and got[11].label_source == 0    # b-noise
