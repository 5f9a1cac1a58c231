"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full entity-resolution pipeline on a
deterministic Common-Crawl-style documents table derived from sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family from SURVEY.md §2. SQL-expressible operators carry a DuckDB oracle;
the LSH/scorer/CC/pipeline operators are rows-only (documented per entry).

Column-name parity: every computed column is aliased identically in the
Spark query and the oracle SQL. Float aggregates are rounded in BOTH
engines so summation-order differences cannot flip the value hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import ResolverConfig
from gpu_entity_resolver_spark.functions.normalize import (
    address_key,
    address_key_sql,
    address_score,
    address_score_sql,
    normalize_entity_text,
    normalize_entity_text_sql,
)
from gpu_entity_resolver_spark.functions.textstats import (
    doc_fingerprint,
    doc_fingerprint_sql,
    lang_id_guess,
    lang_id_guess_sql,
    quality_stats,
    quality_stats_sql,
    token_count,
    token_count_sql,
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(_t(sf_dir, name))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Resolve the synthetic web-page corpus at sf0.001 and return the
    per-document resolution (clusters, canonical text, confidence)."""
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    docs = generate_documents(spark, "/root/testdata/sf0.001").select(*INPUT_COLUMNS)
    return resolve_documents(spark, docs)


# ---------------------------------------------------------------------------
# oracle-checked queries (SQL-expressible operators, SURVEY.md §2.2-2.6)
# ---------------------------------------------------------------------------

def _q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 name normalization (SURVEY.md §2.2 P1; reference resolver.py:130-182)
    return _read(spark, sf_dir, "documents").select(
        "doc_id", normalize_entity_text(F.col("text")).alias("norm_text")
    )


def _q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality scoring + token counting (training-data ops; brief §text-analysis)
    stats = quality_stats(F.col("text"))
    return _read(spark, sf_dir, "documents").select(
        "doc_id", *[c.alias(n) for n, c in stats.items()]
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", lang_id_guess(F.col("text")).alias("lang_guess")
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # document fingerprinting (exact-dedup key)
    return _read(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact dedup groups over the fingerprint (hash-groupBy)
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    return (
        d.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def _q_addr_key_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 address key + P4 completeness score over components synthesized
    # identically in both engines (reference utils.py:99-166)
    c = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 1000).cast("string").alias("num"),
        F.col("c_mktsegment").alias("street"),
        F.col("c_name").alias("city"),
        F.when(F.col("c_nationkey") < 10, "IL").otherwise("X").alias("state"),
        F.lpad((F.col("c_custkey") % 100000).cast("string"), 5, "0").alias("zip"),
    )
    return c.select(
        "c_custkey",
        address_key(
            F.col("num"), F.col("street"), F.col("city"), F.col("state"), F.col("zip")
        ).alias("addr_key"),
        address_score(
            F.col("num"), F.col("street"), F.col("city"), F.col("state"), F.col("zip")
        ).alias("addr_score"),
    )


def _q_agg_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 groupby nunique (reference resolver.py:264, 948-958)
    return (
        _read(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count("*").alias("n_orders"),
        )
    )


def _q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2 multi-agg count/mean/std (reference resolver.py:1113-1117)
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def _q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 value_counts (reference utils.py:49; resolver.py:681)
    return (
        _read(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


def _q_minmax_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5 min/max/nunique per group — range-conflict detection shape
    # (reference resolver.py:867-874)
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


def _q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A6 most-frequent value per group (reference resolver.py:681),
    # deterministic tie-break on the value itself
    cnt = (
        _read(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1/W5 winner-per-group / top-k (reference resolver.py:590-591,
    # utils.py:202-205) with deterministic tie-breaks
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _read(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def _q_chain_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W2 cumcount+1 chain numbering (reference resolver.py:979)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        _read(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", F.row_number().over(w).alias("chain_no"))
    )


def _q_group_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3 ngroup minting (reference resolver.py:857-859) via dense_rank
    return _read(spark, sf_dir, "customer").select(
        "c_custkey",
        F.dense_rank().over(Window.orderBy("c_mktsegment")).alias("segment_id"),
    )


def _q_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 broadcast map-apply join + aggregation (reference resolver.py:691)
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J6 anti-join (reference isin/setdiff shapes, resolver.py:2117)
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def _q_reason_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A10 csv-reason explode + count (reference resolver.py:1322-1323):
    # build the reason csv from boolean flags, then explode and count
    li = _read(spark, sf_dir, "lineitem").select(
        F.concat_ws(
            ",",
            F.array_compact(
                F.array(
                    F.when(F.col("l_discount") > 0.05, F.lit("discounted")),
                    F.when(F.col("l_tax") > 0.04, F.lit("high_tax")),
                    F.when(F.col("l_quantity") > 40, F.lit("bulk")),
                )
            ),
        ).alias("reasons")
    )
    return (
        li.where(F.col("reasons") != "")
        .select(F.explode(F.split("reasons", ",")).alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
    )


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 distribution stats (reference resolver.py:1311) — exact percentile
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5D)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.9D)"), 4).alias("p90"),
        )
    )


def _q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # brute-force cosine top-k (similarity-search baseline); rank ints only
    # so float formatting can't break the hash — ties broken by neighbor id
    from gpu_entity_resolver_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: LSH, scorer, CC, full pipeline)
# ---------------------------------------------------------------------------

def _members_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic (cluster, norm_text, lang) membership table derived from
    # orders — same construction mirrored in the DuckDB oracles
    return _read(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("cluster"),
        F.concat_ws(
            "-", F.col("o_orderpriority"), (F.col("o_orderkey") % 7).cast("string")
        ).alias("norm_text"),
        F.when(F.col("o_orderkey") % 11 == 0, "de").otherwise("en").alias("lang"),
    )


def _q_consolidate_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C6 consolidate-identical-entities (reference resolver.py:702-782):
    # keys in >1 cluster move to the largest cluster (tie: smallest id)
    from gpu_entity_resolver_spark.operators.hygiene import (
        consolidate_identical_entities,
    )

    out = consolidate_identical_entities(_members_fixture(spark, sf_dir))
    return out.groupBy("cluster").agg(
        F.count("*").alias("n"),
        F.countDistinct("norm_text").alias("n_keys"),
    )


def _q_split_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C7 split clusters spanning >1 language (reference resolver.py:850-860).
    # The operator mints shuffle-free xxhash64 ids (no global sort); for the
    # DuckDB compare the minted ids are canonicalized back to the reference's
    # `max_id + dense_rank` numbering — the global window lives only in this
    # tiny oracle query, never in the operator.
    from gpu_entity_resolver_spark.operators.hygiene import split_clusters_by

    fix = _members_fixture(spark, sf_dir).withColumn("orig", F.col("cluster"))
    out = split_clusters_by(fix, "lang")
    mx = fix.agg(F.max("cluster").alias("_mx"))
    ren = (
        out.where(F.col("cluster") != F.col("orig"))
        .select("orig", "lang")
        .distinct()
        .withColumn("_rk", F.dense_rank().over(Window.orderBy("orig", "lang")))
        .crossJoin(F.broadcast(mx))
        .select("orig", "lang", (F.col("_rk") + F.col("_mx")).alias("_canon"))
    )
    return (
        out.join(ren, ["orig", "lang"], "left")
        .withColumn("cluster", F.coalesce("_canon", F.col("cluster")))
        .groupBy("cluster", "lang")
        .agg(F.count("*").alias("n"))
    )


# 12 well-separated entity families for the validation/consolidation
# fixtures: max cross-family name JW = 0.704 (< 0.89 threshold), max
# cross-family address JW = 0.761 (< 0.87); the 'street' spelling variant
# sits at JW 0.932 (>= 0.87). Mirrored verbatim in the DuckDB oracles.
_FAMILIES = [
    "crystal clean", "midwest waste", "acme trucking", "zebra holdings",
    "quarry granite", "delta freight", "northern pine", "sunset grill",
    "harbor marine", "iron foundry", "maple bakery", "cobalt mining",
]
_STREETS = ["main", "oak", "birch", "cedar", "elm", "maple",
            "walnut", "spruce", "aspen", "willow", "poplar", "hickory"]
_CITIES = ["rockford", "peoria", "naperville", "springfield", "evanston",
           "joliet", "aurora", "waukegan", "decatur", "champaign",
           "galena", "moline"]
_FAM_ADDRS = [
    f"{11 + 7 * i} {s} st {c} il"
    for i, (s, c) in enumerate(zip(_STREETS, _CITIES))
]


def _fam_sql_list(vals: list[str]) -> str:
    return "[" + ", ".join("'" + v + "'" for v in vals) + "]"


def _q_validate_reassign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C3 validate + reassign (reference resolver.py:2334-2651): members
    # planted into the WRONG family cluster fail the 0.89/0.87 JW eviction
    # filter against their cluster profile and get reassigned to the family
    # whose profile they actually match (weighted argmax, weights
    # config.py:213-218). Profiles are explicit so the oracle is exact.
    from gpu_entity_resolver_spark.operators.validate import validate_reassign

    names = F.array(*[F.lit(x) for x in _FAMILIES])
    addrs = F.array(*[F.lit(x) for x in _FAM_ADDRS])
    f = (F.col("o_custkey") % 12).cast("int")
    mover = F.col("o_orderkey") % 97 == 0
    members = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.element_at(names, f + 1).alias("normalized_text"),
        F.element_at(addrs, f + 1).alias("addr_normalized_key"),
        F.lit("il").alias("addr_state"),
        F.when(mover, (f + 1) % 12).otherwise(f).cast("long").alias("cluster"),
    )
    profiles = spark.createDataFrame(
        [
            (i, _FAMILIES[i], _FAM_ADDRS[i], "il", 10, 0.9)
            for i in range(12)
        ],
        "cluster long, profile_name string, profile_addr_key string, "
        "profile_state string, size long, avg_prob double",
    )
    out = validate_reassign(members, profiles=profiles)
    return out.select("doc_id", "cluster", "membership_status")


def _q_enrich_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C7 address enrichment (reference resolver.py:790-841): street-less
    # rows inherit the cluster's best street iff city/state/zip match the
    # canonical address; the key is rebuilt and the row flagged.
    from gpu_entity_resolver_spark.operators.validate import enrich_addresses

    streets = F.array(*[F.lit(x) for x in _STREETS])
    cities = F.array(*[F.lit(x) for x in _CITIES])
    cl = (F.col("o_custkey") % 100).cast("long")
    missing = F.col("o_orderkey") % 7 == 0
    badzip = missing & (F.col("o_orderkey") % 3 == 0)
    num = F.when(missing, "").otherwise((11 + cl % 10).cast("string"))
    street = F.when(missing, "").otherwise(
        F.element_at(streets, (cl % 12).cast("int") + 1)
    )
    city = F.element_at(cities, (cl % 12).cast("int") + 1)
    zipc = F.when(badzip, "99999").otherwise((60000 + cl).cast("string"))
    rows = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        cl.alias("cluster"),
        num.alias("addr_street_number"),
        street.alias("addr_street_name"),
        city.alias("addr_city"),
        F.lit("il").alias("addr_state"),
        zipc.alias("addr_zip"),
        F.when(missing, 0.5).otherwise(1.0).alias("addr_score"),
    ).withColumn(
        "addr_normalized_key",
        address_key(
            F.col("addr_street_number"), F.col("addr_street_name"),
            F.col("addr_city"), F.col("addr_state"), F.col("addr_zip"),
        ),
    )
    out = enrich_addresses(rows, "cluster")
    return out.select(
        "doc_id", "address_was_enriched", "addr_street_name",
        "addr_normalized_key",
    )


def _q_consolidate_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C1 (reference resolver.py:1644-1709): the minority 'street' spelling
    # folds into each family's majority 'st' key (score tie -> freq -> key)
    from gpu_entity_resolver_spark.operators.hygiene import (
        consolidate_similar_addresses,
    )

    addrs = F.array(*[F.lit(x) for x in _FAM_ADDRS])
    f = (F.col("o_custkey") % 12).cast("int")
    variant = F.col("o_orderkey") % 5 == 0
    base = F.element_at(addrs, f + 1)
    members = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(
            variant, F.regexp_replace(base, " st ", " street ")
        ).otherwise(base).alias("addr_normalized_key"),
        F.lit(1.0).alias("addr_score"),
    )
    out = consolidate_similar_addresses(members)
    return out.select("doc_id", "addr_normalized_key")


def _q_consolidate_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C2 (reference resolver.py:256-299): addresses carrying two name
    # spellings elect one canonical (V11); the majority base name wins by
    # frequency x similarity x length in this construction
    from gpu_entity_resolver_spark.operators.hygiene import (
        consolidate_names_by_address,
    )

    names = F.array(*[F.lit(x) for x in _FAMILIES])
    addrs = F.array(*[F.lit(x) for x in _FAM_ADDRS])
    f = (F.col("o_custkey") % 12).cast("int")
    variant = F.col("o_orderkey") % 5 == 0
    base = F.element_at(names, f + 1)
    members = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.element_at(addrs, f + 1).alias("addr_normalized_key"),
        F.when(variant, F.concat(base, F.lit(" co"))).otherwise(base).alias(
            "normalized_text"
        ),
    )
    out = consolidate_names_by_address(members)
    return out.select("doc_id", "normalized_text")


def _q_attach_singletons(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G8 noise attachment (reference utils.py:473-545): singletons with a
    # strong unambiguous neighbor signal attach; weak means (< tau 0.82)
    # stay singletons. Pair construction is deterministic from orders.
    from gpu_entity_resolver_spark.operators.hygiene import attach_singletons

    o = _read(spark, sf_dir, "orders")
    is_single = F.col("o_orderkey") % 101 == 0
    labels = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(is_single, F.col("o_orderkey"))
        .otherwise(F.col("o_custkey") % 50)
        .cast("long")
        .alias("cluster"),
    )
    singles = o.where(is_single).select(
        F.col("o_orderkey").alias("s_id"),
        (F.col("o_custkey") % 50).alias("home"),
        ((F.col("o_custkey") + 1) % 50).alias("decoy"),
        F.when(F.col("o_orderkey") % 202 == 0, 0.7).otherwise(0.9).alias(
            "strong_score"
        ),
    )
    members = o.where(~is_single).select(
        F.col("o_orderkey").alias("m_id"),
        (F.col("o_custkey") % 50).alias("m_cluster"),
    )
    rk = F.row_number().over(
        Window.partitionBy("s_id", "m_cluster").orderBy("m_id")
    )
    home_pairs = (
        singles.join(members, singles.home == members.m_cluster)
        .withColumn("_rk", rk)
        .where(F.col("_rk") <= 3)
        .select(
            F.col("s_id").alias("src"), F.col("m_id").alias("dst"),
            F.col("strong_score").alias("score"),
        )
    )
    decoy_pairs = (
        singles.join(members, singles.decoy == members.m_cluster)
        .withColumn("_rk", rk)
        .where(F.col("_rk") <= 2)
        .select(
            F.col("s_id").alias("src"), F.col("m_id").alias("dst"),
            F.lit(0.5).alias("score"),
        )
    )
    out = attach_singletons(home_pairs.unionByName(decoy_pairs), labels)
    return out.select("doc_id", "cluster")


def _q_ensemble_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7/G10 ensemble purity mapping (reference resolver.py:2157-2230)
    from gpu_entity_resolver_spark.operators.hygiene import (
        ensemble_overlap_purity,
    )

    o = _read(spark, sf_dir, "orders")
    # ~9% of rows cross over to a different a-cluster so purities land
    # strictly between the thresholds and 1.0
    a = o.select(
        F.col("o_orderkey").alias("doc_id"),
        (
            (
                F.col("o_custkey")
                + F.when(F.col("o_orderkey") % 11 == 0, 1).otherwise(0)
            )
            % 50
        ).cast("long").alias("cluster"),
    )
    b = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(
            F.col("o_orderkey") % 17 == 0, 150 + F.col("o_custkey") % 150
        )
        .otherwise(F.col("o_custkey") % 150)
        .cast("long")
        .alias("cluster"),
    )
    return ensemble_overlap_purity(a, b)


def _q_ensemble_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G10 full arbitration (reference resolver.py:2157-2278): noise docs are
    # rescued through the purity mapping; pure-noise B groups mint new
    # clusters. Minted xxhash64 ids are canonicalized to the group's min
    # doc id for the DuckDB compare (membership-identical).
    from gpu_entity_resolver_spark.operators.hygiene import ensemble_labels

    o = _read(spark, sf_dir, "orders")
    a_noise = F.col("o_orderkey") % 31 == 0
    a = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(a_noise, F.col("o_orderkey"))
        .otherwise(F.col("o_custkey") % 50)
        .cast("long")
        .alias("cluster"),
    )
    # even-keyed noise docs form pure-noise B groups (-> minted); odd-keyed
    # noise docs land in mapped B clusters (-> rescued)
    b = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(
            a_noise & (F.col("o_orderkey") % 2 == 0),
            1000 + F.col("o_custkey") % 20,
        )
        .otherwise(F.col("o_custkey") % 150)
        .cast("long")
        .alias("cluster"),
    )
    out = ensemble_labels(a, b)
    canon = F.when(
        F.col("label_source") == 2,
        F.min("doc_id").over(Window.partitionBy("cluster")),
    ).otherwise(F.col("cluster"))
    return out.select("doc_id", canon.alias("cluster"), "label_source")


def _q_phonetic_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P5 phonetic key (JVM soundex path; metaphone UDF covered in tests)
    from gpu_entity_resolver_spark.functions.phonetic import soundex_key

    return _read(spark, sf_dir, "documents").select(
        "doc_id", soundex_key(F.col("text"), 5).alias("phonetic_key")
    )


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G4 large-star/small-star CC on a deterministic graph derived from
    # orders (verified against a union-find oracle in tests/)
    from gpu_entity_resolver_spark.operators.connected_components import (
        connected_components,
    )

    o = _read(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 1000).alias("src"),
        (F.col("o_custkey") % 1000 + 1000).alias("dst"),
    )
    return connected_components(edges)


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash-LSH near-dup clusters over documents (blocking + cosine + CC)
    from gpu_entity_resolver_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_read(spark, sf_dir, "documents"), "doc_id", "text")


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Survivorship: longest-text winner per near-dup group, pass-through
    # for ungrouped docs (operators/dedup.py:dedup_survivors)
    from gpu_entity_resolver_spark.operators.dedup import (
        dedup_survivors,
        minhash_dedup,
    )

    docs = _read(spark, sf_dir, "documents")
    return dedup_survivors(
        docs, minhash_dedup(docs, "doc_id", "text"), policy="longest"
    )


def _q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LLM sequence packing: context-budget packs via bucketed running-sum
    # (operators/packing.py:pack_documents)
    from gpu_entity_resolver_spark.operators.packing import pack_documents

    return pack_documents(
        _read(spark, sf_dir, "documents"), token_budget=2048, n_buckets=16
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark decontamination: the deterministic ~1% slice
    # pmod(doc_id, 97) == 0 plays the eval set; every doc is flagged with
    # its 13-gram hit count (operators/decontaminate.py)
    from gpu_entity_resolver_spark.operators.decontaminate import (
        decontaminate_flags,
    )

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(97)) == 0).select("text")
    return decontaminate_flags(docs, bench, n=13)


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composite C4/Gopher-style keep/drop gate with first-failing-rule
    # reasons (functions/textstats.py:quality_filter)
    from gpu_entity_resolver_spark.functions.textstats import quality_filter

    flags = quality_filter(F.col("text"))
    return _read(spark, sf_dir, "documents").select(
        "doc_id", flags["reason"].alias("reason"), flags["keep"].alias("keep")
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash fingerprints + 16-bit bands
    from gpu_entity_resolver_spark.operators.dedup import simhash_bands

    return simhash_bands(_read(spark, sf_dir, "documents"), "doc_id", "text")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact 4-gram Jaccard near-dup pairs (>= 0.8) over blocked candidates.
    # Oracle-checked against an exact ALL-PAIRS DuckDB jaccard: blocking is
    # deterministic (fixed corpus + seed), and every >= 0.8 pair in the
    # corpus is recalled by the LSH keys (verified; the comparison asserts
    # BOTH the jaccard arithmetic and blocking recall at this threshold —
    # a blocking recall regression fails this row).
    from gpu_entity_resolver_spark.operators.dedup import ngram_jaccard_pairs

    return (
        ngram_jaccard_pairs(_read(spark, sf_dir, "documents"), "doc_id", "text", n=4)
        .where(F.col("jaccard") >= 0.8)
        .select("src", "dst", F.round("jaccard", 6).alias("jaccard"))
    )


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus deterministically perturbed copies (vec_id + 1000000):
    planted[i] = v[i] + 0.1 * v[((i + 16) % D) + 1] — a rotation-mix both
    Spark and DuckDB compute bit-identically, giving cosine ~0.995 planted
    near-dup pairs without any external data."""
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, size(embedding)), i -> "
            "cast(element_at(embedding, i) as double) + 0.1D * "
            "cast(element_at(embedding, pmod(i + 16, size(embedding)) + 1) as double))"
        ).alias("embedding"),
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    return base.unionByName(planted)


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup via banded multiprobe hyperplane LSH; the
    # planted corpus guarantees real near-dup pairs exist (recall is oracle-
    # checked against DuckDB's exact all-pairs at the same threshold)
    from gpu_entity_resolver_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _neardup_corpus(spark, sf_dir), threshold=0.95
    ).select("src", "dst")


def _q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-bucketed approximate top-k (scale path of similarity search)
    from gpu_entity_resolver_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5).select("query_id", "neighbor_id", "rank")


def _q_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF at FULL probe (n_probe = n_centroids) is exhaustive: every query
    # scans every inverted list, so the result must equal brute force —
    # which puts the IVF machinery (centroid seeding, nearest-centroid
    # assignment, probe ranking, candidate union, final top-k) under the
    # same DuckDB value-hash oracle as knn_bruteforce. The approximate
    # default path keeps its recall pytest (tests/test_simfns.py).
    from gpu_entity_resolver_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, k=5, n_centroids=32, n_probe=32
    ).select("query_id", "neighbor_id", "rank")


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal plumbing: binary payload -> typed metadata + phash
    # (decode stubbed behind the deterministic FAKEIMG codec; see
    # functions/multimodal.py)
    from gpu_entity_resolver_spark.functions.multimodal import (
        generate_fake_images,
        image_features,
    )

    return image_features(generate_fake_images(spark, n=200))


def _q_assign_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C13 transform path on a planted WELL-SEPARATED fixture (the
    # validate_reassign oracle pattern): every new doc is either a tail
    # variant of exactly one family's canonical text (must assign to that
    # family: blocking's SN prefix key guarantees the candidate, the
    # 4-signal score ~0.86 clears edge_threshold 0.55, and no other family
    # shares a word) or a unique page (no family shares content -> new
    # entity, cluster = own doc_id). The assignment OUTCOME is therefore
    # decidable in SQL; the floating score is deliberately not returned.
    from gpu_entity_resolver_spark.operators.hygiene import assign_new_documents

    names = F.array(*[F.lit(x) for x in _FAMILIES])
    cities = F.array(*[F.lit(x) for x in _CITIES])
    # canonical ids offset to 1e10 + f: raw o_orderkey doc_ids reach 1e6+
    # at sf >= 1, so a small offset would collide and corrupt scoring
    canon = spark.range(12).select(
        (F.lit(10_000_000_000) + F.col("id")).alias("cluster"),
        F.concat_ws(
            " ",
            F.element_at(names, F.col("id").cast("int") + 1),
            F.lit("incorporated services of"),
            F.element_at(cities, F.col("id").cast("int") + 1),
            F.lit("illinois"),
        ).alias("canonical_text"),
    )
    # family from the orderkey (o_custkey is never divisible by 3 in TPC-H,
    # which would leave families {0,3,6,9} without any assignments)
    f = (F.floor(F.col("o_orderkey") / 3) % 12).cast("int")
    uniq = F.col("o_orderkey") % 3 == 0
    new = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.when(
            uniq,
            F.concat_ws(
                " ",
                F.lit("unrelated article number"),
                F.col("o_orderkey").cast("string"),
                F.lit("covering gardening weather recipes travel"),
                F.lower(F.col("o_orderpriority")),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.element_at(names, f + 1),
                F.lit("incorporated services of"),
                F.element_at(cities, f + 1),
                F.lit("offices"),
            )
        )
        .alias("norm_text"),
    )
    return assign_new_documents(spark, new, canon).select(
        "doc_id", "cluster", "is_new_entity"
    )


def _q_resolve_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full blocking→scoring→CC→canonical pipeline on the synthetic web corpus
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    docs = generate_documents(spark, sf_dir).select(*INPUT_COLUMNS)
    return resolve_documents(spark, docs).select(
        "url", "cluster", "canonical_text", "cluster_size", "confidence_category"
    )


def _q_resolve_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FULL flagship pipeline (blocking -> 4-signal scoring -> CC ->
    # hygiene -> canonical election) under the value-hash gate: a planted
    # WELL-SEPARATED corpus (12 vocab-disjoint families x 4 tail variants,
    # ~1.9k docs) whose correct clustering is decidable by construction.
    # Cluster labels are minted hashes, so the output normalizes each
    # cluster to its min url — the oracle computes the same label from the
    # planted family id. Any blocking recall miss, scoring flip, CC bug or
    # spurious hygiene merge/split changes the partition and fails the row.
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents

    names = F.array(*[F.lit(x) for x in _FAMILIES])
    cities = F.array(*[F.lit(x) for x in _CITIES])
    tails = F.array(
        F.lit(""), F.lit(" main office"), F.lit(" branch location"),
        F.lit(" downtown site"),
    )
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 8 == 0)
    # TPC-H orderkeys populate only the first 8 slots of every block of 32,
    # so the filtered keys are all == 8 (mod 32) and k % 4 would be the
    # constant 0 (and o_custkey is never divisible by 3, leaving 4 families
    # empty).  Derive BOTH family and variant from the block index
    # m = floor(k / 32), which is consecutive across the filtered keys:
    # every (family, variant) combination materializes.
    m = F.floor(F.col("o_orderkey") / 32)
    f = (F.floor(m / 4) % 12).cast("int")
    v = (m % 4).cast("int")
    docs = o.select(
        F.concat(
            F.lit("https://planted"), f.cast("string"),
            F.lit(".example.com/doc/"), F.col("o_orderkey").cast("string"),
        ).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.element_at(names, f + 1),
            F.lit(" incorporated services of "),
            F.element_at(cities, f + 1),
            F.lit(" illinois"),
            F.element_at(tails, v + 1),
        ).alias("text"),
        F.lit("en").alias("lang"),
    )
    out = resolve_documents(spark, docs)
    entity = F.min("url").over(Window.partitionBy("cluster"))
    return out.select("url", entity.alias("entity"))


def _q_resolve_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G5+G10 flagship variant: second labeling from the mutual-rank kNN
    # graph (reference SNN recall path, utils.py:400-469) arbitrated by
    # overlap/purity (resolver.py:2157-2278); label_source in {0,1,2}.
    # The webgen corpus has an empty score gap (false <= .44, true >= .65),
    # so BORDERLINE docs are planted deterministically: half of one doc's
    # words + half of another's, which scores in the sub-threshold recall
    # band against its source family — exactly what the reference's SNN
    # pass exists to rescue.
    from pyspark.sql import Window

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    cfg = ResolverConfig()
    cfg.clustering.ensemble_mutual_rank = True
    docs = generate_documents(spark, sf_dir).select(*INPUT_COLUMNS)
    base = (
        docs.orderBy("url")
        .limit(40)
        .withColumn("_rn", F.row_number().over(Window.orderBy("url")))
        .withColumn("_w", F.split(F.col("text"), r"\s+"))
        .localCheckpoint(eager=False)
    )
    donor = base.select(
        F.pmod(F.col("_rn") + 6, F.lit(40)).alias("_rn2"), F.col("_w").alias("_dw")
    )
    planted = (
        base.join(donor, F.pmod(F.col("_rn"), F.lit(40)) == F.col("_rn2"))
        .withColumn("_k", (F.size("_w") / 2).cast("int"))
        .select(
            F.concat(F.lit("planted://"), F.col("_rn").cast("string")).alias("url"),
            F.col("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.concat_ws(
                " ",
                F.slice(F.col("_w"), F.lit(1), F.col("_k")),
                F.slice(
                    F.col("_dw"), F.lit(1),
                    F.greatest(F.size("_w") - F.col("_k"), F.lit(1)),
                ),
            ).alias("text"),
            F.col("lang"),
        )
    )
    corpus = docs.unionByName(planted.select(*INPUT_COLUMNS))
    return resolve_documents(spark, corpus, cfg).select(
        "url", "cluster", "cluster_size", "label_source"
    )


def _ens_junk(tag: str, col, nwords: int = 1):
    """Character-unique pseudo-random filler words: lowercase base-36 of
    xxhash64. V1 TF-IDF is over CHAR shingles, so planted distinctness has
    to live at the character level — word stems with numeric suffixes all
    look alike to the vectorizer (measured: such 'unique' texts scored
    ~1.0 pairwise)."""
    parts = []
    for w in range(nwords):
        parts.append(
            F.lower(
                F.conv(
                    F.pmod(
                        F.xxhash64(F.lit(f"{tag}{w}"), col), F.lit(2**61)
                    ).cast("string"),
                    10,
                    36,
                )
            )
        )
    return F.concat_ws(" ", *parts)


def _q_resolve_ensemble_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G5+G10 ensemble arbitration under the VALUE-HASH gate: the full
    # pipeline with ensemble_mutual_rank on a planted corpus whose correct
    # partition AND label_source are decidable by construction. Multiples
    # of 8 are dense in the generated orders table, so i = o_orderkey/8 is
    # a contiguous doc index; each super-block of 10 docs is a
    # self-contained scenario (role = i%10):
    #   0-3  core    family words F(blk) x 5 + tail variant; pairwise
    #                score 0.85-0.91 -> A cluster (label_source 0)
    #   4    rescue  first 4 family words + 2 unique junk words; scores
    #                0.61-0.67 vs the cores — inside the planted
    #                [recall=0.56, edge=0.75) band, so it is A-noise,
    #                joins the family in the mutual-rank B labeling, and
    #                the purity mapping rescues it (label_source 1)
    #   5-8  mint    4 shared group words + 2 unique junk: pairwise
    #                0.62-0.65, in-band, no A cluster to map onto, group
    #                size 4 = min_new_cluster_size -> freshly minted
    #                cluster (label_source 2)
    #   9    noise   5 unique junk words: no candidate pairs at all; keeps
    #                its singleton (label_source 0)
    # Families/groups key off the super-block id, so they stay
    # CONSTANT-SIZE at every sf (a growing family would push the
    # rescue-core edges out of the mutual-rank top-k). Junk words are
    # char-disjoint across blocks, so the cross-block score ceiling is
    # 0.009 — any blocking miss, scoring flip, CC/arbitration bug or
    # spurious hygiene step changes the partition and fails the hash row.
    # Thresholds are fixture config (the engine's thresholds are config,
    # as in reference config.py): the default band [0.45,0.55) is
    # unreachable by in-band construction because the 0.35 cosine
    # prefilter and the lev/jw floor of any prefix-blocked pair bracket
    # it; [0.56,0.75) sits in measured open space on every side.
    # Partial trailing super-blocks decide degenerate outcomes the same
    # way the oracle does: <2 cores -> everyone stays singleton; <4 mint
    # members -> no mint.
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents

    tails = F.array(
        F.lit(""), F.lit(" main office"), F.lit(" branch location"),
        F.lit(" downtown site"),
    )
    o = _read(spark, sf_dir, "orders").where(F.col("o_orderkey") % 8 == 0)
    i = (F.col("o_orderkey") / 8).cast("long")
    blk = F.floor(i / 10)
    r = (i % 10).cast("int")
    f = (blk % 12).cast("int")
    core_text = F.concat(
        _ens_junk("f", blk, 5), F.element_at(tails, F.pmod(r, F.lit(4)) + 1)
    )
    rescue_text = F.concat_ws(
        " ", _ens_junk("f", blk, 4), _ens_junk("r", i, 2)
    )
    mint_text = F.concat_ws(" ", _ens_junk("g", blk, 4), _ens_junk("m", i, 2))
    noise_text = _ens_junk("n", i, 5)
    role = (
        F.when(r < 4, F.lit("core"))
        .when(r == 4, F.lit("rescue"))
        .when(r < 9, F.lit("mint"))
        .otherwise(F.lit("noise"))
    )
    text = (
        F.when(r < 4, core_text)
        .when(r == 4, rescue_text)
        .when(r < 9, mint_text)
        .otherwise(noise_text)
    )
    docs = o.select(
        F.concat(
            F.lit("https://planted.example.com/"), role, F.lit("/"),
            F.lpad(f.cast("string"), 2, "0"), F.lit("/"),
            F.lpad(blk.cast("string"), 6, "0"), F.lit("/"),
            F.col("o_orderkey").cast("string"),
        ).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
        F.lit("en").alias("lang"),
    # eager cut: the when/junk expression tree re-nested through ~20 P1
    # regex rules and ~7 scorer references overwhelms plan ANALYSIS (not
    # data — 2k rows); a LogicalRDD start keeps every downstream plan flat
    ).localCheckpoint(eager=True)

    cfg = ResolverConfig()
    cfg.clustering.ensemble_mutual_rank = True
    cfg.scoring.edge_threshold = 0.75
    cfg.clustering.ensemble_recall_threshold = 0.56
    out = resolve_documents(spark, docs, cfg)
    entity = F.min("url").over(Window.partitionBy("cluster"))
    return out.select("url", entity.alias("entity"), "label_source")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "normalize_text": _q_normalize,
        "textstats": _q_textstats,
        "langid": _q_langid,
        "fingerprint": _q_fingerprint,
        "exact_dedup": _q_exact_dedup,
        "addr_key_score": _q_addr_key_score,
        "agg_nunique": _q_agg_nunique,
        "agg_stats": _q_agg_stats,
        "value_counts": _q_value_counts,
        "minmax_range": _q_minmax_range,
        "mode_per_group": _q_mode_per_group,
        "topk_per_group": _q_topk_per_group,
        "chain_numbering": _q_chain_numbering,
        "group_ids": _q_group_ids,
        "join_enrich": _q_join_enrich,
        "anti_semi": _q_anti_semi,
        "reason_breakdown": _q_reason_breakdown,
        "percentiles": _q_percentiles,
        "knn_bruteforce": _q_knn_bruteforce,
        "embedding_neardup": _q_embedding_neardup,
        "validate_reassign": _q_validate_reassign,
        "enrich_address": _q_enrich_address,
        "consolidate_addresses": _q_consolidate_addresses,
        "consolidate_names": _q_consolidate_names,
        "attach_singletons": _q_attach_singletons,
        "ensemble_purity": _q_ensemble_purity,
        "ensemble_labels": _q_ensemble_labels,
        "consolidate_identical": _q_consolidate_identical,
        "split_clusters": _q_split_clusters,
        "phonetic_soundex": _q_phonetic_soundex,     # SQL soundex oracle
        "connected_components": _q_connected_components,  # recursive-CTE oracle
        "minhash_dedup": _q_minhash_dedup,           # exact TF-IDF replay oracle
        "dedup_survivors": _q_dedup_survivors,       # same replay + winner window
        "pack_documents": _q_pack_documents,         # window-arithmetic oracle
        "decontaminate": _q_decontaminate,           # gram-string join oracle
        "quality_filter": _q_quality_filter,         # SQL-twin renderer oracle
        "assign_new": _q_assign_new,                 # planted-fixture oracle
        "ngram_jaccard": _q_ngram_jaccard,           # exact all-pairs oracle
        # rows-only (no oracle_sql entry — genuinely non-SQL-expressible):
        # simhash emits raw xxhash64-derived fingerprints; knn_ivf is
        # approximate (recall pytest); image_features is a python codec;
        # the two resolve pipelines are full blocking+scoring+CC
        # compositions (F1 + golden + property pytests).
        "simhash": _q_simhash,
        "knn_ivf": _q_knn_ivf,
        "knn_ivf_exact": _q_knn_ivf_exact,  # full-probe == brute-force oracle
        "image_features": _q_image_features,
        # the flagship composition ALSO runs under the value-hash gate on
        # a planted decidable corpus (resolve_planted), and the G5+G10
        # ensemble arbitration path on its own planted decidable corpus
        # (resolve_ensemble_planted); the synthetic-web variants below
        # exercise realistic near-dup structure rows-only
        "resolve_planted": _q_resolve_planted,
        "resolve_ensemble_planted": _q_resolve_ensemble_planted,
        "resolve_pipeline": _q_resolve_pipeline,
        "resolve_ensemble": _q_resolve_ensemble,
    }


# Soundex digit codes per letter (Spark's US_ENGLISH_MAPPING with the H/W
# sentinel relabeled 7 -> 9); non-alpha chars first become '0' separators,
# exactly Spark's lastCode-reset behavior for bytes outside A-Z.
_SOUNDEX_CODES_SQL = (
    "translate(regexp_replace(upper(w), '[^A-Z]', '0', 'g'), "
    "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230129022455012623019202')"
)


def _collapse_runs_sql(expr: str) -> str:
    """SQL collapsing runs of identical soundex digits 1-6 (RE2 has no
    backreferences; 3 chained global replaces per digit handle runs <= 8,
    far beyond any word's adjacent same-code letters)."""
    for d in "123456":
        for _ in range(3):
            expr = f"replace({expr}, '{d}{d}', '{d}')"
    return expr


from gpu_entity_resolver_spark.functions.textstats import (
    quality_filter_sql as _qfs,
    token_count_sql as _tcs,
)

_TOKEN_COUNT_SQL_TEXT = _tcs("text")
_QUALITY_FILTER_SQL = _qfs("text")


# Shared exact ground truth for the MinHash-LSH near-dup pipeline
# (operators/dedup.py:minhash_dedup): the full TF-IDF formula replayed in
# SQL — char-4-gram codes byte-packed exactly like shingles._gram_codes
# (ASCII corpus; width tag at bit 48), sublinear tf * smoothed idf, top-64
# per doc by (weight desc, code asc), float32-rounded L2 normalization —
# then exact ALL-pairs cosine at the 0.85 threshold and connected
# components via a recursive transitive closure. LSH recall makes the
# approximate and exact component sets identical on this corpus (every
# same-group pair shares >= 1 surviving band key). Used by the
# minhash_dedup and dedup_survivors oracles.
_MINHASH_CTES = (
    "WITH RECURSIVE "
    "norm AS (SELECT doc_id, lower(coalesce(text, '')) AS nt "
    "FROM documents), "
    "nn AS (SELECT count(*) AS n FROM norm), "
    "grams AS (SELECT doc_id, "
    "ord(substring(nt, CAST(i AS INT), 1)) "
    "+ 256 * ord(substring(nt, CAST(i AS INT) + 1, 1)) "
    "+ 65536 * ord(substring(nt, CAST(i AS INT) + 2, 1)) "
    "+ 16777216 * ord(substring(nt, CAST(i AS INT) + 3, 1)) "
    "+ (CAST(4 AS BIGINT) << 48) AS h "
    "FROM (SELECT doc_id, nt, unnest(range(1, length(nt) - 2)) AS i "
    "FROM norm)), "
    "tf AS (SELECT doc_id, h, count(*) AS tf FROM grams GROUP BY 1, 2), "
    "dfq AS (SELECT h, count(*) AS df FROM tf GROUP BY 1), "
    "w AS (SELECT t.doc_id, t.h, "
    "(1.0 + ln(t.tf)) * (ln((1.0 + nn.n) / (1.0 + d.df)) + 1.0) AS w_raw "
    "FROM tf t JOIN dfq d USING (h) CROSS JOIN nn), "
    "kept AS (SELECT doc_id, h, w_raw FROM ("
    "SELECT doc_id, h, w_raw, row_number() OVER ("
    "PARTITION BY doc_id ORDER BY w_raw DESC, h ASC) AS rn FROM w) "
    "WHERE rn <= 64), "
    "vecs AS (SELECT doc_id, h, CAST(w_raw / sqrt(sum(w_raw * w_raw) "
    "OVER (PARTITION BY doc_id)) AS FLOAT) AS wn FROM kept), "
    "prs AS (SELECT a.doc_id AS src, b.doc_id AS dst, "
    "sum(CAST(a.wn AS DOUBLE) * CAST(b.wn AS DOUBLE)) AS cos "
    "FROM vecs a JOIN vecs b ON a.h = b.h AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "sym AS (SELECT src, dst FROM prs WHERE cos >= 0.85 "
    "UNION ALL SELECT dst, src FROM prs WHERE cos >= 0.85), "
    "reach(a, b) AS (SELECT src, dst FROM sym "
    "UNION SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src), "
    "labels AS (SELECT a AS doc_id, least(a, min(b)) AS dup_group "
    "FROM reach GROUP BY a), "
    "sizes AS (SELECT dup_group, CAST(count(*) AS BIGINT) AS "
    "group_size FROM labels GROUP BY 1) "
)


def oracle_sql() -> dict[str, str]:
    stats = quality_stats_sql("text")
    addr_key_expr = address_key_sql("num", "street", "city", "state", "zip")
    addr_score_expr = address_score_sql("num", "street", "city", "state", "zip")
    return {
        "normalize_text": (
            f"SELECT doc_id, {normalize_entity_text_sql('text')} AS norm_text "
            "FROM documents"
        ),
        "textstats": (
            "SELECT doc_id, "
            + ", ".join(f"{expr} AS {name}" for name, expr in stats.items())
            + " FROM documents"
        ),
        "langid": (
            f"SELECT doc_id, {lang_id_guess_sql('text')} AS lang_guess FROM documents"
        ),
        "fingerprint": (
            f"SELECT doc_id, {doc_fingerprint_sql('text')} AS fingerprint "
            "FROM documents"
        ),
        "exact_dedup": (
            f"SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs, "
            f"min(doc_id) AS keeper FROM (SELECT doc_id, "
            f"{doc_fingerprint_sql('text')} AS fingerprint FROM documents) "
            "GROUP BY fingerprint"
        ),
        "addr_key_score": (
            "SELECT c_custkey, "
            f"{addr_key_expr} AS addr_key, {addr_score_expr} AS addr_score "
            "FROM (SELECT c_custkey, "
            "CAST(c_custkey % 1000 AS VARCHAR) AS num, "
            "c_mktsegment AS street, c_name AS city, "
            "CASE WHEN c_nationkey < 10 THEN 'IL' ELSE 'X' END AS state, "
            "lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') AS zip "
            "FROM customer)"
        ),
        "agg_nunique": (
            "SELECT o_custkey, CAST(count(DISTINCT o_orderstatus) AS BIGINT) "
            "AS n_statuses, CAST(count(*) AS BIGINT) AS n_orders "
            "FROM orders GROUP BY o_custkey"
        ),
        "agg_stats": (
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
            "round(avg(l_quantity), 4) AS avg_qty, "
            "round(stddev_samp(l_quantity), 4) AS std_qty, "
            "round(sum(l_extendedprice), 2) AS sum_price "
            "FROM lineitem GROUP BY l_returnflag"
        ),
        "value_counts": (
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n "
            "FROM events GROUP BY event_type"
        ),
        "minmax_range": (
            "SELECT l_suppkey, min(l_quantity) AS min_qty, "
            "max(l_quantity) AS max_qty, "
            "CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts "
            "FROM lineitem GROUP BY l_suppkey"
        ),
        "mode_per_group": (
            "SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM ("
            "SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
            "row_number() OVER (PARTITION BY o_orderstatus "
            "ORDER BY count(*) DESC, o_orderpriority ASC) AS rn "
            "FROM orders GROUP BY o_orderstatus, o_orderpriority) WHERE rn = 1"
        ),
        "topk_per_group": (
            "SELECT o_custkey, o_orderkey, rk FROM ("
            "SELECT o_custkey, o_orderkey, CAST(row_number() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC"
            ") AS INTEGER) AS rk FROM orders) WHERE rk <= 3"
        ),
        "chain_numbering": (
            "SELECT o_custkey, o_orderkey, CAST(row_number() OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"
            ") AS INTEGER) AS chain_no FROM orders"
        ),
        "group_ids": (
            "SELECT c_custkey, CAST(dense_rank() OVER (ORDER BY c_mktsegment) "
            "AS INTEGER) AS segment_id FROM customer"
        ),
        "join_enrich": (
            "SELECT p_brand, round(sum(l_extendedprice * (1.0 - l_discount)), 2) "
            "AS revenue, CAST(count(*) AS BIGINT) AS n_items "
            "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
        ),
        "anti_semi": (
            "SELECT c_custkey, c_mktsegment FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "reason_breakdown": (
            "SELECT reason, CAST(count(*) AS BIGINT) AS n FROM ("
            "SELECT unnest(string_split(reasons, ',')) AS reason FROM ("
            "SELECT concat_ws(',', "
            "CASE WHEN l_discount > 0.05 THEN 'discounted' END, "
            "CASE WHEN l_tax > 0.04 THEN 'high_tax' END, "
            "CASE WHEN l_quantity > 40 THEN 'bulk' END) AS reasons "
            "FROM lineitem) WHERE reasons <> '') GROUP BY reason"
        ),
        "percentiles": (
            "SELECT l_linestatus, "
            "round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, "
            "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90 "
            "FROM lineitem GROUP BY l_linestatus"
        ),
        "consolidate_identical": (
            "WITH members AS (SELECT o_custkey % 100 AS cluster, "
            "concat_ws('-', o_orderpriority, CAST(o_orderkey % 7 AS VARCHAR)) "
            "AS norm_text FROM orders), "
            "sizes AS (SELECT cluster, count(*) AS csize FROM members GROUP BY cluster), "
            "winner AS (SELECT norm_text, cluster AS w FROM ("
            "SELECT m.norm_text, m.cluster, row_number() OVER ("
            "PARTITION BY m.norm_text ORDER BY s.csize DESC, m.cluster ASC) AS rn "
            "FROM (SELECT DISTINCT norm_text, cluster FROM members) m "
            "JOIN sizes s USING (cluster)) WHERE rn = 1), "
            "remapped AS (SELECT coalesce(w.w, m.cluster) AS cluster, m.norm_text "
            "FROM members m LEFT JOIN winner w USING (norm_text)) "
            "SELECT cluster, CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT norm_text) AS BIGINT) AS n_keys "
            "FROM remapped GROUP BY cluster"
        ),
        "split_clusters": (
            "WITH members AS (SELECT o_custkey % 100 AS cluster, "
            "concat_ws('-', o_orderpriority, CAST(o_orderkey % 7 AS VARCHAR)) "
            "AS norm_text, CASE WHEN o_orderkey % 11 = 0 THEN 'de' ELSE 'en' END "
            "AS lang FROM orders), "
            "multi AS (SELECT cluster FROM (SELECT cluster, "
            "count(DISTINCT lang) AS nv FROM members GROUP BY cluster) WHERE nv > 1), "
            "newids AS (SELECT cluster, lang, dense_rank() OVER (ORDER BY cluster, lang) "
            "+ (SELECT max(cluster) FROM members) AS newc FROM ("
            "SELECT DISTINCT cluster, lang FROM members "
            "WHERE cluster IN (SELECT cluster FROM multi))), "
            "remapped AS (SELECT coalesce(n.newc, m.cluster) AS cluster, m.lang "
            "FROM members m LEFT JOIN newids n "
            "ON m.cluster = n.cluster AND m.lang = n.lang) "
            "SELECT cluster, lang, CAST(count(*) AS BIGINT) AS n "
            "FROM remapped GROUP BY cluster, lang"
        ),
        # IVF at full probe is exhaustive and must equal brute force (same
        # cosine arithmetic, same ties): identical oracle SQL
        "knn_ivf_exact": (
            "SELECT query_id, neighbor_id, rk AS rank FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding, c.embedding) DESC, "
            "c.vec_id ASC) AS INTEGER) AS rk "
            "FROM embeddings q, embeddings c "
            "WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) WHERE rk <= 5"
        ),
        "knn_bruteforce": (
            "SELECT query_id, neighbor_id, rk AS rank FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            "CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding, c.embedding) DESC, "
            "c.vec_id ASC) AS INTEGER) AS rk "
            "FROM embeddings q, embeddings c "
            "WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) WHERE rk <= 5"
        ),
        # C3: movers planted into the wrong family fail the 0.89/0.87 JW
        # eviction filter (max cross-family JW 0.704/0.761 by construction,
        # so the weighted argmax can only land on the true family) and get
        # reassigned; everyone else validates in place.
        "validate_reassign": (
            "SELECT o_orderkey AS doc_id, CAST(o_custkey % 12 AS BIGINT) AS cluster, "
            "CASE WHEN o_orderkey % 97 = 0 THEN 'reassigned' ELSE 'kept' END "
            "AS membership_status FROM orders"
        ),
        # exact ALL-PAIRS 4-gram jaccard at >= 0.8 — no blocking: DuckDB
        # enumerates every co-gram pair, so the comparison also proves the
        # Spark side's LSH blocking recalled every >= 0.8 pair.
        "ngram_jaccard": (
            "WITH d AS (SELECT doc_id, lower(coalesce(text, '')) AS nt "
            "FROM documents), "
            "g AS (SELECT DISTINCT doc_id, substring(nt, CAST(i AS INT), 4) AS gram "
            "FROM (SELECT doc_id, nt, unnest(range(1, length(nt) - 2)) AS i FROM d) "
            "WHERE length(nt) >= 4 "
            "UNION "
            "SELECT DISTINCT doc_id, nt AS gram FROM d WHERE length(nt) < 4), "
            "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS i "
            "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT src, dst, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) "
            "AS jaccard FROM inter "
            "JOIN sz sa ON sa.doc_id = src JOIN sz sb ON sb.doc_id = dst "
            "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8"
        ),
        # flagship on the planted corpus: the correct partition groups
        # exactly the rows of one family; labels normalize to min url
        "resolve_planted": (
            "WITH d AS (SELECT 'https://planted' || "
            "(((o_orderkey // 32) // 4) % 12) || "
            "'.example.com/doc/' || o_orderkey AS url, "
            "((o_orderkey // 32) // 4) % 12 AS f "
            "FROM orders WHERE o_orderkey % 8 = 0) "
            "SELECT url, min(url) OVER (PARTITION BY f) AS entity FROM d"
        ),
        # G5+G10 on the planted ensemble corpus: the expected partition and
        # label_source per doc are pure arithmetic on the doc index
        # (role = (o_orderkey/8) % 10; family/group = the super-block);
        # clusters normalize to min(url), as in resolve_planted. Partial
        # trailing super-blocks: <2 cores -> singletons, <4 mint members
        # -> no mint, exactly as the engine decides them.
        "resolve_ensemble_planted": (
            "WITH d AS (SELECT o_orderkey // 8 AS i, "
            "o_orderkey // 80 AS blk, (o_orderkey // 8) % 10 AS r, "
            "o_orderkey AS k FROM orders WHERE o_orderkey % 8 = 0), "
            "d2 AS (SELECT *, CASE WHEN r < 4 THEN 'core' "
            "WHEN r = 4 THEN 'rescue' WHEN r < 9 THEN 'mint' "
            "ELSE 'noise' END AS role, "
            "'https://planted.example.com/' || "
            "(CASE WHEN r < 4 THEN 'core' WHEN r = 4 THEN 'rescue' "
            "WHEN r < 9 THEN 'mint' ELSE 'noise' END) || '/' || "
            "lpad(CAST(blk % 12 AS VARCHAR), 2, '0') || '/' || "
            "lpad(CAST(blk AS VARCHAR), 6, '0') || '/' || k AS url FROM d), "
            "st AS (SELECT blk, "
            "count(*) FILTER (WHERE role = 'core') AS nc, "
            "count(*) FILTER (WHERE role = 'mint') AS nm "
            "FROM d2 GROUP BY blk), "
            "g AS (SELECT d2.*, CASE "
            "WHEN role IN ('core', 'rescue') AND st.nc >= 2 "
            "THEN 'C' || CAST(d2.blk AS VARCHAR) "
            "WHEN role = 'mint' AND st.nm >= 4 "
            "THEN 'M' || CAST(d2.blk AS VARCHAR) "
            "ELSE url END AS gk, "
            "CASE WHEN role = 'rescue' AND st.nc >= 2 THEN 1 "
            "WHEN role = 'mint' AND st.nm >= 4 THEN 2 "
            "ELSE 0 END AS label_source "
            "FROM d2 JOIN st ON d2.blk = st.blk) "
            "SELECT url, min(url) OVER (PARTITION BY gk) AS entity, "
            "CAST(label_source AS INT) AS label_source FROM g"
        ),
        # C13 on the planted fixture: tail variants of family f assign to
        # canonical cluster 1e10 + f; unique pages mint themselves.
        "assign_new": (
            "SELECT o_orderkey AS doc_id, "
            "CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey "
            "ELSE 10000000000 + (o_orderkey // 3) % 12 END AS BIGINT) AS cluster, "
            "(o_orderkey % 3 = 0) AS is_new_entity FROM orders"
        ),
        # C7 enrichment: full algorithmic replica (best address by score
        # desc, freq desc, key asc; enrich iff street empty and
        # city/state/zip equal the canonical; key rebuilt)
        "enrich_address": (
            "WITH m AS (SELECT o_orderkey AS doc_id, "
            "CAST(o_custkey % 100 AS BIGINT) AS cluster, "
            "(o_orderkey % 7 = 0) AS missing, "
            "(o_orderkey % 7 = 0 AND o_orderkey % 3 = 0) AS badzip FROM orders), "
            "rws AS (SELECT doc_id, cluster, missing, "
            "CASE WHEN missing THEN '' ELSE CAST(11 + cluster % 10 AS VARCHAR) END AS num, "
            f"CASE WHEN missing THEN '' ELSE {_fam_sql_list(_STREETS)}[CAST(cluster % 12 AS INT) + 1] END AS street, "
            f"{_fam_sql_list(_CITIES)}[CAST(cluster % 12 AS INT) + 1] AS city, "
            "'il' AS state, "
            "CASE WHEN badzip THEN '99999' ELSE CAST(60000 + cluster AS VARCHAR) END AS zip "
            "FROM m), "
            "keyed AS (SELECT *, CASE WHEN missing THEN 0.5 ELSE 1.0 END AS score, "
            "trim(regexp_replace(lower(concat_ws(' ', num, street, city, state, zip)), "
            "'\\s+', ' ', 'g')) AS akey FROM rws), "
            "freq AS (SELECT cluster, akey, count(*) AS f FROM keyed GROUP BY 1, 2), "
            "csize AS (SELECT cluster, count(*) AS cs FROM keyed GROUP BY 1), "
            "cand AS (SELECT DISTINCT cluster, akey, score, num, street, city, state, zip FROM keyed), "
            "best AS (SELECT cluster, num AS c_num, street AS c_street, "
            "city AS c_city, state AS c_state, zip AS c_zip FROM ("
            "SELECT c.*, row_number() OVER (PARTITION BY c.cluster "
            "ORDER BY c.score DESC, f.f DESC, c.akey ASC) AS rn "
            "FROM cand c JOIN freq f USING (cluster, akey) "
            "JOIN csize s USING (cluster) WHERE s.cs >= 2) WHERE rn = 1) "
            "SELECT k.doc_id, "
            "coalesce(k.street = '' AND b.c_street IS NOT NULL AND b.c_street <> '' "
            "AND k.city = b.c_city AND k.state = b.c_state AND k.zip = b.c_zip, FALSE) "
            "AS address_was_enriched, "
            "CASE WHEN coalesce(k.street = '' AND b.c_street IS NOT NULL AND b.c_street <> '' "
            "AND k.city = b.c_city AND k.state = b.c_state AND k.zip = b.c_zip, FALSE) "
            "THEN b.c_street ELSE k.street END AS addr_street_name, "
            "CASE WHEN coalesce(k.street = '' AND b.c_street IS NOT NULL AND b.c_street <> '' "
            "AND k.city = b.c_city AND k.state = b.c_state AND k.zip = b.c_zip, FALSE) "
            "THEN trim(regexp_replace(lower(concat_ws(' ', b.c_num, b.c_street, "
            "k.city, k.state, k.zip)), '\\s+', ' ', 'g')) ELSE k.akey END "
            "AS addr_normalized_key "
            "FROM keyed k LEFT JOIN best b USING (cluster)"
        ),
        # C1: every 'street' variant folds back into the family's majority
        # 'st' key (variant JW 0.932 >= 0.87; cross-family max 0.761)
        "consolidate_addresses": (
            "SELECT o_orderkey AS doc_id, "
            f"{_fam_sql_list(_FAM_ADDRS)}[CAST(o_custkey % 12 AS INT) + 1] "
            "AS addr_normalized_key FROM orders"
        ),
        # C2: the ' co' minority spelling is rewritten to the elected
        # majority base name at every conflicted address
        "consolidate_names": (
            "SELECT o_orderkey AS doc_id, "
            f"{_fam_sql_list(_FAMILIES)}[CAST(o_custkey % 12 AS INT) + 1] "
            "AS normalized_text FROM orders"
        ),
        # G8: strong singletons (mean 0.9, 3 matching neighbors, ratio 1.8)
        # attach to their home cluster; weak ones (mean 0.7 < tau) stay
        "attach_singletons": (
            "SELECT o_orderkey AS doc_id, "
            "CAST(CASE WHEN o_orderkey % 101 = 0 AND o_orderkey % 202 <> 0 "
            "THEN o_custkey % 50 "
            "WHEN o_orderkey % 101 = 0 THEN o_orderkey "
            "ELSE o_custkey % 50 END AS BIGINT) AS cluster FROM orders"
        ),
        # A7: full algorithmic replica of the purity mapping
        "ensemble_purity": (
            "WITH a AS (SELECT o_orderkey AS doc_id, "
            "CAST((o_custkey + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) % 50 "
            "AS BIGINT) AS a FROM orders), "
            "b AS (SELECT o_orderkey AS doc_id, "
            "CAST(CASE WHEN o_orderkey % 17 = 0 THEN 150 + o_custkey % 150 "
            "ELSE o_custkey % 150 END AS BIGINT) AS b FROM orders), "
            "j AS (SELECT b.b, a.a FROM a JOIN b USING (doc_id)), "
            "ov AS (SELECT b, a, count(*) AS overlap_size FROM j GROUP BY 1, 2), "
            "tot AS (SELECT b, sum(overlap_size) AS tot FROM ov GROUP BY 1), "
            "best AS (SELECT ov.b, ov.a, ov.overlap_size, "
            "ov.overlap_size / CAST(t.tot AS DOUBLE) AS purity, "
            "row_number() OVER (PARTITION BY ov.b "
            "ORDER BY ov.overlap_size DESC, ov.a ASC) AS rn "
            "FROM ov JOIN tot t USING (b)) "
            "SELECT b AS b_cluster, a AS a_cluster, overlap_size, "
            "round(purity, 6) AS purity FROM best "
            "WHERE rn = 1 AND purity >= 0.75 AND overlap_size >= 2"
        ),
        # G10 full arbitration replica: mapping + rescue + minting; minted
        # ids canonicalized to min(doc_id) of the pure-noise B group
        "ensemble_labels": (
            "WITH o AS (SELECT o_orderkey AS doc_id, o_custkey AS ck, "
            "(o_orderkey % 31 = 0) AS anoise FROM orders), "
            "a AS (SELECT doc_id, CAST(CASE WHEN anoise THEN doc_id "
            "ELSE ck % 50 END AS BIGINT) AS a FROM o), "
            "b AS (SELECT doc_id, CAST(CASE WHEN anoise AND doc_id % 2 = 0 "
            "THEN 1000 + ck % 20 ELSE ck % 150 END AS BIGINT) AS b FROM o), "
            "sza AS (SELECT a, count(*) AS na FROM a GROUP BY 1), "
            "szb AS (SELECT b, count(*) AS nb FROM b GROUP BY 1), "
            "j AS (SELECT a.doc_id, a.a, (sza.na = 1) AS a_noise, b.b, "
            "(szb.nb = 1) AS b_noise, szb.nb "
            "FROM a JOIN b USING (doc_id) JOIN sza USING (a) JOIN szb USING (b)), "
            "ov AS (SELECT b, a, count(*) AS osz FROM j "
            "WHERE NOT a_noise AND NOT b_noise GROUP BY 1, 2), "
            "tot AS (SELECT b, sum(osz) AS tot FROM ov GROUP BY 1), "
            "mp AS (SELECT b, a AS mapped FROM ("
            "SELECT ov.b, ov.a, ov.osz, ov.osz / CAST(t.tot AS DOUBLE) AS pur, "
            "row_number() OVER (PARTITION BY ov.b ORDER BY ov.osz DESC, ov.a ASC) AS rn "
            "FROM ov JOIN tot t USING (b)) WHERE rn = 1 AND pur >= 0.75 AND osz >= 2), "
            "fin AS (SELECT j.doc_id, j.a, j.b, "
            "CASE WHEN NOT j.a_noise THEN 0 "
            "WHEN m.mapped IS NOT NULL THEN 1 "
            "WHEN NOT j.b_noise AND j.nb >= 4 THEN 2 "
            "ELSE 0 END AS label_source, m.mapped "
            "FROM j LEFT JOIN mp m USING (b)) "
            "SELECT doc_id, "
            "CAST(CASE WHEN label_source = 1 THEN mapped "
            "WHEN label_source = 2 THEN min(CASE WHEN label_source = 2 "
            "THEN doc_id END) OVER (PARTITION BY b) "
            "ELSE a END AS BIGINT) AS cluster, label_source FROM fin"
        ),
        # exact all-pairs ground truth for the banded-multiprobe LSH query:
        # at cos >= 0.95 the per-pair LSH miss probability is ~1e-6, and on
        # this corpus the nearest non-planted pair sits at cos 0.51 — the
        # approximate result equals the exact set.
        "embedding_neardup": (
            "WITH base AS (SELECT vec_id, "
            "[CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings), "
            "planted AS (SELECT vec_id + 1000000 AS vec_id, "
            "[e[i] + 0.1 * e[((i + 16) % len(e)) + 1] "
            "FOR i IN range(1, len(e) + 1)] AS e FROM base), "
            "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted) "
            "SELECT a.vec_id AS src, b.vec_id AS dst "
            "FROM corpus a, corpus b WHERE a.vec_id < b.vec_id "
            "AND list_cosine_similarity(a.e, b.e) >= 0.95"
        ),
        # Sequence packing replayed with the same window arithmetic:
        # whitespace token counts (textstats.token_count_sql), buckets by
        # positive modulus, linear running-sum pack ids
        # (operators/packing.py:pack_documents).
        "pack_documents": (
            "WITH toks AS (SELECT doc_id, "
            + _TOKEN_COUNT_SQL_TEXT
            + " AS n_tokens, "
            "((doc_id % 16) + 16) % 16 AS bucket FROM documents), "
            "packed AS (SELECT doc_id, n_tokens, bucket, "
            "sum(n_tokens) OVER (PARTITION BY bucket "
            "ORDER BY n_tokens DESC, doc_id ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
            "FROM toks) "
            "SELECT doc_id, n_tokens, bucket, "
            "bucket * 4294967296 + "
            "CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id "
            "FROM packed"
        ),
        # Decontamination replayed on the GRAM STRINGS themselves (DuckDB
        # has no xxhash64; Spark joins on 64-bit gram hashes, the oracle
        # on the underlying strings — identical counts barring a 2^-64
        # hash collision, which the fixed corpus pins as absent):
        # whitespace-lowercase tokens, 13-token windows, the
        # pmod(doc_id, 97)=0 slice as the benchmark
        # (operators/decontaminate.py:decontaminate_flags).
        "decontaminate": (
            "WITH tok AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(lower(trim(coalesce(text, ''))), "
            "'\\s+'), x -> x <> '') AS t FROM documents), "
            "bench AS (SELECT t FROM tok "
            "WHERE ((doc_id % 97) + 97) % 97 = 0), "
            "bgrams AS (SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS g "
            "FROM (SELECT t, unnest(range(1, CAST(len(t) AS BIGINT) - 11)) "
            "AS i FROM bench)), "
            "dgrams AS (SELECT doc_id, array_to_string(t[i:i+12], ' ') AS g "
            "FROM (SELECT doc_id, t, unnest(range(1, "
            "CAST(len(t) AS BIGINT) - 11)) AS i FROM tok)), "
            "hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits "
            "FROM dgrams JOIN bgrams USING (g) GROUP BY 1) "
            "SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, "
            "coalesce(h.n_hits, 0) > 0 AS contaminated "
            "FROM documents d LEFT JOIN hits h USING (doc_id)"
        ),
        # Quality gate replayed through the DuckDB twin renderer
        # (functions/textstats.py:quality_filter_sql — same rule order,
        # same double arithmetic on integer counts)
        "quality_filter": (
            "SELECT doc_id, "
            + _QUALITY_FILTER_SQL["reason"]
            + " AS reason, "
            + _QUALITY_FILTER_SQL["keep"]
            + " AS keep FROM documents"
        ),
        # Exact MinHash-LSH near-dup ground truth (see _MINHASH_CTES)
        "minhash_dedup": (
            _MINHASH_CTES
            + "SELECT l.doc_id, l.dup_group, s.group_size "
            "FROM labels l JOIN sizes s USING (dup_group) "
            "WHERE s.group_size >= 2"
        ),
        # Survivorship over the same exact near-dup ground truth: one
        # winner per group by (text length desc, doc_id asc), every
        # ungrouped doc passes through with a null dup_group — replays
        # operators/dedup.py:dedup_survivors(policy='longest').
        "dedup_survivors": (
            _MINHASH_CTES
            + ", members AS (SELECT l.doc_id, l.dup_group "
            "FROM labels l JOIN sizes s USING (dup_group) "
            "WHERE s.group_size >= 2), "
            "winners AS (SELECT doc_id, dup_group FROM ("
            "SELECT m.doc_id, m.dup_group, row_number() OVER ("
            "PARTITION BY m.dup_group "
            "ORDER BY length(coalesce(d.text, '')) DESC, m.doc_id ASC) AS rn "
            "FROM members m JOIN documents d USING (doc_id)) WHERE rn = 1) "
            "SELECT d.doc_id, CAST(NULL AS BIGINT) AS dup_group "
            "FROM documents d "
            "WHERE d.doc_id NOT IN (SELECT doc_id FROM members) "
            "UNION ALL SELECT doc_id, dup_group FROM winners"
        ),
        # G4 exact ground truth: transitive closure via recursive CTE,
        # min-vertex labeling — the SQL oracle analog of the union-find
        # property tests.
        "connected_components": (
            "WITH RECURSIVE "
            "e0 AS (SELECT CAST(o_orderkey % 1000 AS BIGINT) AS src, "
            "CAST(o_custkey % 1000 + 1000 AS BIGINT) AS dst FROM orders), "
            "vtx AS (SELECT src AS v FROM e0 UNION SELECT dst FROM e0), "
            "sym AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT DISTINCT dst, src FROM e0 WHERE src <> dst), "
            "reach(a, b) AS (SELECT src, dst FROM sym "
            "UNION SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src) "
            "SELECT v AS vertex, "
            "coalesce(least(v, min(b)), v) AS component "
            "FROM vtx LEFT JOIN reach ON reach.a = v GROUP BY v"
        ),
        # P5: American Soundex (Spark's soundex() semantics: H/W invisible
        # for duplicate suppression, vowels and non-alpha chars separate)
        # as pure SQL — non-alpha chars become '0' separators, letters
        # translate to digit codes with H/W -> 9; the FIRST char's code is
        # kept aside while 9s are stripped from the REST (so the
        # drop-first-code step removes the actual first letter's code —
        # 'wright' is W623, not W230: W's own 9 must not vanish before the
        # drop), runs collapse (chained replace: DuckDB regex is RE2, no
        # backreferences), the first code is dropped, vowel zeros strip,
        # pad to 3. Tokens whose first char is non-alphabetic pass through
        # unchanged, matching Spark's early return. Parity over the full
        # corpus vocabulary stays a required gate
        # (tests/test_round3.py::test_soundex_sql_parity_full_vocab).
        "phonetic_soundex": (
            "SELECT doc_id, array_to_string(list_transform("
            "string_split_regex(trim(text), '\\s+')[1:5], "
            "w -> CASE WHEN substring(upper(w), 1, 1) BETWEEN 'A' AND 'Z' "
            "THEN substring(upper(w), 1, 1) || substring(replace(substring("
            + _collapse_runs_sql(
                "substring(" + _SOUNDEX_CODES_SQL + ", 1, 1) || "
                "replace(substring(" + _SOUNDEX_CODES_SQL + ", 2), '9', '')"
            )
            + ", 2), '0', '') || '000', 1, 3) ELSE w END), ' ') "
            "AS phonetic_key FROM documents"
        ),
    }
