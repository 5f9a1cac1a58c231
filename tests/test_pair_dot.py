"""The array_intersect dot product must be BITWISE equal to the
full-iteration probe form it replaced: skipped keys contributed exact +0.0
terms (which never change a finite IEEE accumulator) and array_intersect
preserves vec_a's key order, so surviving products accumulate in the same
order with the same values. The vector table's large-vocabulary fallback
must build the same vectors as the broadcast-IDF path."""

import random

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.operators.shingles import (
    _DOT_SQL,
    doc_vector_table,
    pair_cosine_vecs,
)

_FULL_ITER_SQL = (
    "aggregate(map_entries(vec_a), 0D, (acc, e) -> acc +"
    " coalesce(cast(element_at(vec_b, e.key) as double), 0D)"
    " * cast(e.value as double))"
)


def _vec(rng, keys):
    return {k: rng.uniform(-1.0, 1.0) for k in keys}


def test_dot_bitwise_parity_adversarial(spark):
    rng = random.Random(11)
    universe = list(range(1, 60))
    rows = []
    for i in range(400):
        ka = rng.sample(universe, rng.randint(0, 20))
        kb = rng.sample(universe, rng.randint(0, 20))
        rows.append((i, _vec(rng, ka), _vec(rng, kb)))
    # targeted shapes: empty/empty, identical, disjoint, subset
    shared = _vec(rng, [1, 2, 3])
    rows += [
        (1000, {}, {}),
        (1001, shared, dict(shared)),
        (1002, {1: 0.5}, {2: 0.5}),
        (1003, {1: 0.25, 2: -0.75}, {2: -0.75}),
    ]
    df = spark.createDataFrame(
        rows, "id long, vec_a map<long,float>, vec_b map<long,float>"
    )
    diff = df.select(
        F.expr(_DOT_SQL).alias("a"), F.expr(_FULL_ITER_SQL).alias("b")
    ).where("a IS DISTINCT FROM b")
    assert diff.count() == 0


def test_pair_cosine_vecs_end_to_end_parity(spark):
    texts = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over a lazy dog"),
            (3, "completely unrelated text about spark plans"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, full_t string",
    )
    vecs = doc_vector_table(texts, id_col="doc_id", text_col="full_t")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): r["tfidf_cos"]
        for r in pair_cosine_vecs(pairs, vecs).collect()
    }
    assert abs(got[(1, 4)] - 1.0) < 1e-6  # identical docs -> cosine ~1.0
    assert got[(1, 2)] > got[(1, 3)]  # near-dup beats unrelated
    assert all(v >= 0.0 for v in got.values())


def _checkpoint_plans(spark, build) -> tuple[object, list[str]]:
    """``build()``'s result and the physical plans of the localCheckpoint
    barriers it set up."""
    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ex = spark._jsparkSession.sharedState().statusStore().executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    before = {e.executionId() for e in executions()}
    out = build()
    return out, [
        e.physicalPlanDescription() for e in executions()
        if e.executionId() not in before
        and e.description().startswith("localCheckpoint")
    ]


def test_vocabulary_fallback_matches_broadcast_path(spark, sf_dir):
    """``broadcast_max_terms=0`` forces the exploded JVM form
    (tfidf_weights -> doc_vectors), as the plan behind the returned
    table's barrier shows: same keys per doc, float32 weights within 1e-6,
    and bit-equal cosines on the LSH candidate pairs."""
    from gpu_entity_resolver_spark.functions.normalize import (
        normalize_entity_text,
    )
    from gpu_entity_resolver_spark.operators.blocking import (
        candidate_pairs,
        lsh_block_keys,
        sort_token_table,
    )

    norm = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", normalize_entity_text(F.col("text")).alias("nt")
    ).localCheckpoint(eager=True)
    pairs = candidate_pairs(
        lsh_block_keys(norm, "doc_id", "nt"),
        tokens=sort_token_table(norm, "doc_id", "nt"),
    ).localCheckpoint(eager=True)
    assert pairs.count() > 0
    shipped, shipped_plans = _checkpoint_plans(
        spark, lambda: doc_vector_table(norm, "doc_id", "nt")
    )
    fallback, fallback_plans = _checkpoint_plans(
        spark, lambda: doc_vector_table(norm, "doc_id", "nt", broadcast_max_terms=0)
    )
    # the fallback really ran: doc_vectors' collect_list aggregate builds
    # its table, and the map-side path has none
    assert any("collect_list" in p for p in fallback_plans), fallback_plans
    assert shipped_plans and not any("collect_list" in p for p in shipped_plans)

    got = {r["doc_id"]: r["vec"] for r in fallback.collect()}
    want = {r["doc_id"]: r["vec"] for r in shipped.collect()}
    assert got.keys() == want.keys()
    for doc_id, vec in want.items():
        assert got[doc_id].keys() == vec.keys(), doc_id
        for h, w in vec.items():
            assert abs(got[doc_id][h] - w) <= 1e-6, (doc_id, h)

    diff = (
        pair_cosine_vecs(pairs, shipped)
        .join(
            pair_cosine_vecs(pairs, fallback).withColumnRenamed("tfidf_cos", "fb"),
            ["src", "dst"],
            "full_outer",
        )
        .where("tfidf_cos IS DISTINCT FROM fb")
    )
    assert diff.count() == 0
