"""Property tests for the large-star/small-star connected components
(SURVEY.md §5.1: equality with a union-find oracle on random graphs)."""

import random

import pytest

from gpu_entity_resolver_spark.operators.connected_components import (
    connected_components,
)


def union_find_oracle(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min vertex id
    comp = {}
    for v in list(parent):
        comp[v] = find(v)
    return comp


def run_case(spark, edges):
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        df = df.limit(0)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = union_find_oracle(edges)
    # oracle roots are min ids because union always keeps the smaller root
    assert got == want, f"mismatch: got={got} want={want}"


def test_empty(spark):
    run_case(spark, [])


def test_single_edge(spark):
    run_case(spark, [(5, 9)])


def test_self_loop_only(spark):
    run_case(spark, [(7, 7)])


def test_chain(spark):
    run_case(spark, [(i, i + 1) for i in range(50)])


def test_star(spark):
    run_case(spark, [(100, i) for i in range(30)])


def test_two_components_and_singleton(spark):
    run_case(spark, [(1, 2), (2, 3), (10, 11), (20, 20)])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_erdos_renyi(spark, seed):
    rng = random.Random(seed)
    n = 300
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(50, 400))
    ]
    run_case(spark, edges)


def test_duplicate_and_reversed_edges(spark):
    run_case(spark, [(1, 2), (2, 1), (1, 2), (3, 2)])


# --- round 5: partition-local contraction ---


@pytest.mark.parametrize("seed", [3, 4])
def test_contract_equals_star_only_on_adversarial_partitioning(spark, seed):
    """The contraction pre-phase must be EXACTLY equivalent to star-only
    rounds over the canonical edge set, for any physical partitioning —
    nodes spread across many partitions exercise the boundary-graph
    merge."""
    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.operators.connected_components import (
        _star_components,
    )

    rng = random.Random(seed)
    n = 200
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(100, 500))
    ]
    df = (
        spark.createDataFrame(edges, "src long, dst long")
        .repartition(16)  # scatter every component across partitions
    )
    got_contract = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    canonical = (
        df.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    got_star = {
        r["vertex"]: r["component"]
        for r in _star_components(canonical, 50).collect()
    }
    want = union_find_oracle(edges)
    assert got_contract == want
    # star rounds label the vertices of non-self-loop edges only
    linked = {v for a, b in edges if a != b for v in (a, b)}
    assert got_star == {v: c for v, c in want.items() if v in linked}


def test_contract_long_chain_across_partitions(spark):
    # a single path component scattered over 32 partitions: every partition
    # holds disconnected fragments, so the answer exists ONLY in the
    # boundary graph — the worst case for local contraction
    edges = [(i, i + 1) for i in range(500)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(32)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == {v: 0 for v in range(501)}


def test_contract_negative_ids(spark):
    # doc_ids are xxhash64 longs — min-convention must hold for negatives
    edges = [(-5, 3), (3, -9), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(4)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == {-9: -9, -5: -9, 3: -9, 7: 7, 8: 7}


# --- round 6: bounded driver solve of the boundary graph ---


@pytest.mark.parametrize("seed", [5, 6])
def test_driver_solve_equals_star_path(spark, seed):
    """The driver union-find of a small boundary graph must label exactly
    like the distributed star rounds (forced via driver_cc_max_edges=0)."""
    rng = random.Random(seed)
    n = 250
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(100, 500))
    ]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(16)
    got_driver = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    got_star = {
        r["vertex"]: r["component"]
        for r in connected_components(df, driver_cc_max_edges=0).collect()
    }
    assert got_driver == got_star == union_find_oracle(edges)
