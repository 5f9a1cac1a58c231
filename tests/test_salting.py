"""Adversarial hot-block salting recall (VERDICT r2 'what's wrong' #1).

A 3000-member template block — every doc shares ONE block key, the worst
case for salting (no multi-key redundancy to fall back on). Planted
near-duplicate pairs must still be generated by candidate_pairs: the
two-pass sorted-neighborhood range salting orders hot-block members by
fixed-offset content windows (forward and reversed window order), so a
pair differing in one region stays adjacent in the order that reads that
region last. The former hash salting lost each cross-salt pair with
probability (1 - 1/n_salts) ~ 0.96 here, correlated across keys.

Doc ids are SHUFFLED so adjacency can only come from content ordering,
never from id order.
"""

import random

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import BlockingConfig
from gpu_entity_resolver_spark.operators.blocking import (
    blocking_plan,
    candidate_pairs,
    salt_blocks,
    sort_token_table,
)

TEMPLATE = "corporate homepage boilerplate navigation header " * 2  # ~98 chars
VOCAB = [
    "alpha", "bravo", "delta", "echo", "fox", "golf", "hotel", "india",
    "juliet", "kilo", "lima", "mike", "nov", "oscar", "papa", "quebec",
]


def _corpus():
    rng = random.Random(42)
    ids = list(range(3000))
    rng.shuffle(ids)
    rows = []
    true_pairs = []
    for i in range(1500):
        words = [rng.choice(VOCAB) for _ in range(60)]
        base = TEMPLATE + " " + " ".join(words)
        a, b = ids[2 * i], ids[2 * i + 1]
        rows.append((a, base))
        # near-dup partner: one word swapped anywhere (may hit any of the
        # sort windows, including the tail)
        w2 = list(words)
        w2[rng.randrange(0, 60)] = rng.choice(VOCAB)
        rows.append((b, TEMPLATE + " " + " ".join(w2)))
        true_pairs.append((min(a, b), max(a, b)))
    return rows, true_pairs


def _keys(docs):
    return docs.select("doc_id", F.lit("hot").alias("block_key"))


def _tokens(docs):
    return sort_token_table(docs, "doc_id", "text")


def test_hot_block_recall_and_cost(spark):
    rows, true_pairs = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = BlockingConfig(max_block_size=128)
    pairs = candidate_pairs(_keys(docs), cfg, tokens=_tokens(docs))
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    n_found = sum(1 for p in true_pairs if p in got)
    recall = n_found / len(true_pairs)
    # measured on this fixture; hash salting scored ~0.04 here
    assert recall >= 0.98, f"hot-block pair recall {recall:.3f}"
    # cost stays LINEAR in block size: 2 orderings x (own + neighbor range)
    n_pairs = len(got)
    assert n_pairs <= 3000 * cfg.max_block_size * 8


def test_hot_key_ceiling_drops_degenerate_key(spark):
    """VERDICT r3 #1: a degenerate block key (every doc shares it — the
    100x analog is an empty-text LSH band or sitewide boilerplate) must be
    DROPPED by the in-path df ceiling, not window-sorted in one task, while
    keys at or under the ceiling still salt/pass through."""
    n = 5000
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some distinct words") for i in range(n)],
        "doc_id long, text string",
    )
    degenerate = docs.select("doc_id", F.lit("mega").alias("block_key"))
    # a legitimate hot-but-useful key under the ceiling, and cold keys
    ok_hot = degenerate.where(F.col("doc_id") < 600).withColumn(
        "block_key", F.lit("hot")
    )
    cold = degenerate.withColumn(
        "block_key", F.concat(F.lit("c"), (F.col("doc_id") % 2500).cast("string"))
    )
    keys = degenerate.unionByName(ok_hot).unionByName(cold)
    cfg = BlockingConfig(max_block_size=128, hot_key_ceiling=1024)
    salted = salt_blocks(keys, cfg, tokens=_tokens(docs))
    out_keys = [r["block_key"] for r in salted.select("block_key").distinct().collect()]
    assert not any(k == "mega" or k.startswith("mega#") for k in out_keys), (
        "degenerate key above the ceiling must be dropped"
    )
    assert any(k.startswith("hot#") for k in out_keys), (
        "hot key under the ceiling must still be salted"
    )
    assert any(k.startswith("c") for k in out_keys)
    # per-task bound: no salted group larger than ~2x cap (own + neighbor)
    sizes = salted.groupBy("block_key").count().collect()
    assert max(r["count"] for r in sizes) <= 2 * cfg.max_block_size
    # ceiling=None restores the old behavior (mega gets salted, not dropped)
    unlimited = salt_blocks(
        keys,
        BlockingConfig(max_block_size=128, hot_key_ceiling=None),
        tokens=_tokens(docs),
    )
    assert unlimited.where(F.col("block_key").startswith("mega#")).count() > 0


def test_cold_blocks_not_salted(spark):
    docs = spark.createDataFrame(
        [(i, f"short doc {i}") for i in range(10)], "doc_id long, text string"
    )
    keys = _keys(docs).withColumn(
        "block_key", (F.col("doc_id") % 3).cast("string")
    )
    salted = salt_blocks(
        keys, BlockingConfig(max_block_size=128), tokens=_tokens(docs)
    )
    # block keys unchanged (no '#' suffix) for blocks under the cap
    assert all("#" not in r["block_key"] for r in salted.collect())


def test_host_keys_pair_and_salt(spark):
    """``blocking_plan(url_col=...)`` adds the host key family: two docs on
    one host pair even when their texts share no other key, and a planted
    near-duplicate inside a host block above ``max_block_size`` is still
    generated by the host keys alone, ordered by the docs' text tokens."""
    rng = random.Random(7)
    n_big = 600
    rows = [
        (
            i,
            f"https://big.example.com/p/{i}",
            " ".join(rng.choice(VOCAB) for _ in range(50)),
        )
        for i in range(n_big)
    ]
    words = rows[10][2].split()
    words[25] = "zulu"
    rows.append((n_big, "https://big.example.com/copy", " ".join(words)))
    rows += [
        (n_big + 1, "http://www.small.example.org/a", "acme widgets and sprockets"),
        (n_big + 2, "https://small.example.org:8080/b?q=1", "zebra logistics limited"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, norm_text string")
    cfg = BlockingConfig(max_block_size=16)
    keys, tokens = blocking_plan(docs, url_col="url", cfg=cfg)
    keys = keys.localCheckpoint(eager=True)

    def pairs(k):
        got = candidate_pairs(k, cfg, tokens=tokens).collect()
        return {(r["src"], r["dst"]) for r in got}

    a, b = n_big + 1, n_big + 2
    shared = keys.where(F.col("doc_id") == a).join(
        keys.where(F.col("doc_id") == b), "block_key"
    )
    assert [r["block_key"] for r in shared.collect()] == ["host:small.example.org"]
    assert (a, b) in pairs(keys)

    got = pairs(keys.where(F.col("block_key") == "host:big.example.com"))
    assert (10, n_big) in got
    # salted, not all-pairs: 2 orders x (own + neighbor range)
    assert len(got) <= (n_big + 1) * cfg.max_block_size * 4 < n_big * (n_big + 1) // 2


def test_cross_pairs_caps_hot_right_keys(spark):
    """cross_pairs drops every block key held by more than max_block_size
    right rows, so one shared text pairs a left doc with all 128 right docs
    at cap 128 and with none of 129."""
    from gpu_entity_resolver_spark.operators.blocking import cross_pairs

    text = "acme trucking company 12 main street springfield"
    left = spark.createDataFrame([(10_000, text)], "doc_id long, t string")
    cfg = BlockingConfig(max_block_size=128)
    for n_right, want in ((128, 128), (129, 0)):
        right = spark.createDataFrame(
            [(i, text) for i in range(n_right)], "cid long, name string"
        )
        pairs = cross_pairs(left, right, "doc_id", "cid", "t", "name", cfg)
        got = {(r["src"], r["dst"]) for r in pairs.collect()}
        assert len(got) == want, n_right
        assert all(src == 10_000 for src, _ in got)
