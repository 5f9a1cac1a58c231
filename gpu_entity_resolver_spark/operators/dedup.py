"""Corpus-scale deduplication operators for a training-data pipeline.

These extend the reference's entity-resolution scope (per the build brief):
MinHash-LSH near-dup, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all first-class DataFrame jobs reusing the engine's
blocking/shingling/CC primitives.

Design notes for 100 TB:
- near-dup pipelines never enumerate cross pairs outside blocking keys;
- SimHash is computed in ONE numpy pass per doc (no shuffle) and banded
  into equi-joinable keys;
- verification joins carry only (id, key/array) columns — texts/vectors are
  attached late and only for surviving candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BlockingConfig
from .blocking import candidate_pairs, lsh_block_keys, sort_token_table
from .connected_components import connected_components
from .shingles import doc_vector_table, pair_cosine_vecs
from .similarity import _cosine


def _lsh_pairs(
    docs: DataFrame, id_col: str, text_col: str, cfg: BlockingConfig | None
) -> tuple[DataFrame, DataFrame]:
    """(norm, pairs): the lower-cased (doc_id, nt) table and its
    MinHash-LSH candidate pairs."""
    from ..util import spread_input

    # one-split inputs would run the python key/vector builds on one core
    norm = spread_input(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("nt"),
        )
    )
    pairs = candidate_pairs(
        lsh_block_keys(norm, "doc_id", "nt", cfg),
        cfg,
        tokens=sort_token_table(norm, "doc_id", "nt"),
    )
    return norm, pairs


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: BlockingConfig | None = None,
    cosine_threshold: float = 0.85,
) -> DataFrame:
    """Near-duplicate clusters via MinHash-LSH blocking + TF-IDF-cosine
    verification + connected components.

    Returns (doc_id, dup_group, group_size) for every doc in a near-dup
    group of size >= 2, dup_group = min doc id of the group.
    """
    norm, pairs = _lsh_pairs(docs, id_col, text_col, cfg)
    # single-width shingles + pruned vectors: same separation at a third of
    # the exploded-token volume (see ScoringConfig.tfidf_ngram_lo). Vectors
    # come from the broadcast-IDF map-side build (doc_vector_table): same
    # weights/tie-break as doc_vectors(tfidf_weights(...)), but no exploded
    # tf shuffle, no idf join, no per-doc lambda sort — the join formulation
    # here was measured 65x slower in the main scorer's vector stage.
    cos = pair_cosine_vecs(
        pairs, doc_vector_table(norm, "doc_id", "nt", n_lo=4, n_hi=4, top_k=64)
    )
    edges = cos.where(F.col("tfidf_cos") >= cosine_threshold)
    labels = connected_components(edges)
    sizes = labels.groupBy("component").agg(F.count("*").alias("group_size"))
    return (
        labels.join(sizes, "component")
        .where(F.col("group_size") >= 2)
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("dup_group"),
            "group_size",
        )
    )


def simhash64_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, simhash) — identical fingerprints to the all-JVM
    ``simhash64_table_agg`` (tests/baselines/simhash_jvm.py), computed with
    ZERO shuffle and no JVM shingling.

    The aggregated form explodes ~L shingle-hash rows per doc (one
    UTF8String substring allocation + string XXH64 each) and runs a
    65-column hash aggregate over them. Here ONE mapInPandas pass per doc
    computes the same distinct-gram hash multiset in numpy
    (functions/xxh64.gram_hashes_spark — bit parity with Spark's
    ``xxhash64(gram, seed)`` pinned, hash multiplicity preserved because
    the majority votes count it) and counts bits with one
    ``unpackbits``/``packbits`` round: bit b of the fingerprint is set iff
    2*ones_b > n over the doc's distinct grams, exactly the aggregate
    form's majority rule. No Exchange, no 65-agg, no per-gram string churn
    — guide §2.4 (remove shuffles outright) + §4.2 (vectorized native
    code per batch).

    Assumes one row per ``id_col`` (the dedup contract); the aggregated
    form would merge duplicate-id rows instead. Bit order relies on
    little-endian int64 layout (every supported platform)."""
    import numpy as np
    import pandas as pd

    from ..functions.xxh64 import gram_hashes_spark
    from ..util import spread_input

    # the fingerprint kernel is a pure map — a one-split scan would run it
    # all on one core (spread_input leaves big and non-file input alone)
    base = spread_input(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    )

    def per_batch(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            fp = np.empty(len(ids), dtype=np.int64)
            for i, t in enumerate(pdf["_t"]):
                a = gram_hashes_spark(t, shingle_size, seed)
                ones = (
                    np.unpackbits(a.view(np.uint8), bitorder="little")
                    .reshape(len(a), 64)
                    .sum(axis=0, dtype=np.int64)
                )
                fp[i] = np.packbits(ones * 2 > len(a), bitorder="little").view(
                    np.int64
                )[0]
            yield pd.DataFrame({"doc_id": ids, "simhash": fp})

    return base.mapInPandas(per_batch, "doc_id long, simhash long")


def simhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
) -> DataFrame:
    """(doc_id, band, band_bits, simhash) — 16-bit bands of the SimHash as
    equi-joinable near-dup keys (docs within hamming distance ~3 share at
    least one of 4 bands by pigeonhole)."""
    bits_per = 64 // n_bands
    sh = simhash64_table(docs, id_col, text_col)
    bands = F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> struct(b as band, shiftright(simhash, b * {bits_per}) "
        f"& {(1 << bits_per) - 1} as band_bits))"
    )
    return sh.select(
        "doc_id", "simhash", F.explode(bands).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.band"), F.col("bb.band_bits"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (blocked, never all-pairs):
    (src, dst, jaccard). Set intersection/union are JVM array ops over the
    distinct-shingle arrays attached per side."""
    norm, pairs = _lsh_pairs(docs, id_col, text_col, cfg)
    grams = norm.select(
        "doc_id",
        F.expr(
            f"array_distinct(CASE WHEN length(nt) >= {n} THEN "
            f"transform(sequence(1, length(nt) - {n} + 1), i -> substring(nt, i, {n})) "
            f"ELSE array(nt) END)"
        ).alias("g"),
    )
    return (
        pairs.join(grams.withColumnsRenamed({"doc_id": "src", "g": "g_a"}), "src")
        .join(grams.withColumnsRenamed({"doc_id": "dst", "g": "g_b"}), "dst")
        .select(
            "src",
            "dst",
            (
                F.size(F.array_intersect("g_a", "g_b")).cast("double")
                / F.size(F.array_union("g_a", "g_b"))
            ).alias("jaccard"),
        )
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 32,
    n_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicates via BANDED random-hyperplane LSH with
    hamming-1 multiprobe + exact in-band cosine verification.

    The round-1 formulation used a single 16-plane signature as one exact
    equi-key — a recall cliff (a near-dup differing in 1 plane was lost, and
    CORRECTNESS_r01 showed 0 rows found). Now the ``n_planes`` sign bits are
    split into ``n_bands`` bands; every doc emits, per band, its exact band
    key plus all hamming-1 variants, so two docs collide when any band
    differs by <= 2 bits. At cos >= 0.95 (64-dim) the per-pair miss
    probability is ~1e-6. Candidate volume per doc is
    n_bands * (bits_per_band + 1) keys; band width (bits) should grow with
    log(corpus) at larger scale — both are parameters.

    Hyperplane normals are deterministic pseudo-random values derived from
    xxhash64(dim, plane, seed) — no driver-side state, reproducible across
    cluster sizes and parallelism levels.

    Returns (src, dst, cosine) with cosine >= threshold, exact and deduped.
    """
    bits_per = n_planes // n_bands
    # sign bit per plane: dot(vec, normal_p) > 0; normal_p[d] in (-1, 1)
    # (Spark's % keeps the sign of the dividend, giving a symmetric range).
    # Computed over the renamed "vec" column AFTER the parallelism spread —
    # the signature fold is the heavy pre-exchange map work here.
    sig = F.expr(
        f"aggregate(zip_with(vec, sequence(0, size(vec) - 1), "
        f"(v, d) -> struct(v as v, d as d)), "
        f"transform(sequence(0, {n_planes - 1}), p -> cast(0.0 as double)), "
        f"(acc, e) -> zip_with(acc, sequence(0, {n_planes - 1}), "
        f"(a, p) -> a + e.v * (cast(xxhash64(e.d, p, {seed}) % 1000000 as double) / 1000000.0)))"
    )
    from ..util import spread_input

    docs = (
        spread_input(
            embeddings.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("vec"))
        ).withColumn("sig", sig).select(
            "doc_id",
            "vec",
            F.expr(
                f"aggregate(zip_with(sig, sequence(0, {n_planes - 1}), "
                f"(s, p) -> CASE WHEN s > 0 THEN shiftleft(1L, p) ELSE 0L END), "
                f"0L, (acc, v) -> acc | v)"
            ).alias("bucket"),
        )
        # barrier: the signature plan feeds both the key table (twice, via
        # the self-join) and the late vector attach
        .localCheckpoint(eager=False)
    )
    mask = (1 << bits_per) - 1
    # per band: exact key (probe -1) + one key per flipped bit
    keys = F.expr(
        f"flatten(transform(sequence(0, {n_bands - 1}), b -> "
        f"transform(sequence(-1, {bits_per - 1}), j -> struct(b AS band, "
        f"CASE WHEN j < 0 THEN shiftright(bucket, b * {bits_per}) & {mask} "
        f"ELSE (shiftright(bucket, b * {bits_per}) & {mask}) ^ shiftleft(1L, j) "
        f"END AS key))))"
    )
    kt = docs.select("doc_id", F.explode(keys).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = (
        kt.alias("a")
        .join(kt.alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .distinct()
    )
    vecs = docs.select("doc_id", "vec")
    return (
        cand.join(
            vecs.withColumnsRenamed({"doc_id": "src", "vec": "vec_a"}), "src"
        )
        .join(vecs.withColumnsRenamed({"doc_id": "dst", "vec": "vec_b"}), "dst")
        .select("src", "dst", _cosine("vec_a", "vec_b").alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def dedup_survivors(
    docs: DataFrame,
    groups: DataFrame,
    id_col: str = "doc_id",
    policy: str = "longest",
    text_col: str = "text",
) -> DataFrame:
    """Survivorship selection — the step a training-data pipeline actually
    deletes with: given near-dup ``groups`` (doc_id, dup_group) from any of
    the dedup operators above, return one row per SURVIVING document as
    (doc_id, dup_group), dup_group null for docs in no group.

    Policies:
    - ``"longest"``: keep the longest text per group (quality-first; the
      usual choice for web training corpora), ties by min doc_id;
    - ``"min_id"``: keep the smallest id (stable, text-independent).

    Scale shape: the rank window runs only over GROUP MEMBERS (a small
    fraction of the corpus), the pass-through is one anti-join on doc_id,
    and no text ever shuffles — only (id, length).
    """
    from pyspark.sql import Window

    g = groups.select(F.col("doc_id"), "dup_group")
    if policy == "min_id":
        winners = g.groupBy("dup_group").agg(F.min("doc_id").alias("doc_id"))
    elif policy == "longest":
        members = g.join(
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_len"),
            ),
            "doc_id",
        )
        w = Window.partitionBy("dup_group").orderBy(
            F.desc("_len"), F.asc("doc_id")
        )
        winners = (
            members.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", "dup_group")
        )
    else:
        raise ValueError(f"unknown survivorship policy: {policy!r}")
    ungrouped = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(g.select("doc_id"), "doc_id", "left_anti")
        .withColumn("dup_group", F.lit(None).cast("long"))
    )
    return ungrouped.unionByName(winners.select("doc_id", "dup_group"))
