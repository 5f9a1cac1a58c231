"""All-JVM SimHash forms: the parity baselines for the numpy
:func:`gpu_entity_resolver_spark.operators.dedup.simhash64_table`
(pinned by tests/test_simhash.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def simhash64(text_col: str, shingle_size: int = 4, seed: int = 42):
    """64-bit SimHash of a string column as ONE Column expression.

    Each distinct char shingle votes +1/-1 per bit position (from its
    xxhash64); the sign of each bit's total becomes the fingerprint bit.
    Single pass via aggregate-fold, all JVM."""
    hs = (
        f"transform(array_distinct(CASE WHEN length({text_col}) >= {shingle_size} "
        f"THEN transform(sequence(1, length({text_col}) - {shingle_size} + 1), "
        f"i -> substring({text_col}, i, {shingle_size})) "
        f"ELSE array({text_col}) END), x -> xxhash64(x, {seed}))"
    )
    bits = "sequence(0, 63)"
    counters = (
        f"aggregate({hs}, transform({bits}, b -> 0L), "
        f"(acc, h) -> zip_with(acc, {bits}, "
        f"(a, b) -> a + CASE WHEN shiftright(h, b) % 2 != 0 THEN 1L ELSE -1L END))"
    )
    return F.expr(
        f"aggregate(zip_with({counters}, {bits}, "
        f"(c, b) -> CASE WHEN c > 0 THEN shiftleft(1L, b) ELSE 0L END), "
        f"0L, (acc, v) -> acc | v)"
    )


def _simhash_shingle_hashes(text_col: str, shingle_size: int, seed: int):
    """Distinct char-shingle xxhash64 array per doc (shared by both
    simhash formulations — hash values are computed by the JVM either way,
    so the fingerprint bits cannot depend on which bit-count path ran)."""
    return F.expr(
        f"transform(array_distinct(CASE WHEN length({text_col}) >= {shingle_size} "
        f"THEN transform(sequence(1, length({text_col}) - {shingle_size} + 1), "
        f"i -> substring({text_col}, i, {shingle_size})) "
        f"ELSE array({text_col}) END), x -> xxhash64(x, {seed}))"
    )


def simhash64_table_agg(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, simhash) as an explode -> groupBy bit-sum: 64 primitive long
    sums + a count inside whole-stage codegen with map-side partial
    aggregation. Bit b of the fingerprint is set iff more than half of the
    shingle hashes have bit b set (identical tie semantics to the fold: sum
    of +/-1 votes > 0  <=>  2*ones > n).

    Kept as the reference formulation (and A/B baseline) for
    :func:`simhash64_table`, which computes the same fingerprints with a
    per-row numpy popcount instead of the exploded aggregation."""
    shingle_hashes = _simhash_shingle_hashes(text_col, shingle_size, seed)
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(shingle_hashes).alias("h")
    )
    ones = [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        for b in range(64)
    ]
    agg = exploded.groupBy("doc_id").agg(F.count("*").alias("_n"), *ones)
    fingerprint = None
    for b in range(64):
        # bit 63 is the long sign bit: 1<<63 overflows, use its 2's-complement
        val = -(1 << 63) if b == 63 else (1 << b)
        bit = F.when(
            F.col(f"_o{b}") * 2 > F.col("_n"), F.lit(val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return agg.select("doc_id", fingerprint.alias("simhash"))
