"""All-JVM MinHash-LSH key builder: the parity baseline for the numpy
:func:`gpu_entity_resolver_spark.operators.blocking.lsh_block_keys`.

The signature is one ``aggregate``/``zip_with`` fold of ``xxhash64``
column math over the distinct char shingles; it stays inside Catalyst, so
it defines the exact key strings the numpy kernel has to emit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import BlockingConfig


def minhash_signature(text_col: str, cfg: BlockingConfig) -> Column:
    """All ``num_perm`` min-hashes as ONE array<long> column, computed in a
    single pass over the distinct char shingles.

    Structure matters for speed: the shingle array is referenced exactly once
    (evaluated once per row); the ``aggregate`` fold then computes, per
    shingle, all permutation hashes ``xxhash64(shingle_hash, p, seed)`` (long
    math, no string re-hash) and keeps the element-wise minimum via
    ``zip_with``. A naive 64-column formulation re-evaluated the shingling 64
    times per row and was ~60x slower.
    """
    hs_all = f"transform(array_distinct({_shingle_expr(text_col, cfg.shingle_size)}), x -> xxhash64(x, {cfg.seed}))"
    # Deterministic shingle subsampling (keep hashes ≡ 0 mod m): an unbiased
    # MinHash over the subsampled shingle sets at 1/m the permutation cost —
    # the standard trick for long documents. Short docs (sample would be
    # empty) fall back to the full set.
    if cfg.minhash_shingle_mod > 1:
        # Bind the expensive shingle-hash array ONCE via lambda variables
        # (transform over a 1-element array), so neither the full set nor the
        # filtered subset is re-evaluated per reference. The previous CASE
        # formulation inlined `hs_all` textually into the condition, the THEN
        # branch and the fallback — 2 evaluations per row of the most
        # expensive sub-expression on the default config path.
        m = cfg.minhash_shingle_mod
        hs = (
            f"transform(transform(array({hs_all}), "
            f"a -> struct(a AS a, filter(a, h -> pmod(h, {m}) = 0) AS f)), "
            f"s -> CASE WHEN size(s.f) > 0 THEN s.f ELSE s.a END)[0]"
        )
    else:
        hs = hs_all
    perms = f"sequence(0, {cfg.num_perm - 1})"
    return F.expr(
        f"aggregate({hs}, "
        f"transform({perms}, p -> 9223372036854775807L), "
        f"(acc, h) -> zip_with(acc, transform({perms}, p -> xxhash64(h, p)), "
        f"(a, b) -> least(a, b)))"
    )


def _shingle_expr(col: str, n: int) -> str:
    return (
        f"CASE WHEN length({col}) >= {n} THEN "
        f"transform(sequence(1, length({col}) - {n} + 1), i -> substring({col}, i, {n})) "
        f"ELSE array({col}) END"
    )


def lsh_block_keys_jvm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """(doc_id, block_key) rows: one key per LSH band — the all-JVM
    formulation that :func:`lsh_block_keys` must reproduce bit for bit."""
    cfg = cfg or BlockingConfig()
    r = cfg.num_perm // cfg.bands
    sig = docs.select(
        F.col(id_col).alias("doc_id"),
        minhash_signature(text_col, cfg).alias("mhs"),
    )
    # Band hash = xxhash64 over the band's r minima (banding via slice).
    bands = F.expr(
        f"transform(sequence(0, {cfg.bands - 1}), "
        f"b -> concat('mh', b, ':', xxhash64(slice(mhs, b * {r} + 1, {r}), b)))"
    )
    return sig.select("doc_id", F.explode(bands).alias("block_key"))
