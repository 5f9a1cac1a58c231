"""Similarity search over an embedding column (array<float>).

Two strategies, per the build brief:
- brute-force cosine top-k: exact baseline. The query set is small and
  broadcast; the corpus streams through one pass; per-row dot products are
  JVM higher-order functions (no Python); top-k via window rank.
- IVF-style bucketed top-k: corpus assigned to the nearest of C seeded
  centroids (deterministic sample); queries probe the nearest ``n_probe``
  centroids. Turns the scan into an equi-join on centroid id — the scale
  path (at 10^12 rows the brute-force scan is one full pass per query
  batch; IVF reads only ~n_probe/C of the corpus).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(vec_a: str, vec_b: str):
    """Cosine of two array columns: the :func:`_dot` and :func:`_norm`
    folds."""
    return _dot(vec_a, vec_b) / (_norm(vec_a) * _norm(vec_b))


def _norm(vec: str, dim: int | None = None):
    """L2 norm of an array column — the fold `_cosine` uses, exposed so
    callers can hoist it out of per-pair evaluation: computing it
    once per ROW instead of once per PAIR is bit-identical (same op
    sequence over the same values) but removes 2/3 of the per-pair fold
    work from a k-NN scan. With ``dim`` the fold unrolls (see _dot)."""
    fold = f"aggregate({vec}, 0D, (acc, x) -> acc + cast(x as double) * x)"
    if dim is None or not (0 < dim <= _UNROLL_MAX_DIM):
        return F.expr(f"sqrt({fold})")
    terms = " + ".join(
        f"(cast({vec}[{i}] as double) * cast({vec}[{i}] as double))"
        for i in range(dim)
    )
    return F.expr(
        f"sqrt(CASE WHEN size({vec}) = {dim} THEN 0D + {terms} ELSE {fold} END)"
    )


# Unrolling bound: a 256-term sum is still a comfortable codegen method;
# wider vectors keep the fold (janino would eventually refuse the method).
_UNROLL_MAX_DIM = 256


def _dot(vec_a: str, vec_b: str, dim: int | None = None):
    """Dot product of two array columns.

    The ``aggregate(zip_with(...))`` fold is a boxed higher-order Catalyst
    expression — it never enters whole-stage codegen and allocates a
    zipped array per PAIR (guide §4.1: prefer expressions codegen can
    compile). When the caller knows the embedding dimension, the fold
    unrolls to ``0D + a[0]*b[0] + a[1]*b[1] + ...`` — plain projections
    that compile, with IDENTICAL left-associative IEEE addition order to
    the fold (acc starts at 0D and adds one product per element, in
    element order), so cosine bits cannot change. Rows whose size differs
    from ``dim`` take the fold via the CASE guard (same expression as
    before, same values)."""
    fold = (
        f"aggregate(zip_with({vec_a}, {vec_b}, (x, y) -> cast(x as double) * y), "
        "0D, (acc, v) -> acc + v)"
    )
    if dim is None or not (0 < dim <= _UNROLL_MAX_DIM):
        return F.expr(fold)
    terms = " + ".join(
        f"(cast({vec_a}[{i}] as double) * cast({vec_b}[{i}] as double))"
        for i in range(dim)
    )
    return F.expr(
        f"CASE WHEN size({vec_a}) = {dim} AND size({vec_b}) = {dim} "
        f"THEN 0D + {terms} ELSE {fold} END"
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Embedding width from the first row of a SMALL frame (the query set —
    one trivially cheap job), enabling the unrolled kernels. None on empty
    input keeps the fold everywhere."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None else None


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors: (query_id, neighbor_id, rank).

    ``queries`` must be small (broadcast); excludes self-matches. Rank ties
    break on neighbor id ascending (deterministic).

    Norms are hoisted to one evaluation per query row / per corpus row
    (guide §1.2 "per-task work"): ``cosine = dot / (qn * cn)`` evaluates the
    exact same IEEE op sequence as the inline form, so results are
    bit-identical, but the per-pair cost drops from three O(dim) folds to
    one."""
    from ..util import spread_input

    dim = _probe_dim(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    ).withColumn("qn", _norm("qv", dim))
    # the corpus-side dot/rank map inherits the scan partitioning; a small
    # embeddings table is one split — one core for the whole scan
    c = spread_input(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
    ).withColumn("cn", _norm("cv", dim))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("qv", "cv", dim) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: IVF with deterministic sampled centroids.

    Centroids are the vectors whose ids hash lowest (a seeded, data-
    independent sample — stable across parallelism). Corpus rows index to
    their single nearest centroid; queries probe ``n_probe`` nearest
    centroid lists. Returns (query_id, neighbor_id, rank, cosine).

    ``n_centroids`` defaults to the standard IVF sizing
    ``max(16, ceil(sqrt(N)))`` (one cheap corpus count) so the per-probe
    list length stays ~sqrt(N) at any corpus size — a fixed centroid count
    would scan a constant FRACTION of the corpus per query, which stops
    being "approximate" at 10^9 rows. ``n_probe`` defaults to
    ``max(4, ceil(sqrt(n_centroids)))`` — the probed share then shrinks as
    N grows (0.6% of lists at 10^9 rows) while staying generous on small
    corpora. Pass explicit values to pin both (e.g. in latency-critical
    serving paths). Like any IVF, recall is strong when true neighbors are
    genuinely close (near-dup retrieval — they land in the probed lists)
    and degrades toward n_probe/n_centroids on data with no neighborhood
    structure; raise n_probe for such workloads.
    """
    from ..util import spread_input

    c = spread_input(
        corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("cv"))
    )
    if n_centroids is None:
        n_centroids = max(16, math.isqrt(max(c.count(), 1) - 1) + 1)
    if n_probe is None:
        n_probe = max(4, math.isqrt(max(n_centroids - 1, 0)) + 1)
    cents = (
        c.withColumn("hk", F.xxhash64("nid", F.lit(seed)))
        .orderBy("hk")
        .limit(n_centroids)
        .select(F.col("nid").alias("centroid_id"), F.col("cv").alias("centv"))
    )
    # corpus -> nearest centroid: a single-projection argmax over the
    # broadcast centroid array. The former formulation crossJoined then
    # ranked with a per-nid window — a corpus x n_centroids shuffle that an
    # argmax projection makes unnecessary (zero shuffle, one corpus pass).
    # Centroids are L2-normalized once, so argmax dot == argmax cosine.
    cents_n = cents.select(
        "centroid_id",
        F.expr(
            "transform(centv, x -> cast(x as double) / "
            "sqrt(aggregate(centv, 0D, (a, y) -> a + cast(y as double) * y)))"
        ).alias("centv"),
    )
    cents_arr = cents_n.agg(
        F.collect_list(F.struct("centroid_id", "centv")).alias("_cs")
    )
    argmax = F.expr(
        "aggregate("
        "transform(_cs, ct -> struct(ct.centroid_id AS cid, "
        "aggregate(zip_with(cv, ct.centv, (x, y) -> cast(x as double) * y), "
        "0D, (a, v) -> a + v) AS d)), "
        "struct(cast(-1 as bigint) AS cid, cast(-1e18 as double) AS d), "
        "(acc, e) -> CASE WHEN e.d > acc.d OR (e.d = acc.d AND e.cid < acc.cid) "
        "THEN struct(e.cid AS cid, e.d AS d) ELSE acc END)"
    )
    # width from the small query set, as in brute_force_topk: `cents` is an
    # un-materialized sort over the corpus. Rows of another width take the
    # fold through the CASE guard in _norm/_dot.
    dim = _probe_dim(queries, vec_col)
    assigned = (
        c.crossJoin(F.broadcast(cents_arr))
        .select("nid", "cv", argmax.getField("cid").alias("centroid_id"))
        .withColumn("cn", _norm("cv", dim))
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "centroid_id", _cosine("qv", "centv").alias("qsim"))
        .withColumn("rn", F.row_number().over(probe_w))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qv", "centroid_id")
        .withColumn("qn", _norm("qv", dim))
    )
    # norms hoisted per row (bit-identical; see brute_force_topk)
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .where(F.col("query_id") != F.col("nid"))
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            (_dot("qv", "cv", dim) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
