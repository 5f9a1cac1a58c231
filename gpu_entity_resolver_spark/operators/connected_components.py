"""Iterative DataFrame connected components — large-star / small-star.

Replaces the reference's ``cugraph.weakly_connected_components``
(reference utils.py:361-398) with the alternating-star algorithm of
Kiveris et al. (MapReduce CC), which converges in O(log n) rounds and is
expressible purely as DataFrame joins/aggregations:

- large-star: every node's strictly-larger neighbors re-attach to the
  minimum of its closed neighborhood;
- small-star: every node and its smaller-or-equal neighbors re-attach to
  that minimum.

Each round is two shuffles (groupBy min + equi-join back). Frontiers are
``localCheckpoint``-ed to cut lineage (the analog of the reference freeing
GPU pools per batch, resolver.py:2613-2619). Convergence is detected by a
(count, bit_xor-of-xxhash64) signature of the edge set — O(1) driver data.

A PARTITION-LOCAL CONTRACTION pre-phase runs first:
each input partition collapses its internal structure with a vectorized
Shiloach-Vishkin-style union-find (numpy, zero shuffle), and only the
cross-partition boundary graph — edges between local roots of nodes that
appear in more than one partition — enters the distributed star rounds.
On clustered similarity graphs (the flagship's workload) the boundary
graph is orders of magnitude smaller than the input, so the star phase
runs fewer, cheaper rounds; at the 100 TB target the contraction also
removes the bulk of the per-round shuffle volume. Measured on the bench
graph (150k edges, local[32], interleaved same-window A/B, min-of-3):
star-only 2.125 s vs contraction 0.996 s — 2.1x.

Output labels use the component's minimum vertex id, the same convention as
the oracle fixture in FIXTURES.md §4.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # Orient every edge toward the smaller endpoint.
    oriented = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = (
        oriented.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    reattach = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        reattach.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _partition_cc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Exact min-label connected components over ONE partition's edges.

    Vectorized Shiloach-Vishkin variant: per iteration, rewrite the edge
    list into current label space (contraction — self-edges die, so the
    live edge set shrinks geometrically), min-hook both endpoints, then
    pointer-jump twice. All numpy; memory is O(partition nodes + edges)
    int64 arrays, bounded by spark.sql.files.maxPartitionBytes. Emits one
    (node, root) row per node in the partition, root = min node id of the
    node's partition-local component.

    Dead end for the record: dropping label-equal edges WITHOUT rewriting
    into label space is wrong (a node can learn a smaller label after its
    edge was dropped, stranding its neighbor) — caught by the union-find
    property harness; property tests in tests/ replay this.
    """
    dfs = [b for b in batches if len(b)]
    if not dfs:
        return
    src = np.concatenate([d["src"].to_numpy(np.int64) for d in dfs])
    dst = np.concatenate([d["dst"].to_numpy(np.int64) for d in dfs])
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    si, di = idx[: len(src)], idx[len(src):]
    lab = np.arange(n, dtype=np.int64)
    while True:
        si, di = lab[si], lab[di]
        live = si != di
        if not live.any():
            break
        si, di = si[live], di[live]
        m = np.minimum(si, di)
        np.minimum.at(lab, si, m)
        np.minimum.at(lab, di, m)
        lab = np.minimum(lab, lab[lab])
        lab = np.minimum(lab, lab[lab])
    while True:  # full path compression
        nxt = lab[lab]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    yield pd.DataFrame({"node": nodes, "root": nodes[lab]})


def _star_components(e: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating-star rounds over a canonical (src>dst, distinct,
    checkpointed) edge set. Returns (vertex, component) for every vertex
    appearing in ``e``."""
    vertices = (
        e.select(F.col("src").alias("vertex"))
        .union(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iterations):
        # Measured dead end (round 5): batching TWO star pairs per
        # checkpoint+probe to halve driver round trips is 2x SLOWER, not
        # faster (interleaved same-window A/B on the bench graph, min-of-3:
        # 1.83 s one-pair vs 3.60 s two-pair). Each star references its
        # input edge set several times (union + groupBy + join), so an
        # UN-checkpointed first pair is re-derived through the second
        # pair's plan — the recompute costs more than the saved probe jobs.
        # Keep exactly one materialization per star pair. eager=False: the
        # signature aggregation right below is the materializing action, so
        # each round costs ONE job (checkpoint + probe fused) instead of
        # two — round count x job-scheduling latency is the CC wall floor
        # on small graphs (r6 job-floor trim; lineage is still truncated
        # once the round's job has run).
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # one aggregation does double duty: its count is also the emptiness
        # check (a separate isEmpty() would cost one extra job per round)
        sig_row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig[0] == 0 or sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )

    # Converged edge set is a union of stars: (member, root) with root < member.
    labels = e.select(
        F.col("src").alias("vertex"), F.col("dst").alias("component")
    ).groupBy("vertex").agg(F.min("component").alias("component"))
    return (
        vertices.join(labels, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", "vertex").alias("component"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_cc_max_edges: int = 1_000_000,
) -> DataFrame:
    """Compute connected components of an undirected graph.

    Args:
        edges: DataFrame with two integer vertex columns (self-loops ignored).
        driver_cc_max_edges: when the contracted boundary graph has at most
            this many edges (~16 MB of int64 pairs at the default — the
            same order as the broadcast tables this engine already ships),
            solve it on the DRIVER with the identical numpy union-find
            kernel instead of iterating distributed star rounds: the
            boundary graph is typically a few thousand edges, and each star
            round costs a full job round-trip — the scheduling floor, not
            the compute, is the CC wall at bench scale (guide §1.2).
            Boundary graphs above the bound (possible at the 100 TB
            target) take the distributed star path unchanged. The count
            that gates this reuses the materialization job the star path
            would have paid anyway.

    Returns:
        DataFrame ``(vertex: long, component: long)`` covering every vertex
        present in the input, ``component`` = min vertex id in the component.
    """
    e0 = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    # eager=False: the first consumer (partition-CC's groupBy) materializes
    # the canonical edge set inside its own job — no separate checkpoint
    # job (r6 job-floor trim).
    e = (
        e0.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    # (node, local root) — one row per partition the node appears in
    part_labels = e.mapInPandas(_partition_cc, schema="node long, root long")
    # A node seen in k partitions carries k local roots, all provably in
    # one component: connect them through the node's minimum root. The
    # collect_set is bounded by the partition count, not the data.
    per_node = (
        part_labels.groupBy("node")
        .agg(F.min("root").alias("r0"), F.collect_set("root").alias("rs"))
        # reused by boundary AND final join; eager=False — boundary's
        # first job populates the cache
        .localCheckpoint(eager=False)
    )
    boundary = (
        per_node.select(F.col("r0").alias("src"), F.explode("rs").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_boundary = boundary.count()  # materializes the checkpoint
    if n_boundary == 0:
        # no component crosses a partition: every local root is final
        comp = None
    elif n_boundary <= driver_cc_max_edges:
        # bounded driver solve with the SAME kernel the partitions ran
        pdf = boundary.toPandas()
        res = next(_partition_cc(iter([pdf]))).rename(
            columns={"node": "vertex", "root": "component"}
        )
        comp = boundary.sparkSession.createDataFrame(
            res, schema="vertex long, component long"
        )
    else:
        comp = _star_components(boundary, max_iterations)
    # r0's component is the node's component; a local root whose tree
    # never crosses a partition is absent from the boundary graph and
    # is its own component.
    if comp is None:
        labels = per_node.select(
            F.col("node").alias("vertex"), F.col("r0").alias("component")
        )
    else:
        labels = (
            per_node.select("node", "r0")
            .join(comp, per_node["r0"] == comp["vertex"], "left")
            .select(
                F.col("node").alias("vertex"),
                F.coalesce("component", "r0").alias("component"),
            )
        )

    # Every node of the canonical edge set is covered by `labels` (the
    # partition contraction emits one row per node it sees). The only
    # vertices possibly missing are those appearing EXCLUSIVELY in
    # self-loops — they are their own component. The former formulation built a distinct over
    # ALL 2E endpoints and left-joined the full label table just to cover
    # them (guide §2.4: a distinct over data the labels already cover);
    # filtering the self-loop subset costs O(self-loops) instead.
    sl = (
        e0.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("vertex"))
        .distinct()
    )
    extra = sl.join(labels, "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    return labels.unionByName(extra)
