"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition a SMALL file scan up to cluster parallelism; the
    package's one rule for small inputs.

    Narrow per-row work (extraction + normalization, vectorized python key
    builds, fingerprint kernels, JVM dot folds) inherits the scan
    partitioning, and a table under ``maxPartitionBytes`` scans as ONE
    split: the whole pre-exchange stage would run on one core. A
    round-robin repartition of a provably small input costs one sub-second
    shuffle and restores full parallelism.

    Returns ``df.repartition(2 * defaultParallelism)`` only when the frame
    reads fewer files than cluster parallelism AND its estimated scan
    splits — the summed ``sizeInBytes`` of the optimized plan's leaves
    over the session's ``filesMaxPartitionBytes`` — fall short of it too;
    otherwise ``df`` itself. Leaves, not the root: a projection lowers the
    root's estimate while the scan still reads every byte. A handful of
    multi-GB files already splits past the target on its own, and a leaf
    of unknown size (``Long.MaxValue``) makes the sum huge, so a big input
    is never shuffled (fatal at 100 TB). Frames that read no files
    (in-memory data, checkpoints, prior-stage results) keep their
    partitioning.

    The decision reads plan metadata only: it runs no Spark job and no
    plan-to-RDD translation. Row-level results are partition-invariant
    across the engine (pinned by the determinism tests), and
    sort-before-repartition (Spark default) keeps the assignment
    reproducible under task retry.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # the JVM array's length, not pyspark's per-path list copy
    if not 0 < len(df._jdf.inputFiles()) < target:
        return df
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    size = sum(leaves.apply(i).stats().sizeInBytes() for i in range(leaves.length()))
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if -(-size // split) < target:
        return df.repartition(2 * target)
    return df
