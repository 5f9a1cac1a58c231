"""Extra benchmarks (optimization round 6): per-phase isolation.

NOT part of the driver contract — ``bench.py`` is frozen; this file exists
so optimization work can time one phase at a time with the noop sink
(spark_optimization_guide.md §1.4) and labeled jobs (§1.5) instead of
inferring phase costs from end-to-end walls.

Usage:
    python bench_extra.py --what minhash
    python bench_extra.py --what simhash
    python bench_extra.py --what worker_floor
    python bench_extra.py --what spread
Prints one JSON line per phase set. ``worker_floor`` reads no input: it
times the fixed cost of a Python worker task (TUNING.md, "Python worker
floor"). ``spread`` times ``util.spread_input``'s decision on five frame
kinds over the documents parquet and counts the Spark jobs each decision
submits (TUNING.md, "01_normalized"). Resolve stages are timed from the
shipped plan by ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


N_REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def _timed(spark, label: str, fn, out: dict) -> object:
    """min-of-N_REPS wall time — the host is shared and single draws carry
    ~2x noisy-neighbor spread; min is the reproducible number (same
    convention as bench.py --runs)."""
    spark.sparkContext.setJobDescription(label)
    best, res = float("inf"), None
    for _ in range(N_REPS):
        t0 = time.time()
        res = fn()
        best = min(best, time.time() - t0)
    out[label] = round(best, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {out[label]:.3f}s", file=sys.stderr)
    return res


def bench_minhash(spark, docs, out: dict) -> None:
    """Component timing of minhash_dedup over the documents table."""
    from gpu_entity_resolver_spark.config import BlockingConfig
    from gpu_entity_resolver_spark.operators.blocking import (
        candidate_pairs,
        lsh_block_keys,
        sort_token_table,
    )
    from gpu_entity_resolver_spark.operators.connected_components import (
        connected_components,
    )
    from gpu_entity_resolver_spark.operators.dedup import minhash_dedup
    from gpu_entity_resolver_spark.operators.shingles import (
        doc_vector_table,
        pair_cosine_vecs,
    )

    cfg = BlockingConfig()
    norm = docs.select(
        F.col("doc_id"),
        F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("nt"),
    ).localCheckpoint(eager=True)
    keys = _timed(
        spark,
        "mh_keys",
        lambda: lsh_block_keys(norm, "doc_id", "nt", cfg).localCheckpoint(
            eager=True
        ),
        out,
    )
    out["n_keys"] = keys.count()
    pairs = _timed(
        spark,
        "mh_pairs",
        lambda: candidate_pairs(
            lsh_block_keys(norm, "doc_id", "nt", cfg),
            cfg,
            tokens=sort_token_table(norm, "doc_id", "nt"),
        ).localCheckpoint(eager=True),
        out,
    )
    out["n_pairs"] = pairs.count()
    vecs = _timed(
        spark,
        "mh_vecs",
        lambda: doc_vector_table(
            norm, "doc_id", "nt", n_lo=4, n_hi=4, top_k=64
        ).localCheckpoint(eager=True),
        out,
    )
    cos = _timed(
        spark,
        "mh_cosine",
        lambda: pair_cosine_vecs(pairs, vecs).localCheckpoint(eager=True),
        out,
    )
    edges = cos.where(F.col("tfidf_cos") >= 0.85)
    _timed(spark, "mh_cc", lambda: connected_components(edges).count(), out)
    _timed(
        spark,
        "mh_total",
        lambda: minhash_dedup(docs, "doc_id", "text").count(),
        out,
    )


def bench_simhash(spark, docs, out: dict) -> None:
    """Component timing of simhash_bands."""
    from gpu_entity_resolver_spark.operators.dedup import (
        simhash64_table,
        simhash_bands,
    )

    _timed(
        spark,
        "sh_table",
        lambda: _noop(simhash64_table(docs, "doc_id", "text")),
        out,
    )
    _timed(
        spark,
        "sh_bands_total",
        lambda: simhash_bands(docs, "doc_id", "text").count(),
        out,
    )


def bench_worker_floor(spark, out: dict, n_tasks: int = 97, rows: int = 128) -> None:
    """The fixed cost of a Python worker task: ``n_tasks`` one-batch
    identity ``mapInPandas`` tasks, and the ``importlib.invalidate_caches()``
    call each task starts with, timed inside the workers (median over one
    task per core, 5 calls each; min of N_REPS medians)."""
    import statistics

    import pandas as pd

    def identity(batches):
        yield from batches

    tasks = spark.range(n_tasks * rows, numPartitions=n_tasks)
    _timed(
        spark,
        "worker_floor_tasks_s",
        lambda: _noop(tasks.mapInPandas(identity, tasks.schema)),
        out,
    )

    def probe(batches):
        import importlib

        for _ in batches:
            pass
        ms = []
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms.append((time.perf_counter() - t0) * 1e3)
        yield pd.DataFrame({"ms": ms})

    cores = spark.sparkContext.defaultParallelism
    calls = spark.range(cores, numPartitions=cores).mapInPandas(probe, "ms double")
    out["invalidate_caches_ms"] = round(
        min(
            statistics.median(r["ms"] for r in calls.collect())
            for _ in range(N_REPS)
        ),
        3,
    )
    out["n_tasks"] = n_tasks
    print(f"  invalidate_caches_ms: {out['invalidate_caches_ms']}", file=sys.stderr)


def bench_spread(spark, sf_dir: str, out: dict) -> None:
    """``spread_input``'s decision on a scan, a narrow projection, a scan +
    exchange, a localCheckpoint and an in-memory frame: ms per decision on
    a freshly built frame (min of N_REPS), the Spark jobs it submitted
    (max over the reps) and whether it spread the frame."""
    import pandas as pd

    from gpu_entity_resolver_spark.util import spread_input

    path = f"{sf_dir}/documents.parquet"
    checkpointed = spark.read.parquet(path).localCheckpoint(eager=True)
    in_memory = pd.DataFrame({"doc_id": range(128), "text": ["x"] * 128})
    kinds = {
        "scan": lambda: spark.read.parquet(path),
        "projection": lambda: spark.read.parquet(path).select("doc_id", "lang"),
        "exchange": lambda: spark.read.parquet(path).groupBy("lang").count(),
        "local_checkpoint": lambda: checkpointed.select("*"),
        "in_memory": lambda: spark.createDataFrame(in_memory),
    }
    sc = spark.sparkContext
    for kind, build in kinds.items():
        best, jobs = float("inf"), 0
        for rep in range(N_REPS):
            df = build()
            group = f"spread_{kind}_{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            spread = spread_input(df) is not df
            best = min(best, time.perf_counter() - t0)
            jobs = max(jobs, len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        out[f"{kind}_ms"] = round(best * 1e3, 1)
        out[f"{kind}_jobs"] = jobs
        out[f"{kind}_spread"] = spread
        print(f"  {kind}: {out[f'{kind}_ms']} ms, {jobs} jobs", file=sys.stderr)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument(
        "--what",
        default="minhash",
        choices=["minhash", "simhash", "worker_floor", "spread"],
    )
    args = p.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from gpu_entity_resolver_spark.session import get_spark

    spark = get_spark(app_name="bench_extra", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"what": args.what, "cpus": cpus}
    if args.what == "worker_floor":
        bench_worker_floor(spark, out)
        print(json.dumps(out))
        return
    if args.what == "spread":
        bench_spread(spark, sf_dir, out)
        print(json.dumps(out))
        return
    # the operator queries read the documents parquet directly, exactly as
    # __spark_entry__.queries() does
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    out["n_docs"] = docs.count()
    if args.what == "minhash":
        bench_minhash(spark, docs, out)
    else:
        bench_simhash(spark, docs, out)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
