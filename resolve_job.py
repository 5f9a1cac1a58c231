"""spark-submit entry point for the flagship pipeline (north rule: "run
via spark-submit --py-files on a multi-executor cluster").

Package the library once and submit against any cluster:

    cd /path/to/repo && zip -qr /tmp/gpu_entity_resolver_spark.zip gpu_entity_resolver_spark
    spark-submit --master spark://... \
        --py-files /tmp/gpu_entity_resolver_spark.zip \
        resolve_job.py \
        --input  s3://bucket/pages/            \
        --output s3://bucket/resolved/         \
        --checkpoint-dir s3://bucket/ckpt/     \
        [--config overrides.json] [--shuffle-partitions 4096]

The input is a parquet/Iceberg table with the input_hint columns
(url string, warc_ts timestamp, html binary, text string, lang string).
The session comes from ``SparkSession.builder.getOrCreate()`` so the
master, executor sizing and every ``--conf`` supplied to spark-submit
apply untouched; the job only sets AQE + Arrow (both required by the
engine's design) and an optional shuffle-partition override. ``--config``
takes a JSON file of partial ``ResolverConfig`` overrides deep-merged
onto the defaults (same schema ``save_model`` writes).

The job does not set ``spark.python.daemon.module``: under ``--py-files``
the Python daemon starts before the package reaches the executor, so it
could not import it. Where the package is installed on every executor,
``--conf spark.python.daemon.module=gpu_entity_resolver_spark.worker_daemon``
runs the workers under the daemon ``session.get_spark`` uses, which stops
each Python task from re-reading ``pyspark.zip``'s index (TUNING.md,
"Python worker floor").
"""

from __future__ import annotations

import argparse
import json


def _deep_merge(base: dict, over: dict) -> dict:
    out = dict(base)
    for k, v in over.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--input", required=True, help="parquet path of web pages")
    p.add_argument("--output", required=True, help="parquet path for clusters")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage-table root for resume + lineage")
    p.add_argument("--config", default=None,
                   help="JSON file of partial ResolverConfig overrides")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--summary", action="store_true",
                   help="after writing, re-scan the output for row/cluster "
                        "counts (two extra jobs; default: report paths only)")
    a = p.parse_args()

    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("gpu_entity_resolver_spark.resolve")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if a.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(a.shuffle_partitions))
    spark = b.getOrCreate()

    from gpu_entity_resolver_spark.config import (
        ResolverConfig,
        config_from_dict,
        config_to_dict,
    )
    from gpu_entity_resolver_spark.plans.resolve import resolve_documents

    cfg = ResolverConfig()
    if a.config:
        with open(a.config) as f:
            cfg = config_from_dict(_deep_merge(config_to_dict(cfg), json.load(f)))

    docs = spark.read.parquet(a.input)
    out = resolve_documents(spark, docs, cfg, checkpoint_dir=a.checkpoint_dir)
    out.write.mode("overwrite").parquet(a.output)

    # default path performs ZERO post-write scans (a count + distinct over
    # the finished output is two full extra jobs at 10^12 rows);
    # --summary opts back in for the counts
    report = {"input": a.input, "output": a.output}
    if a.summary:
        done = spark.read.parquet(a.output)
        report["rows"] = done.count()
        report["clusters"] = done.select("cluster").distinct().count()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
