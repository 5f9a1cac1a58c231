"""Single-core kernel timings on inputs sampled from the workload's corpus.

Each kernel runs in this (driver) process on one core, on items drawn with
the workload seed from the run's own data: content sketches of pairs the
run's 03 stage actually scored, and documents of the run's corpus. The
result is microseconds per pair or per doc, plus the number of items
timed.
"""

from __future__ import annotations

import contextlib
import statistics
import time

PAIRS = 2000
DOCS = 1000
MIN_REPS = 3
MIN_TOTAL_S = 0.15


def _us_per_item(fn, n_items: int) -> float:
    """Median over repetitions of microseconds per item (repeats until at
    least MIN_REPS runs and MIN_TOTAL_S seconds)."""
    reps: list[float] = []
    total = 0.0
    while len(reps) < MIN_REPS or total < MIN_TOTAL_S:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        reps.append(dt)
        total += dt
    return statistics.median(reps) / n_items * 1e6


@contextlib.contextmanager
def _plain_udfs(module):
    """While active, ``pandas_udf`` in ``module`` leaves functions
    undecorated and collects them in the yielded list, so the benchmark
    times the exact per-batch code a Python worker runs, without Spark
    around it."""
    seen: list = []
    saved = module.pandas_udf
    module.pandas_udf = lambda *a, **k: (lambda f: seen.append(f) or f)
    try:
        yield seen
    finally:
        module.pandas_udf = saved


def sample_sketches(scored, prepared, seed: int, seg: int):
    """(t_a, t_b) content sketches of up to PAIRS scored pairs, chosen by a
    seeded hash of the pair."""
    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.operators.scoring import content_sketch

    texts = prepared.select(
        "doc_id", content_sketch(F.col("norm_text"), seg).alias("t")
    )
    return (
        scored.select("src", "dst")
        .orderBy(F.xxhash64("src", "dst", F.lit(seed)))
        .limit(PAIRS)
        .join(texts.withColumnsRenamed({"doc_id": "src", "t": "t_a"}), "src")
        .join(texts.withColumnsRenamed({"doc_id": "dst", "t": "t_b"}), "dst")
        .select("t_a", "t_b")
        .toPandas()
    )


def sample_docs(corpus_docs, prepared, seed: int):
    """(html, norm_text) of up to DOCS of the docs the unit prepared,
    chosen by a seeded hash of the url."""
    from pyspark.sql import functions as F

    return (
        corpus_docs.select("doc_id", "url", "html")
        .join(prepared.select("doc_id", "norm_text"), "doc_id")
        .orderBy(F.xxhash64("url", F.lit(seed)))
        .limit(DOCS)
        .select("html", "norm_text")
        .toPandas()
    )


def kernel_metrics(sketches, docs, cfg) -> tuple[dict[str, float], dict[str, int]]:
    """(metrics, items timed per kernel)."""
    from gpu_entity_resolver_spark.functions import normalize
    from gpu_entity_resolver_spark.functions.extraction import extract_text_series
    from gpu_entity_resolver_spark.functions.simfns import (
        jaro_winkler,
        levenshtein_batch,
    )
    from gpu_entity_resolver_spark.functions.xxh64 import gram_hashes_spark

    width = 3 * cfg.scoring.sketch_chars  # the scorer's max_chars
    a, b = sketches["t_a"], sketches["t_b"]
    html = docs["html"].map(bytes)
    norm = list(docs["norm_text"])
    bodies = extract_text_series(html)
    n_sh, seed = cfg.blocking.shingle_size, cfg.blocking.seed
    with _plain_udfs(normalize) as seen:
        normalize.normalize_entity_text(
            bodies.iloc[:0], cfg.replacements, cfg.suffixes_to_remove
        )
    (norm_fn,) = seen
    metrics = {
        "functions.simfns.levenshtein_us_per_pair": _us_per_item(
            lambda: levenshtein_batch(a, b, max_chars=width), len(a)
        ),
        "functions.simfns.jaro_winkler_us_per_pair": _us_per_item(
            lambda: jaro_winkler(a, b, max_chars=width), len(a)
        ),
        "functions.xxh64.gram_hashes_us_per_doc": _us_per_item(
            lambda: [gram_hashes_spark(t, n_sh, seed) for t in norm], len(norm)
        ),
        "functions.normalize.normalize_us_per_doc": _us_per_item(
            lambda: norm_fn(bodies), len(bodies)
        ),
        "functions.extraction.extract_us_per_doc": _us_per_item(
            lambda: extract_text_series(html), len(html)
        ),
    }
    items = {
        "levenshtein_pairs": len(a),
        "jaro_winkler_pairs": len(a),
        "gram_hashes_docs": len(norm),
        "normalize_docs": len(bodies),
        "extract_docs": len(html),
    }
    return metrics, items
