"""Structured-Streaming front door for the engine.

The reference is strictly batch (SURVEY.md §2.10); the streaming analog a
production deployment needs is *incremental intake*: new pages arrive
continuously, are extracted/normalized/fingerprinted exactly like the batch
path, deduplicated against everything already seen, and periodically
assigned to existing clusters (C13) via ``foreachBatch``.

Everything here reuses the batch column functions — one code path for both
engines, which is what keeps the byte-identity invariant true across batch
and streaming intake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ResolverConfig
from ..functions.extraction import extracted_text
from ..functions.normalize import normalize_entity_text
from ..functions.textstats import doc_fingerprint


def normalize_stream(stream: DataFrame, cfg: ResolverConfig | None = None) -> DataFrame:
    """Apply the batch extraction/normalization/fingerprint chain to a
    streaming documents DataFrame (url, warc_ts, html, text, lang)."""
    cfg = cfg or ResolverConfig()
    body = extracted_text(F.col("html"), F.col("text"))
    return stream.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        "warc_ts",
        "lang",
        body.alias("body_text"),
    ).withColumn(
        "norm_text",
        # The body is also an output, so the normalizer reads the extracted
        # column across an expression: chained straight onto the extraction
        # UDF, the Python worker would extract every row a second time for
        # the chain. The coalesce (a no-op: extraction never returns null)
        # costs a second Python runner per partition instead.
        normalize_entity_text(
            F.coalesce(F.col("body_text"), F.lit("")),
            cfg.replacements,
            cfg.suffixes_to_remove,
        ),
    ).withColumn("fingerprint", doc_fingerprint(F.col("body_text")))


def streaming_exact_dedup(
    stream: DataFrame,
    watermark: str = "1 hour",
    cfg: ResolverConfig | None = None,
) -> DataFrame:
    """Exact streaming dedup: keep the first occurrence of each content
    fingerprint, with a watermark bounding the dedup state (late pages
    beyond the watermark are dropped rather than growing state forever).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` on a
    key set that excludes the event-time column never evicts state — the
    watermark would be advertised but state would grow without bound."""
    return (
        normalize_stream(stream, cfg)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def assign_micro_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    canon: DataFrame,
    output_path: str,
    cfg: ResolverConfig,
) -> None:
    """One ``foreachBatch`` step of :func:`incremental_assign_sink`: assign
    the micro-batch's documents against ``canon`` and append the result,
    tagged with ``batch_id``, to ``output_path``; an empty batch writes
    nothing. The ``(doc_id, norm_text)`` projection sits behind one barrier
    before the emptiness probe, so the probe and the assign share one
    evaluation of the micro-batch: its source read and everything upstream
    that decides its rows run once."""
    from ..operators.hygiene import assign_new_documents

    batch = batch_df.select("doc_id", "norm_text").localCheckpoint(eager=False)
    if batch.isEmpty():
        return
    assigned = assign_new_documents(spark, batch, canon, cfg).withColumn(
        "batch_id", F.lit(batch_id)
    )
    assigned.write.mode("append").parquet(output_path)


def incremental_assign_sink(
    spark: SparkSession,
    stream: DataFrame,
    canon: DataFrame,
    output_path: str,
    checkpoint_path: str,
    cfg: ResolverConfig | None = None,
):
    """Assign arriving documents to existing clusters per micro-batch
    (C13 via ``foreachBatch`` — the canonical pattern for joining a stream
    against engine logic that needs blocking + scoring + windows); each
    micro-batch runs :func:`assign_micro_batch`.

    Returns the started StreamingQuery.
    """
    cfg = cfg or ResolverConfig()
    canon = canon.localCheckpoint(eager=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        assign_micro_batch(spark, batch_df, batch_id, canon, output_path, cfg)

    return (
        normalize_stream(stream, cfg)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
