"""Tests for multimodal plumbing and the streaming front door."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.multimodal import (
    decode_image,
    encode_fake_image,
    generate_fake_images,
    image_features,
    resize_images,
)


def test_fake_codec_roundtrip():
    payload = encode_fake_image(20, 10, seed=1)
    img = decode_image(payload)
    assert img.shape == (10, 20)


def test_decode_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")


def test_image_features_and_resize(spark):
    imgs = generate_fake_images(spark, n=50)
    feats = image_features(imgs)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["width"] >= 16 and r["height"] >= 16
        assert 0 <= r["mean_intensity"] <= 255
    # determinism across partitioning
    feats2 = {
        r["doc_id"]: r["phash"]
        for r in image_features(imgs.repartition(13)).collect()
    }
    assert {r["doc_id"]: r["phash"] for r in rows} == feats2
    small = resize_images(imgs, target=8)
    out = image_features(small).collect()
    assert all(r["width"] == 8 and r["height"] == 8 for r in out)


def test_streaming_exact_dedup(spark):
    """File-source streaming dedup: duplicated pages collapse to one row per
    fingerprint; the batch normalize chain runs inside the stream."""
    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )
    from gpu_entity_resolver_spark.streaming.incremental import (
        streaming_exact_dedup,
    )

    with tempfile.TemporaryDirectory(prefix="stream_") as d:
        src = os.path.join(d, "in")
        out = os.path.join(d, "out")
        ck = os.path.join(d, "ck")
        docs = (
            generate_documents(spark, "/root/testdata/sf0.001", max_entities=40)
            .select(*INPUT_COLUMNS)
            .localCheckpoint(eager=True)
        )
        # duplicate every page under a second url to force fingerprint dups
        dup = docs.withColumn("url", F.concat(F.col("url"), F.lit("?dup=1")))
        docs.unionByName(dup).write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.read.parquet(out)
        n_fp = got.select("fingerprint").distinct().count()
        assert got.count() == n_fp  # exactly one row per fingerprint
        assert n_fp > 0


def test_incremental_assign_sink(spark):
    from gpu_entity_resolver_spark.streaming.incremental import (
        incremental_assign_sink,
    )

    with tempfile.TemporaryDirectory(prefix="assign_") as d:
        src = os.path.join(d, "in")
        out = os.path.join(d, "out")
        ck = os.path.join(d, "ck")
        canon = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "cluster long, canonical_text string",
        )
        rows = [
            (
                "http://a.example.com/1",
                None,
                b"<html><body><p>the quick brown fox jumps over the lazy dog today</p></body></html>",
                None,
                "en",
            ),
            (
                "http://a.example.com/2",
                None,
                b"<html><body><p>zebra unrelated content entirely qq</p></body></html>",
                None,
                "en",
            ),
        ]
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = incremental_assign_sink(spark, stream, canon, out, ck)
        q.awaitTermination(300)
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert len(got) == 2
        by_new = {r["is_new_entity"] for r in got.values()}
        assert by_new == {True, False}
        matched = [r for r in got.values() if not r["is_new_entity"]][0]
        assert matched["cluster"] == 100


def test_assign_micro_batch_reads_batch_once(spark):
    """The emptiness probe and the assign read one evaluation of the
    micro-batch; an empty micro-batch writes nothing. Spark prunes unused
    UDF columns from the probe and drops the accumulator updates of a task
    that the probe's limit stops early, so the counting UDF feeds a filter
    (the probe must evaluate it) and records each call in a file."""
    import uuid

    import pandas as pd

    from gpu_entity_resolver_spark.config import ResolverConfig
    from gpu_entity_resolver_spark.streaming.incremental import (
        assign_micro_batch,
    )

    canon = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "cluster long, canonical_text string",
    )
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumped over a lazy dog today",
        "zebra unrelated content entirely qq",
    ]
    cfg = ResolverConfig()
    with tempfile.TemporaryDirectory(prefix="assign_batch_") as d:
        calls = os.path.join(d, "calls")
        os.makedirs(calls)

        @F.pandas_udf("string")
        def counted(s: pd.Series) -> pd.Series:
            with open(os.path.join(calls, uuid.uuid4().hex), "w") as f:
                f.write(str(len(s)))
            return s

        # nondeterministic: the filter stays above the UDF instead of being
        # pushed below it as a second evaluation
        batch = (
            spark.createDataFrame(
                list(enumerate(texts)), "doc_id long, raw string"
            )
            .repartition(3)
            .select(
                "doc_id",
                counted.asNondeterministic()("raw").alias("norm_text"),
                F.lit("x").alias("url"),
            )
            .where(F.col("norm_text") != "")
        )
        out = os.path.join(d, "out")
        assign_micro_batch(spark, batch, 3, canon, out, cfg)
        evaluated = 0
        for name in os.listdir(calls):
            with open(os.path.join(calls, name)) as f:
                evaluated += int(f.read())
        assert evaluated == len(texts)
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        assert sorted(got) == list(range(len(texts)))
        assert {r["batch_id"] for r in got.values()} == {3}
        assert got[0]["cluster"] == 100 and not got[0]["is_new_entity"]

        empty_out = os.path.join(d, "empty")
        assign_micro_batch(spark, batch.limit(0), 4, canon, empty_out, cfg)
        assert not os.path.exists(empty_out)
