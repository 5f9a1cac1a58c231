"""util.spread_input, the package's one small-input rule: each side of its
size gate, and a decision that reads plan metadata only."""

import contextlib
import os

import pytest

from gpu_entity_resolver_spark.util import spread_input

MPB = "spark.sql.files.maxPartitionBytes"


@pytest.fixture
def scan(spark, sf_dir):
    # one 65,515-byte file
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@contextlib.contextmanager
def _max_partition_bytes(spark, value):
    prev = spark.conf.get(MPB, None)
    spark.conf.set(MPB, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(MPB)
        else:
            spark.conf.set(MPB, prev)


def _spread(spark, df) -> bool:
    out = spread_input(df)
    if out is df:
        return False
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    return True


def test_small_scan_is_spread(spark, scan):
    assert _spread(spark, scan)


def test_scan_past_the_split_budget_is_left_alone(spark, scan):
    """8 KB splits: 65,515 bytes estimate 8 splits, not below the 8 cores of
    the test session (nor below fewer)."""
    with _max_partition_bytes(spark, "8KB"):
        assert not _spread(spark, scan)


def test_byte_string_conf_is_read(spark, scan):
    """Spark's documented byte-string form must not switch the rule off."""
    with _max_partition_bytes(spark, "128MB"):
        assert _spread(spark, scan)


def test_projection_gets_the_scan_decision(spark, scan):
    """The gate sums the plan's leaves: a narrow select lowers the root's
    size estimate but reads the same file bytes."""
    narrow = scan.select("doc_id", "lang")
    assert _spread(spark, narrow) == _spread(spark, scan) is True
    with _max_partition_bytes(spark, "8KB"):
        assert _spread(spark, narrow) == _spread(spark, scan) is False


def test_non_file_frames_keep_their_partitioning(spark, scan):
    checkpointed = scan.localCheckpoint(eager=True)
    in_memory = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    assert spread_input(checkpointed) is checkpointed
    assert spread_input(in_memory) is in_memory


def test_decision_submits_no_job(spark, scan):
    """Under AQE, counting the partitions of a frame with an exchange runs
    the upstream shuffle stage; the decision must not."""
    sc = spark.sparkContext
    grouped = scan.groupBy("lang").count()
    props = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(p) for p in props]
    sc.setJobGroup("spread_input_decision", "spread_input decision")
    try:
        spread_input(grouped)
        jobs = sc.statusTracker().getJobIdsForGroup("spread_input_decision")
    finally:
        for p, v in zip(props, prev):
            sc.setLocalProperty(p, v)
    assert jobs == []
