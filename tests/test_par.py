"""spread_scan: the small-input parallelism guard (operators/par.py)."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.operators.par import spread_scan


@pytest.fixture(scope="module")
def spark():
    from news_crawler_spark.session import get_spark

    return get_spark("test-par", cpus=4, shuffle_partitions=4)


def test_widens_narrow_input_preserving_rows(spark):
    df = spark.range(1000).coalesce(1).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    out = spread_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row multiset unchanged
    assert out.count() == 1000
    assert (out.agg(F.bit_xor(F.xxhash64("id", "k"))).collect()[0][0]
            == df.agg(F.bit_xor(F.xxhash64("id", "k"))).collect()[0][0])


def test_noop_on_wide_input(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(p + 3)
    out = spread_scan(df)
    # already wide: returned untouched (same plan object, no new node)
    assert out is df


def test_deterministic_placement(spark):
    """Round-robin repartition sorts before placing (SPARK-23207), so
    the same input lands identically across runs — per-partition
    digests must be stable."""
    df = spark.range(500).coalesce(1)

    def layout():
        return sorted(
            spread_scan(df)
            .select(F.spark_partition_id().alias("p"), "id")
            .groupBy("p").agg(F.bit_xor(F.xxhash64("id")).alias("h"))
            .collect())

    assert layout() == layout()


def _jobs_run_by(spark, fn, group: str):
    """(fn's result, ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shape", ["repartitioned", "joined"])
def test_probe_runs_no_job_on_a_fixed_exchange(spark, shape):
    """A frame whose partitioning an explicit-count Exchange fixes is
    judged off its plan: no shuffle stage runs to count partitions,
    and the frame comes back as it is. The joined frame is the
    ingest's shape, a left-anti join against a round-robin spread."""
    p = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(p)
    if shape == "joined":
        df = df.join(spark.range(0, 1000, 3), "id", "left_anti")
    out, jobs = _jobs_run_by(spark, lambda: spread_scan(df), f"probe-{shape}")
    assert jobs == []
    assert out is df


def test_probe_widens_a_narrow_fixed_exchange_without_a_job(spark):
    p = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(2)
    out, jobs = _jobs_run_by(spark, lambda: spread_scan(df), "probe-narrow")
    assert jobs == []
    assert out.rdd.getNumPartitions() == p


@pytest.mark.parametrize("shape", ["coalesced", "aggregated"])
def test_narrow_frames_still_widen(spark, shape):
    """A Coalesce above an Exchange, and an aggregate whose Exchange
    AQE coalesces once it runs, are counted as before: both come out
    at the default parallelism, placed as ``repartition(p)`` places
    them."""
    p = spark.sparkContext.defaultParallelism
    if shape == "coalesced":
        df = spark.range(1000).repartition(8).coalesce(1)
    else:
        df = spark.range(1000).selectExpr("id % 7 AS id").groupBy("id").count()
    out = spread_scan(df)
    assert out is not df
    assert out.rdd.getNumPartitions() == p

    def layout(frame):
        return sorted(frame.select(F.spark_partition_id().alias("p"), "id")
                      .groupBy("p").agg(F.bit_xor(F.xxhash64("id")).alias("h"))
                      .collect())

    assert layout(out) == layout(df.repartition(p))
