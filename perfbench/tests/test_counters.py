"""The outside-in counter attributes every job of a call to it,
including jobs the call runs on its own pool threads."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.counters import Recorder, WriteMeter


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-counters")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(tmp / "wh"))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_pool_thread_jobs_are_counted(spark):
    rec = Recorder(spark, traced=True)
    with rec.op(0, "x"):
        with rec.call("layer", "fn") as span:
            spark.range(10).collect()  # one job, no shuffle
            with ThreadPoolExecutor(3) as pool:
                list(pool.map(lambda n: spark.range(n).collect(), (5, 6, 7)))
        with rec.call("layer", "other") as other:
            pass
    assert span["jobs"] == 4
    assert span["tasks"] >= 4
    assert other["jobs"] == 0
    m = rec.call_metrics()
    assert m["layer.fn.jobs"] == 4
    assert "bench" in rec.self_times()
    assert rec.overhead_s > 0  # the job counting around each call


def test_partitioned_merge_counts_child_commits(spark, tmp_path):
    from pyspark.sql import functions as F

    from parquet_demo_spark.sources.partitioned_store import (
        PartitionedParquetMergeStore,
    )

    root = str(tmp_path / "t")
    store = PartitionedParquetMergeStore(
        root, keys=("day", "id"), partition_col="day", num_buckets=2
    )
    rows = spark.range(40).select(
        F.concat(F.lit("d"), (F.col("id") % 4).cast("string")).alias("day"),
        F.col("id"),
        (F.col("id") * 2).alias("v"),
    )
    rec = Recorder(spark, traced=True)
    meter = WriteMeter([root])
    with rec.op(0, "merge"):
        with rec.call("sources.partitioned_store", "merge", roots={"": root}) as span:
            store.merge(rows)  # four partitions, committed on the store's pool
    # every touched child commits through at least one job of its own
    assert span["jobs"] >= 4
    assert span["files_written"] > 0
    assert meter.added() == (span["bytes_written"], span["files_written"])
    # a second take sees nothing: the counter was left at the last job
    assert rec.jobs.take() == (0, 0, 0)
