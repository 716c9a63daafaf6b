"""Arrow-native reads and writes run as one Spark job each.

The sources plan their work units on the driver (IPC batch ranges,
Flight endpoints) and launch one task per unit; the writers drain into
Spark's ``noop`` sink. Neither needs a shuffle, so each operation is a
single job, and the partition count still equals the unit count.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest
from pyspark.sql import functions as F

from arrow_spark.sources.ipc import _plan_splits, read_ipc, write_ipc

fl = pytest.importorskip("pyarrow.flight")

from arrow_spark.sources.flight import read_flight, start_flight_server, write_flight  # noqa: E402


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _events(spark, n=90):
    return spark.range(0, n, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_ipc_write_and_read_run_one_job_each(spark, jobs_run, tmp_path):
    out = str(tmp_path / "ipc")
    with jobs_run() as jobs:
        write_ipc(_events(spark), out)
    assert len(jobs) == 1
    df = read_ipc(spark, out)
    with jobs_run() as jobs:
        drain(df)
    assert len(jobs) == 1
    assert sorted(r.k for r in df.collect()) == list(range(90))


def test_ipc_multi_unit_file_keeps_one_partition_per_unit(spark, jobs_run, tmp_path):
    path = str(tmp_path / "one.arrow")
    t = pa.table({"k": pa.array(range(400), pa.int64())})
    with ipc.new_file(path, t.schema) as w:
        for b in t.to_batches(max_chunksize=25):  # 16 record batches
            w.write_batch(b)
    units = _plan_splits([path], spark.sparkContext.defaultParallelism)
    df = read_ipc(spark, path)
    assert df.rdd.getNumPartitions() == len(units) > 1
    with jobs_run() as jobs:
        drain(df)
    assert len(jobs) == 1
    assert sorted(r.k for r in df.collect()) == list(range(400))


def test_flight_put_and_get_run_one_job_each(spark, jobs_run):
    srv = start_flight_server(rows_per_endpoint=30)
    try:
        loc = f"grpc://127.0.0.1:{srv.port}"
        with jobs_run() as jobs:
            write_flight(_events(spark), loc, "events")
        assert len(jobs) == 1
        assert srv.tables["events"].num_rows == 90
        df = read_flight(spark, loc, "events")
        assert df.rdd.getNumPartitions() == 3  # one task per endpoint
        with jobs_run() as jobs:
            drain(df)
        assert len(jobs) == 1
        assert sorted(r.k for r in df.collect()) == list(range(90))
    finally:
        srv.shutdown()


@pytest.mark.parametrize("partition_by", [[], ["p"]], ids=["flat", "hive"])
def test_parquet_meta_lists_files_like_the_parquet_reader_without_a_job(
    spark, jobs_run, tmp_path, partition_by
):
    from arrow_spark.sources.parquet_meta import _files_for

    root = str(tmp_path / "ds")
    spark.range(0, 120, 1, 3).withColumn("p", F.col("id") % 4).write.partitionBy(
        *partition_by
    ).parquet(root)
    with jobs_run() as jobs:
        listed = _files_for(spark, root)
    assert jobs == []
    assert listed == sorted(spark.read.parquet(root).inputFiles())
    assert len(listed) >= 3
