"""The status-store counter reader, pinned on a tiny fixed query."""

from __future__ import annotations

import os

import pytest

from perfbench.counters import SparkCounters, parse_size

#: q6 over generated sf0.001 lineitem, PySpark 4.1.2, local[4]
JOBS = 3
STAGES = 3


def test_parse_size_reads_the_total():
    assert parse_size("12.0 KiB") == 12 * 1024
    assert parse_size("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 B, ...)") == 2 * 1024**2
    assert parse_size("") == 0.0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from arrow_spark import get_spark

    s = get_spark("perfbench-tests")
    yield s


def test_counts_of_a_fixed_query_at_sf0001(spark, tmp_path):
    """q6 over generated sf0.001 lineitem: one scan, one global aggregate.
    Its job and stage counts are exact, and reading twice attributes each
    job once."""
    from arrow_spark.queries import load_all
    from arrow_spark.sources.tpchgen import generate_tables

    d = str(tmp_path)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    generate_tables(spark, 0.001)["lineitem"].write.parquet(f"{d}/lineitem.parquet")
    q6 = load_all()["q6_forecast_revenue"]
    counters = SparkCounters(spark)
    sc = spark.sparkContext
    got = []
    for i in range(2):
        group = f"pin-{i}"
        sc.setJobGroup(group, group)
        q6.fn(spark, d).write.format("noop").mode("overwrite").save()
        c = counters.read(group, 0, 0)
        got.append((c.jobs, c.stages, c.other_thread_jobs))
        assert c.tasks >= c.stages and c.cpu_ns > 0 and c.input_records > 0
    assert got[0] == got[1] == (JOBS, STAGES, 0)
    assert counters.read("pin-1", 0, 0).jobs == 0

