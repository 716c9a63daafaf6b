"""Bucketed co-located joins (shuffle elision pinned in the plan) and
salted skew joins (correctness vs plain join)."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from arrow_spark.catalog import table
from arrow_spark.operators.partitioning import bucketed_join, salted_join, write_bucketed


def test_bucketed_join_elides_shuffle(spark, sf_dir, set_conf):
    # tables land in ./spark-warehouse (gitignored); warehouse.dir is a
    # static conf and cannot be redirected on a live session
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"), "t_orders_b", ["custkey"], 8,
        sorted_by=["custkey"],
    )
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "custkey"), "t_customer_b", ["custkey"], 8,
        sorted_by=["custkey"],
    )
    # broadcast would bypass the bucketing story — force the shuffle path off
    set_conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "t_orders_b", "t_customer_b", ["custkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # both sides pre-bucketed
        assert j.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 50 + [2] * 3 + [3] * 2, "v": range(55)})
    )
    right = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 4], "w": ["a", "b", "d"]}))
    plain = left.join(right, "k").groupBy("k").count().collect()
    salted = salted_join(left, right, "k", salt_buckets=4).groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in plain} == {(r.k, r["count"]) for r in salted}
    plain_left = left.join(right, "k", "left").count()
    assert salted_join(left, right, "k", how="left", salt_buckets=4).count() == plain_left


def test_salted_join_rejects_outer(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        salted_join(df, df, "id", how="full")


def test_count_min_never_undercounts_and_merges_exactly(spark, sf_dir):
    from arrow_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
        count_min_merge,
    )

    o = table(spark, sf_dir, "orders")
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sketch = count_min_build(o, "o_orderpriority", width=256, depth=4)
    est = {
        r.item: r.est
        for r in count_min_estimate(sketch, o, "o_orderpriority", width=256, depth=4).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert est[k] >= n  # CMS never undercounts

    # merge exactness: build(left half) ⊕ build(right half) == build(all)
    lo = o.where(F.col("o_orderkey") % 2 == 0)
    hi = o.where(F.col("o_orderkey") % 2 == 1)
    merged = count_min_merge(
        count_min_build(lo, "o_orderpriority", width=256, depth=4),
        count_min_build(hi, "o_orderpriority", width=256, depth=4),
    )
    whole = count_min_build(o, "o_orderpriority", width=256, depth=4)
    a = {(r.row, r.bucket): r.cnt for r in merged.collect()}
    b = {(r.row, r.bucket): r.cnt for r in whole.collect()}
    assert a == b


def test_zorder_layout_clusters_both_dimensions(spark):
    # z-ordered partitions bound BOTH dimensions tightly; a plain sort on
    # x leaves y spanning the full domain in every partition. Compare the
    # mean per-partition bounding-box area.
    import pandas as pd

    from arrow_spark.operators.layout import zorder_by

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), F.floor(F.col("id") / 64).alias("y")
    )

    def mean_extents(frame):
        boxes = (
            frame.withColumn("__p__", F.spark_partition_id())
            .groupBy("__p__")
            .agg(
                (F.max("x") - F.min("x") + 1).alias("dx"),
                (F.max("y") - F.min("y") + 1).alias("dy"),
            )
            .collect()
        )
        return (
            sum(r.dx for r in boxes) / len(boxes),
            sum(r.dy for r in boxes) / len(boxes),
        )

    zed = zorder_by(df, ["x", "y"], bits=6, num_partitions=16)
    linear = df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x")
    z_dx, z_dy = mean_extents(zed)
    x_dx, x_dy = mean_extents(linear)
    # same rows per partition either way (box AREAS match); what z-order
    # buys is that NO dimension spans the domain: the x-sorted layout has
    # every partition covering all 64 y values (dy = 64, min/max stats
    # useless for y filters), the 64×64 z-curve in 16 partitions gives
    # ~16×16 boxes — bounded in BOTH dimensions.
    assert x_dy >= 60  # linear layout: y stats can't prune
    assert z_dy * 2 < x_dy, (z_dy, x_dy)  # z layout: y extent collapses
    assert z_dx <= 32  # and x stays bounded too


def test_zorder_value_bit_interleave(spark):
    from arrow_spark.operators.layout import zorder_value

    df = spark.createDataFrame([(3, 5)], "x long, y long")
    z = df.select(zorder_value([F.col("x"), F.col("y")], bits=4).alias("z")).first().z
    # x=0b0011 → bits at 0,2 ; y=0b0101 → bits at 1,5 → z=0b100111=39
    assert z == 0b100111


def _xy2d(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_implementation(spark):
    from pyspark.sql import functions as F

    from arrow_spark.operators.layout import hilbert_value

    pts = [(x, y) for x in range(8) for y in range(8)] + [
        (1234, 4321), (65535, 0), (0, 65535), (65535, 65535), (40000, 20000)
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.select("x", "y", hilbert_value(F.col("x"), F.col("y")).alias("h")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == _xy2d(1 << 16, x, y), (x, y)


def test_hilbert_is_a_bijection_with_unit_steps(spark):
    # on the 8x8 grid with bits=3: values are a permutation of 0..63 and
    # consecutive curve positions are grid neighbors (|dx|+|dy| = 1) —
    # the locality property Morton lacks
    from pyspark.sql import functions as F

    from arrow_spark.operators.layout import hilbert_value

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    rows = df.select(
        "x", "y", hilbert_value(F.col("x"), F.col("y"), bits=3).alias("h")
    ).collect()
    by_h = {r["h"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_h) == list(range(64))
    for h in range(63):
        (x1, y1), (x2, y2) = by_h[h], by_h[h + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_numpy_path_equals_jvm_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    from arrow_spark.operators.layout import hilbert_value, hilbert_value_np

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.pmod(F.col("l_partkey"), F.lit(65536)).alias("x"),
        F.pmod(F.col("l_suppkey"), F.lit(65536)).alias("y"),
    )
    diff = l.select(
        (hilbert_value(F.col("x"), F.col("y"))
         != hilbert_value_np(F.col("x"), F.col("y"))).alias("ne")
    ).where("ne").count()
    assert diff == 0


def test_hilbert_boxes_at_least_as_tight_as_zorder(spark):
    # Hilbert partitions are contiguous curve ranges; every range of the
    # Hilbert curve is a connected region, so per-partition bounding
    # boxes are never looser than Morton's seam-crossing ranges. At an
    # ALIGNED partition count (16 on a 64x64 grid) both curves split into
    # perfect quadrants — the seams only show at non-aligned splits, so
    # compare mean box AREA at 12 partitions.
    from pyspark.sql import functions as F

    from arrow_spark.operators.layout import hilbert_by, zorder_by

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"), F.floor(F.col("id") / 64).alias("y")
    )

    def mean_area(frame):
        boxes = (
            frame.withColumn("__p__", F.spark_partition_id())
            .groupBy("__p__")
            .agg(
                ((F.max("x") - F.min("x") + 1)
                 * (F.max("y") - F.min("y") + 1)).alias("area")
            )
            .collect()
        )
        return sum(r.area for r in boxes) / len(boxes)

    h_area = mean_area(hilbert_by(df, ["x", "y"], bits=6, num_partitions=12))
    z_area = mean_area(zorder_by(df, ["x", "y"], bits=6, num_partitions=12))
    # Hilbert's connected ranges beat Morton's seam-crossing ones
    # (measured 488 vs 736 here). A linear x-sort "wins" on raw area
    # (341: thin full-height stripes) but its y extent is the whole
    # domain — the zorder test above pins why that loses; area is only
    # comparable curve-vs-curve.
    assert h_area < z_area, (h_area, z_area)
