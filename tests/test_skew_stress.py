"""Adversarial-skew stress pins: Zipf-keyed joins and 99%-constant
columns through the join / dedup / quantile paths, with evidence that no
stage degenerates to a single reducer.

The quantile escalation has its own skew pins (test_quantiles.py); this
file closes the r8-verdict gap for JOINS (prove the salting helper
actually spreads a hot key over reducers, not just that it returns the
right rows) and for the dedup group-by (prove the 99%-duplicate corpus
never ships its duplicate rows to one reducer — map-side partial
aggregation compresses per fingerprint before the exchange).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_spark.operators.partitioning import salted_join


def _partition_shares(df):
    """Fraction of output rows per physical partition, descending."""
    counts = (
        df.withColumn("__pid__", F.spark_partition_id())
        .groupBy("__pid__")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in counts)
    return sorted((r["count"] / total for r in counts), reverse=True)


def test_salted_join_spreads_zipf_hot_key_across_reducers(spark, set_conf):
    """Zipf-keyed input (one key = 60% of rows): the plain equi-join
    lands the hot key's entire output in ONE reducer; the salted join
    spreads it over salt_buckets reducers. Both return identical rows.
    """
    n = 40_000
    # key 0 takes 60% of rows; the rest Zipf-ish over 1..999
    left = spark.range(n).select(
        F.when(F.col("id") % 5 <= 2, F.lit(0))
        .otherwise(F.pmod(F.col("id") * 7919, F.lit(999)) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    # disable broadcast so the join actually exchanges on the key — the
    # skew scenario under test is the shuffle join a 100 TB fact forces
    set_conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    set_conf("spark.sql.adaptive.enabled", "false")
    # the session default is one reducer per CPU; with 4 reducers even a
    # perfect spread has a largest share of 0.25, so pin enough reducers
    # for the salt's 16 buckets to spread over
    set_conf("spark.sql.shuffle.partitions", "32")
    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", salt_buckets=16)
    plain_shares = _partition_shares(plain)
    salted_shares = _partition_shares(salted)
    # the hot key is 60% of output: plain join concentrates it in one
    # partition; salted must cap the max reducer share well below it
    assert plain_shares[0] >= 0.55, plain_shares[:3]
    assert salted_shares[0] <= 0.25, salted_shares[:3]
    # identical results
    a = plain.groupBy("k").agg(F.count("*").alias("c"), F.sum("w").alias("s"))
    b = salted.groupBy("k").agg(F.count("*").alias("c"), F.sum("w").alias("s"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_salted_join_plan_exchanges_on_key_and_salt(spark, set_conf):
    """The salted join's exchange must hash on (key, salt) — the salt
    actually reaches the partitioning, it isn't dropped by the
    optimizer."""
    # a REAL key column — a literal key gets constant-folded out of the
    # join condition entirely, leaving only the salt in the exchange
    left = spark.range(100).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))
    right = spark.range(4).select(F.col("id").alias("k"), F.lit("x").alias("w"))
    set_conf("spark.sql.autoBroadcastJoinThreshold", "-1")
    plan = salted_join(left, right, "k", salt_buckets=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "__salt__" in plan
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("k" in p and "__salt__" in p for p in parts), parts


def test_dedup_constant_corpus_partial_aggregates_before_exchange(spark):
    """99%-constant corpus through exact dedup: the fingerprint group-by
    must partial-aggregate map-side (two HashAggregates around one
    exchange), so the 99%-duplicate rows compress to one cell per task
    before the shuffle — the exchange carries O(distinct), not O(rows)."""
    from arrow_spark.llm.dedup import exact_dedup

    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 0, F.concat(F.lit("unique "), F.col("id")))
        .otherwise(F.lit("the same document text"))
        .alias("text"),
    )
    out = exact_dedup(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan[:800]
    # and the answer is right: 200 unique texts + 1 constant class
    rows = out.collect()
    assert len(rows) == 201
    hot = max(rows, key=lambda r: r["n_copies"])
    assert hot["n_copies"] == 19_800 and hot["keeper"] == 1
