"""The loop operators whose rounds aggregate state and messages together:
pagerank, personalized PageRank, HITS, k-truss and connected components.

Golden outputs: each output is pinned as the sha256 of its schema
(names, types, nullability) and its sorted rows, on two small fixtures:
a 13-vertex ring with one chord and a seeded uniform random graph.
Every operator runs twice: at the session's broadcast threshold, where
the measured checkpoint generations are broadcast into each round, and
with ``spark.sql.autoBroadcastJoinThreshold=-1``, where every join is a
shuffle join. Both paths must give the same rows.

Round shape: no frame a loop checkpoints plans a shuffle join under the
threshold, the Spark jobs of one call are pinned, and CC's lazy
generations are sized once its star-forest test has materialized them.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import arrow_spark.checkpoint as ckpt
from arrow_spark.checkpoint import Generations, ckpt_release
from arrow_spark.llm.dedup import connected_components
from arrow_spark.operators.kcore import undirected_edges
from arrow_spark.operators.ktruss import k_truss
from arrow_spark.operators.pagerank import hits, pagerank, personalized_pagerank
from arrow_spark.sources.graphgen import uniform_edges


def _ring(spark):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(12)] + [(12, 0, 1.0), (0, 6, 1.0)],
        "src long, dst long, w double",
    )


def _uniform(spark):
    # 60 nodes, 540 weighted edges, one component. Three 6-truss rounds
    # stop mid-peel, so edges of support 0 survive into the output.
    return uniform_edges(spark, 600, seed=5).select(
        "src", "dst", F.col("w").cast("double").alias("w")
    )


_GRAPHS = {"ring": _ring, "uniform": _uniform}

_OPS = {
    "pagerank": lambda e: pagerank(e, n_iters=3),
    "personalized_pagerank": lambda e: personalized_pagerank(
        e, e.sparkSession.createDataFrame([(0,), (6,)], "n long"), n_iters=3
    ),
    "hits": lambda e: hits(e, n_iters=3),
    "k_truss": lambda e: k_truss(undirected_edges(e, "src", "dst"), k=6, rounds=3),
    "connected_components": lambda e: connected_components(e, "src", "dst"),
}

GOLDEN = {
    ("ring", "pagerank"): "31d3a8d96347d6d611aeb2718880e051d5c162820484685a431bf8864efeab8c",
    ("ring", "personalized_pagerank"): "6555482de4069e7aca707f5456768bc4572f29c56e1f0e786762e81e4d3c48d7",
    ("ring", "hits"): "052461af524ab42e5153e26b6bfb5074a748793b21ccff31670c338f46aeba1e",
    ("ring", "k_truss"): "c1d8d377193620f3c8e9a20a1bac96ce116acc410e8432325459f4db40cc62d6",
    ("ring", "connected_components"): "152666dedbfe4d17e0cdb5f0d88a89bb591e175e964208f571d62b830284ede0",
    ("uniform", "pagerank"): "9c4a24842749caf06636eed3f29fbf8740aa016287db7887560c5c496570a689",
    ("uniform", "personalized_pagerank"): "d8d17625534188f3844c22497dd02e8830151413bd5ec55a77b01723a0b11ee9",
    ("uniform", "hits"): "f9296227ef15e2e1b250705714b7adbeddb6caeffa973b251eaa66cd1c703c94",
    ("uniform", "k_truss"): "010e1206c81a4e557eff809eb73bcbe44bcf7acfb9533b19cf4165f69e2e6c57",
    ("uniform", "connected_components"): "e2f6bf239eb3d875e17bebd7551c5ab944fdc11e579604c9ffdc47957e9d9a19",
}


def _digest(df) -> str:
    schema = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr((schema, rows)).encode()).hexdigest()


@pytest.mark.parametrize("threshold", ["default", "-1"])
@pytest.mark.parametrize("graph, op", sorted(GOLDEN))
def test_loop_output_is_golden(spark, set_conf, graph, op, threshold):
    if threshold != "default":
        set_conf("spark.sql.autoBroadcastJoinThreshold", threshold)
    out = _OPS[op](_GRAPHS[graph](spark))
    try:
        assert _digest(out) == GOLDEN[graph, op]
    finally:
        ckpt_release(out)


@pytest.mark.parametrize("op", ["pagerank", "personalized_pagerank", "hits", "k_truss"])
def test_no_checkpointed_round_plans_a_shuffle_join(spark, set_conf, monkeypatch, op):
    """State and messages meet in one aggregation, so under the
    broadcast threshold every join a round plans is a broadcast: none is
    a sort-merge or shuffled hash join that AQE would shuffle first and
    demote afterwards. The ring's generations store well under 16 KB,
    but a join of a state onto an aggregate of a join is estimated at
    the product of their sizes, above it."""
    set_conf("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024))
    real = ckpt.ckpt_reset_stats
    plans = []

    def record(df, eager=True):
        plans.append(df._jdf.queryExecution().sparkPlan().toString())
        return real(df, eager=eager)

    # the input reports its stored size, as a parquet scan would its files'
    ring = real(_ring(spark))
    monkeypatch.setattr(ckpt, "ckpt_reset_stats", record)
    ckpt_release(_OPS[op](ring))
    ckpt_release(ring)
    assert len(plans) > 3
    for plan in plans:
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


@pytest.mark.parametrize("op, jobs", [("k_truss", 14), ("connected_components", 18)])
def test_loop_jobs_are_pinned(spark, jobs_run, op, jobs):
    """The Spark jobs one call on the uniform graph submits, building its
    result."""
    edges = _uniform(spark)
    with jobs_run() as ids:
        out = _OPS[op](edges)
    assert len(ids) == jobs
    ckpt_release(out)


def test_cc_generations_are_measured_after_the_star_forest_test(spark, monkeypatch):
    """CC's star-forest test (``isEmpty``) may stop at the first
    partition of its aggregate, but the shuffle under it materializes
    every partition of the round's lazy generation, so each generation
    is sized from its stored bytes and never left at Long.MaxValue."""
    real = Generations._measured
    sizes = []

    def record(self, frame):
        out = real(self, frame)
        sizes.append(int(str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())))
        return out

    monkeypatch.setattr(Generations, "_measured", record)
    ckpt_release(_OPS["connected_components"](_uniform(spark)))
    assert sizes and all(0 < size < (1 << 63) - 1 for size in sizes), sizes
