"""Distributed triangle counting over an undirected edge list.

The co-occurrence-graph primitive (clustering coefficients, community
density, spam-graph signals). The reference has no graph operators at
all — like PageRank and connected components this is a Spark-native
extension expressed purely relationally.

Algorithm: degree orientation + two joins (the classic MapReduce
triangle scheme from Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW'11):

1. orient every undirected edge from its lower-(degree, id) endpoint to
   the higher one — each edge appears exactly once and the oriented
   out-degree of ANY vertex is O(sqrt(|E|)), even for celebrity hubs;
2. wedges = oriented ⋈ oriented on the shared low vertex (u→v, u→w
   with v < w in the same order) — bounded by sum of out-deg², i.e.
   O(|E|^1.5) total, the optimal bound, instead of the unbounded
   sum of raw-degree² a naive self-join pays on skewed graphs;
3. close each wedge with a semi-style equi-join back to the oriented
   edge set on (v, w).

Every step is a hash-shuffled equi-join/groupBy — no vertex ever needs
its full neighborhood in one task except bounded oriented adjacency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import ckpt_reset_stats


def orient_edges(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Undirected (possibly duplicated / self-looped) edge list →
    deduplicated edges oriented low-(degree, id) → high-(degree, id),
    returned as (lo, hi)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    j = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def count_triangles(
    edges: DataFrame, src: str = "a", dst: str = "b", per_vertex: bool = False
) -> DataFrame:
    """Triangle count of the undirected graph ``edges``.

    Returns a 1-row (n_triangles) frame, or per-vertex counts
    (v, n_triangles) when ``per_vertex`` — each triangle credited to all
    three corners (the clustering-coefficient numerator).

    Tradeoff: the oriented-edge frame is ``localCheckpoint()``-ed because
    it is referenced three times (both wedge legs + closers) and Catalyst
    otherwise re-inlines the whole derivation per reference (measured 90
    duplicated scans / 184 exchanges before the fix). That makes this
    function EAGER at construction time and stores the materialized edges
    on non-fault-tolerant local executor storage — an executor loss makes
    the frame unrecoverable mid-job. Where fault tolerance matters more
    than the checkpoint's lineage cut (very long-lived jobs on flaky
    fleets), swap for ``persist()`` + a count and unpersist after the
    action; on a healthy cluster the checkpoint is the faster plan.
    """
    # materialize the oriented edges once: the frame is referenced three
    # times (both wedge legs + closers) and Catalyst re-inlines the whole
    # upstream derivation per reference — measured 90 duplicated scans /
    # 184 exchanges in the static plan of the registry query before this
    # (plan-fingerprint audit); after, each leg scans the checkpoint.
    # Stats-reset checkpoint (r13): not loop-carried here, but the frame
    # re-enters THREE joins in one plan (both wedge legs + closers), so a
    # preserved origin estimate (itself a 3-way join product) gets cubed;
    # and callers may legally invoke count_triangles inside their own
    # loops (k-truss-style peeling drivers), where the compounding chain
    # from arrow_spark/checkpoint.py applies verbatim. The reset frame
    # reports its stored size, so the planner elects the edge frame as a
    # broadcast build side only while it is under the broadcast
    # threshold — never at 100 TB.
    o = ckpt_reset_stats(orient_edges(edges, src, dst))
    w1 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = o.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    # wedges u→v, u→w keyed once per unordered {v, w} pair
    wedges = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    closers = o.select(
        F.least("lo", "hi").alias("v"), F.greatest("lo", "hi").alias("w")
    )
    tri = wedges.join(closers, ["v", "w"])
    if not per_vertex:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    corners = (
        tri.select(F.col("u").alias("v0"))
        .unionAll(tri.select(F.col("v").alias("v0")))
        .unionAll(tri.select(F.col("w").alias("v0")))
    )
    return (
        corners.groupBy("v0")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .withColumnRenamed("v0", "v")
    )
