"""k-truss decomposition: triangle-support edge peeling.

The k-truss (Cohen 2008) is the maximal subgraph where every EDGE sits
in ≥ k−2 triangles — a strictly stronger cohesion filter than the
k-core (every k-truss is inside the (k−1)-core), and the standard
community-backbone extractor: edges that survive are "socially
reinforced" by common neighbors, bridges are peeled away.

Relational rounds, same bounded-round contract as k_core: each round
(1) enumerates triangles over the CANONICAL oriented edges (lo < hi) —
two equi-joins, the count_triangles wedge shape, never an all-pairs
product; (2) credits each triangle to its three edges (union of three
projections + one edge-keyed count); (3) keeps the keys of the
support table with support ≥ k−2. Every credited pair is an edge of
the round's input, so those keys ARE the surviving edges: no join back
onto the edge frame (edges with ZERO support are absent from the
support table and so dropped). localCheckpoint per round truncates
lineage. The returned support is one aggregation too: each surviving
edge offers a null marker and each triangle credit a 1, so an edge in
no triangle counts 0.

All-integer algebra ⇒ the unrolled MATERIALIZED-CTE DuckDB oracle is
bit-exact whether or not the peel has converged.

Scale: per-round cost is the wedge join, Σ_u outdeg(u)² over the
current subgraph. The id-order orientation here is the simple variant;
swap in the degree orientation of operators/triangles.py (outdeg ≤
O(√E)) when hub skew dominates — peeling only shrinks the graph, so
round cost is monotonically decreasing either way.

Reference anchor: no graph nodes in the reference (cpp/src/arrow/acero);
this composes the same join algebra its users run downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import Generations

__all__ = ["edge_support", "k_truss"]


def _credits(und: DataFrame) -> DataFrame:
    """One (lo, hi) row per triangle of the canonical frame per edge of
    it: the three edges of every triangle, each an edge of ``und``."""
    w1 = und.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    w2 = und.select(F.col("lo").alias("u"), F.col("hi").alias("w"))
    wedges = w1.join(w2, "u").where(F.col("v") < F.col("w"))
    tri = wedges.join(
        und.select(F.col("lo").alias("v"), F.col("hi").alias("w")), ["v", "w"]
    )
    return (
        tri.select(F.col("u").alias("lo"), F.col("v").alias("hi"))
        .unionAll(tri.select(F.col("u").alias("lo"), F.col("w").alias("hi")))
        .unionAll(tri.select(F.col("v").alias("lo"), F.col("w").alias("hi")))
    )


def edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle counts of the canonical (lo, hi) frame:
    (lo, hi, support). Edges in no triangle are ABSENT (join-friendly;
    coalesce downstream if zeros matter)."""
    return _credits(und).groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def k_truss(und: DataFrame, k: int, rounds: int = 3) -> DataFrame:
    """Peel ``rounds`` times: drop every edge in fewer than k−2
    triangles of the current subgraph. Input is the canonical (lo, hi)
    frame (see kcore.undirected_edges). Returns surviving edges with
    their support INSIDE the final subgraph: (lo, hi, support).

    ``rounds`` is a hard bound (oracle-replayable), not a convergence
    check — at the fixpoint further rounds are no-ops."""

    def step(cur: DataFrame, _: int) -> DataFrame:
        # every credited pair is an edge of cur, so the edges with enough
        # support are the support table's keys: no join back onto cur
        return edge_support(cur).where(F.col("support") >= k - 2).select("lo", "hi")

    # Loop-carried edge frame: stats-reset checkpoint, not bare
    # localCheckpoint. k-truss is the WORST compounding shape of the
    # family — edge_support self-joins `cur` twice per round, so a
    # preserved origin estimate would CUBE every round until BigInteger
    # overflow at planning time (arrow_spark/checkpoint.py).
    with Generations("k_truss") as g:
        cur = g.keep(g.iterate(g.ckpt(und), step, rounds))
    # final support in one aggregation: each surviving edge offers a
    # null marker, each triangle credit a 1, and count skips the nulls,
    # so edges in no triangle count 0
    marks = cur.select("lo", "hi", F.lit(None).cast("int").alias("t")).unionByName(
        _credits(cur).select("lo", "hi", F.lit(1).alias("t"))
    )
    return marks.groupBy("lo", "hi").agg(F.count("t").alias("support"))
