"""Spatial radius join: grid-cell bucketing + exact integer distance.

"All right-side points within distance r of each left point" — the
spatial workhorse (nearest-store, geofence, sensor neighborhoods,
embedding joins in 2-D projections). The naive form is an all-pairs
distance cross join; the scale form here is the spatial sibling of
banded-LSH candidate generation:

1. bucket both sides into r×r grid cells (floor division of integer
   coordinates — planar/projected coordinates, the standard regime for
   regional workloads);
2. each LEFT point probes its own cell plus the 8 neighbors (a 9-cell
   in-row explode — constant fan-out, no row-scale blowup);
3. an equi-join on the cell key generates candidates — every true pair
   within r is GUARANTEED to land in a probed cell (a point within
   distance r lies within one cell step in each axis), so the blocking
   is lossless by construction;
4. the exact predicate dx² + dy² ≤ r² verifies candidates in pure
   INTEGER arithmetic — no sqrt, no trig, nothing engine-specific.
   The whole join is hash-exact.

Scale: shuffle volume = points keyed by cell (+8× the probe side);
cell population is density-bounded — a skewed megacity cell is the
salting case, same remedy as any hot join key. Compare llm/dedup.py's
LSH bands: same candidate-then-verify algebra, geometric guarantee
instead of probabilistic.

Geodesic note: for lat/lon at continental scale project first (or use
a haversine verify — trig is NOT correctly rounded cross-engine, so
geodesic distances are tolerance-checked, not hash-exact; the planar
integer form here is exact, which is why it is the default).

Reference anchor: no spatial nodes in the reference (cpp/src/arrow);
its users run exactly this grid-join composition downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["radius_join"]


def radius_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    x_col: str = "x",
    y_col: str = "y",
    radius: int = 1000,
) -> DataFrame:
    """(left_id, right_id, dist2) for all pairs with squared planar
    distance ≤ radius² — integer coordinates in, exact integers out
    (callers snap to milli-units upstream; report sqrt(dist2) downstream
    if a length is wanted). Both inputs need (id, x, y) columns."""
    r = int(radius)
    lcell_x = F.floor(F.col(x_col) / r).cast("long")
    lcell_y = F.floor(F.col(y_col) / r).cast("long")
    # integer composite cell key (r13): the join key used to be the
    # string "cx:cy" — two casts + a concat per probed cell, string
    # hashing/sorting in the exchange. A (long, long) composite key
    # carries the same lossless blocking with integer comparisons and
    # 16-byte fixed-width shuffle keys.
    probe_cells = F.flatten(
        F.transform(
            F.sequence(F.lit(-1), F.lit(1)),
            lambda dx: F.transform(
                F.sequence(F.lit(-1), F.lit(1)),
                lambda dy: F.struct(
                    (lcell_x + dx).alias("cx"), (lcell_y + dy).alias("cy")
                ),
            ),
        )
    )
    l = left.select(
        F.col(left_id).alias("lid"),
        F.col(x_col).cast("long").alias("lx"),
        F.col(y_col).cast("long").alias("ly"),
        F.explode(probe_cells).alias("cell"),
    ).select("lid", "lx", "ly", F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))
    rgt = right.select(
        F.col(right_id).alias("rid"),
        F.col(x_col).cast("long").alias("rx"),
        F.col(y_col).cast("long").alias("ry"),
        F.floor(F.col(x_col) / r).cast("long").alias("cx"),
        F.floor(F.col(y_col) / r).cast("long").alias("cy"),
    )
    dx = F.col("lx") - F.col("rx")
    dy = F.col("ly") - F.col("ry")
    dist2 = dx * dx + dy * dy
    return (
        l.join(rgt.hint("merge"), ["cx", "cy"])
        .where(dist2 <= F.lit(r * r).cast("long"))
        .select("lid", "rid", dist2.alias("dist2"))
    )


def dbscan(
    points: DataFrame,
    id_col: str,
    x_col: str = "x",
    y_col: str = "y",
    eps: int = 1000,
    min_pts: int = 4,
    max_iter: int = 40,
) -> DataFrame:
    """DBSCAN density clustering (Ester et al. 1996) COMPOSED from two
    already-verified primitives: the grid-blocked ``radius_join`` for
    ε-neighborhoods and min-label ``connected_components`` for the
    core-graph closure — density clustering at scale with no new
    distributed machinery.

    Semantics (the deterministic variant): a point with ≥ min_pts
    neighbors within ε (itself included) is CORE; core points within ε
    connect into one cluster (labelled by the smallest core id —
    deterministic, unlike visit-order implementations); a non-core
    point within ε of ≥1 core is BORDER, assigned its SMALLEST
    neighboring core's cluster (visit-order DBSCAN assigns the first
    discoverer — smallest-label is the order-free contract); everything
    else is NOISE (cluster NULL).

    Returns (id, role, cluster). All-integer distances + min-label
    closure ⇒ hash-exact against a recursive-CTE oracle.

    Scale: one radius self-join (grid-blocked, lossless), one count,
    the CC loop over CORE-core edges only (dense regions are
    near-cliques — tiny diameter), one border assignment join.
    ``max_iter`` caps the CC rounds, counting the round that stops it;
    it raises ``RuntimeError`` when the core graph needs more.
    """
    from arrow_spark.checkpoint import Generations, ckpt_release
    from arrow_spark.llm.dedup import connected_components

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    pairs = radius_join(pts, pts, "id", "id", x_col="x", y_col="y", radius=eps)
    with Generations("dbscan") as g:
        # The ε-neighborhood frame feeds THREE consumers (degree count,
        # the core-edge filter into CC, border assignment) — materialize
        # the 9-cell-explode self-join once instead of recomputing it per
        # consumer. Stats-reset so the pair frame reports its stored size
        # (a broadcast side only under the broadcast threshold, never at
        # density scale). Freed if CC raises; otherwise it stays
        # persisted until the caller's action ends (the output plan
        # reads it).
        pairs = g.ckpt(pairs)
        deg = pairs.groupBy("lid").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        core = deg.where(F.col("sz") >= min_pts).select(F.col("lid").alias("id"))
        core_edges = (
            pairs.where(F.col("lid") < F.col("rid"))
            .join(core.withColumnRenamed("id", "lid").hint("merge"), "lid", "left_semi")
            .join(core.withColumnRenamed("id", "rid").hint("merge"), "rid", "left_semi")
        )
        cc = connected_components(core_edges, "lid", "rid", max_iter=max_iter)
        core_lbl = core.join(
            cc.withColumnRenamed("v", "id"), "id", "left"
        ).select("id", F.coalesce(F.col("component"), F.col("id")).alias("cluster"))
        # consumed twice (border assignment + final output join):
        # materialize the node-scale label frame once
        core_lbl = g.keep(g.ckpt(core_lbl))
        # core_lbl has materialized, so nothing reads CC's output again
        ckpt_release(cc)
        g.keep(pairs)
    border_lbl = (
        pairs.join(core.withColumnRenamed("id", "lid").hint("merge"), "lid", "left_anti")
        .join(
            core_lbl.withColumnRenamed("id", "rid").withColumnRenamed(
                "cluster", "rcluster"
            ).hint("merge"),
            "rid",
        )
        .groupBy(F.col("lid").alias("id"))
        .agg(F.min("rcluster").alias("cluster"))
    )
    out = (
        pts.select("id")
        .join(core_lbl.withColumnRenamed("cluster", "core_cluster").hint("merge"), "id", "left")
        .join(border_lbl.withColumnRenamed("cluster", "border_cluster").hint("merge"), "id", "left")
    )
    role = (
        F.when(F.col("core_cluster").isNotNull(), "core")
        .when(F.col("border_cluster").isNotNull(), "border")
        .otherwise("noise")
    )
    return out.select(
        "id",
        role.alias("role"),
        F.coalesce(F.col("core_cluster"), F.col("border_cluster")).alias(
            "cluster"
        ),
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    x_col: str = "x",
    y_col: str = "y",
    k: int = 5,
    radius_cap: int = 1000,
) -> DataFrame:
    """Bounded k-nearest-neighbor join: for each left point, the k
    nearest right points WITHIN ``radius_cap`` — (lid, rid, dist2,
    rank). The cap is the contract every production spatial index
    exposes ("nearest stores within 50 km"), and what keeps the
    operator one-pass: candidates come from the lossless grid blocking
    of ``radius_join``, ranking is one lid-keyed window with a
    deterministic (dist2, rid) tie-break — no data-dependent ring
    expansion, no driver loop. A left point with fewer than k
    neighbors inside the cap returns what exists (count the output to
    detect truncation). All-integer distances ⇒ hash-exact."""
    from pyspark.sql import Window as W

    cand = radius_join(
        left, right, left_id, right_id, x_col=x_col, y_col=y_col,
        radius=radius_cap,
    )
    w = W.partitionBy("lid").orderBy(F.col("dist2").asc(), F.col("rid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
