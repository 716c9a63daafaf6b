"""Multi-source shortest paths (BFS hops / min-plus Bellman-Ford) as a
relational iterative op.

The missing third of the graph trio (pagerank = eigen centrality,
label-propagation = communities, this = reachability/distance): given a
set of source nodes, the hop distance — or with integer edge weights,
the min-plus path cost — to every node reachable within ``n_iters``
relaxation rounds. This is frontier expansion expressed relationally:

    dist_0   = {(s, 0) | s in sources}
    dist_i   = min over node of ( dist_{i-1}
                                  UNION dist_{i-1} ⋈ edges → (v, d + w) )

Every quantity is an integer (hops, or integer weights), so there is no
float anywhere and the unrolled n-round SQL replay is bit-exact by
construction — the pagerank/labelprop oracle pattern applies verbatim.

Scale anatomy per round: one join of the current distance frame against
the edge table on the frontier key (shuffle ∝ edges touched) plus one
map-side-combinable group-min. Distances only ever shrink, and the frame
holds ONE row per reached node, so state is O(reachable nodes), not
O(paths). localCheckpoint per round truncates lineage (the
connected-components lesson — nested iterative plans compile
quadratically otherwise). n_iters bounds work exactly like the
Pregel-style supersteps it mirrors; at 100 TB each round is the same
shuffle cost as one groupBy over the edge table, and early convergence
can be layered on by comparing counts between rounds (kept out of the
default path to stay action-free).

Reference anchor: the reference has no graph layer; iterative
re-planning is the same re-run-the-Declaration loop its users drive
around Acero (cpp/src/arrow/acero — no iteration node exists there
either; llm/dedup.connected_components cites the same pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import Generations

__all__ = ["shortest_paths"]


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    directed: bool = False,
) -> DataFrame:
    """(node, dist) for every node reachable from ``sources`` within
    ``n_iters`` relaxation rounds. ``weight=None`` counts hops (w=1);
    otherwise the named integer column is the min-plus edge cost.
    ``sources`` must expose a ``node`` column; unreachable nodes are
    absent from the result (never NULL-padded)."""
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
        )
    with Generations("shortest_paths") as g:
        # Checkpoint the loop-invariant edge frame ONCE (the CC-loop `sym`
        # pattern): every relaxation round joins dist against it, so an
        # unmaterialized edge lineage would be recomputed per round.
        # Stats-reset so it reports its stored size: broadcast only under
        # the broadcast threshold, never at corpus scale.
        e = g.ckpt(e)

        def step(dist: DataFrame, _: int) -> DataFrame:
            relaxed = dist.join(e, dist["node"] == e["u"]).select(
                F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
            )
            return (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )

        # Loop-carried state goes through the stats-reset checkpoint, not
        # bare localCheckpoint: each relaxation round joins dist against
        # the edge frame, so preserved origin-size estimates compound
        # multiplicatively until BigInteger overflow at planning time
        # (proven in the CC loop at gen-sf3 — see arrow_spark/checkpoint.py).
        dist = g.ckpt(
            sources.select(F.col("node").cast("long").alias("node"))
            .distinct()
            .select("node", F.lit(0).cast("long").alias("dist"))
        )
        # the returned frame reads only the final dist generation
        return g.keep(g.iterate(dist, step, n_iters))
