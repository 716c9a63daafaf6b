"""Weighted PageRank as a relational iterative operator.

The canonical "iterative algorithm on a relational engine" shape (the
reference side expresses such loops by re-running Acero plans; Spark
expresses them as a driver loop over declarative iterations — same
contract as `llm/dedup.connected_components` and the IVF Lloyd loop):

    rank_{i+1}(n) = (1-d)/N + d * ( Σ_{(s→n)} rank_i(s)·w/out(s)
                                    + dangling_i / N )

Scale anatomy per iteration (the Pregel/GraphX round shape):
- messages: edges ⋈ ranks on src, each edge sending r·w/out(src) to
  its dst (the ranks generation is broadcast while its stored size is
  under the broadcast threshold, a shuffle join above it);
- one keyed aggregation on the node: every node's own rank row (its
  carry columns, no message) and the messages addressed to it meet in
  one map-side-combined groupBy — the state is never joined back onto
  an aggregate, so only the messages are shuffled;
- dangling mass: a filtered single-row sum over the ranks, broadcast
  back;
- NO driver-side graph state: ranks stay a DataFrame, the driver loop
  holds only the plan. localCheckpoint truncates lineage each round
  (the connected-components lesson: nested iteration plans compile
  quadratically otherwise).

Cross-engine determinism: ranks snap to 1e-9 after every aggregation
(floor(x·1e9 + 0.5)/1e9), so float accumulation order — partition
order in Spark, scan order in an oracle engine — cannot drift the
fixpoint; every iteration's input is bit-identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import Generations

__all__ = ["pagerank", "transition_edges"]


def _snap9(col):
    return F.floor(col * 1e9 + F.lit(0.5)) / 1e9


def transition_edges(
    events: DataFrame,
    node_col: str,
    partition_col: str,
    order_col: str,
) -> DataFrame:
    """(src, dst, w) edges from consecutive node visits per partition
    key — the sessionized click-graph builder. One window over
    (partition, order) + one count shuffle."""
    from pyspark.sql import Window as W

    w = W.partitionBy(partition_col).orderBy(order_col)
    prev = F.lag(F.col(node_col)).over(w)
    return (
        events.select(prev.alias("src"), F.col(node_col).alias("dst"))
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """Weighted PageRank over an (src, dst[, w]) edge frame.

    Returns (node, rank) after ``n_iters`` synchronous iterations from
    a uniform start; dangling mass (nodes with no out-edges) is
    redistributed uniformly each round, so Σ rank stays 1 up to the
    1e-9 snapping.
    """
    return _walk("pagerank", edges, None, n_iters, damping, src, dst, weight)


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """Personalized PageRank: the teleport vector concentrates on a
    SOURCE SET instead of the uniform vector — the recommendation /
    similarity-seed primitive ("rank everything by proximity to these
    seeds"). ``sources`` is a 1-column (n) frame of seed nodes.

    Differences from the global walk, all three localized to the seeds:
    start mass = uniform over S; restart mass (1−d) goes to S only;
    dangling mass returns to S only. Everything else — the message
    aggregation round, per-iteration 1e-9 snapping (which is what
    makes the unrolled-CTE oracle bit-exact), localCheckpoint lineage
    cuts — is the pagerank machinery unchanged. Seeds are broadcast
    (seed sets are query-sized, not graph-sized).
    """
    return _walk(
        "personalized_pagerank", edges, sources, n_iters, damping, src, dst, weight
    )


def _walk(
    name: str,
    edges: DataFrame,
    sources: DataFrame | None,
    n_iters: int,
    damping: float,
    src: str,
    dst: str,
    weight: str | None,
) -> DataFrame:
    """The random walk behind both PageRanks. Teleport, restart and
    dangling mass go to every node in proportion to ``tele/N``: with no
    ``sources`` tele is 1 and N the node count; otherwise tele is the
    node's seed flag ``in_s`` and N the seed count."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1)).cast("double").alias("w"),
    )
    with Generations(name) as g:
        # Checkpoint the loop-invariant edge frame ONCE (the CC-loop `sym`
        # pattern) WITH the out-weight invariant pre-folded in (r14): the
        # r13 shape materialized a separate `outw` frame and re-joined it
        # every round — one extra shuffle + join per iteration for values
        # that never change. Carrying `ow` as an edge column keeps the
        # per-row arithmetic (r * w / ow over identical w, ow values)
        # byte-identical while the contribution step becomes a single
        # edges⋈ranks join. Stats-reset (not bare) so the edge frame
        # reports its stored size: broadcast only while it is under the
        # broadcast threshold, a shuffle join at corpus scale.
        outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
        e = g.ckpt(e.join(outw, "src"))
        # Node set with a has_out flag (r14): dangling mass was an
        # anti-join of ranks against a separate source-set frame every
        # round; the flag rides inside the loop-carried rank frame instead,
        # so the round's dangling aggregate is a filtered sum over the
        # already-persisted ranks — no join, no second frame.
        nodes = (
            e.select(F.col("src").alias("n"), F.lit(1).alias("has_out"))
            .union(e.select(F.col("dst").alias("n"), F.lit(0).alias("has_out")))
            .groupBy("n")
            .agg(F.max("has_out").alias("has_out"))
        )
        carry = ["n", "has_out"]
        # N as a driver-side literal: the node (or seed) count is
        # loop-invariant scalar metadata, not a per-round
        # crossJoin(broadcast(cnt)); tele/N below is the same IEEE double
        # division that column form performed. The node count is the
        # action that materializes the lazy nodes generation.
        if sources is None:
            nodes, count = g.count(nodes)
            tele = F.lit(1.0)
        else:
            s = sources.select(F.col(sources.columns[0]).alias("n")).distinct()
            nodes = g.ckpt(
                nodes.join(
                    F.broadcast(s.withColumn("__in_s__", F.lit(1))), "n", "left"
                ).select(
                    *carry, F.coalesce(F.col("__in_s__"), F.lit(0)).alias("in_s")
                )
            )
            count = s.count()
            tele = F.col("in_s").cast("double")
            carry.append("in_s")
        n = F.lit(float(count))

        def step(ranks: DataFrame, _: int) -> DataFrame:
            # one keyed aggregation per round: every node's own row (the
            # carry columns, no message) meets the messages r·w/ow sent
            # along its in-edges (no carry); nodes without in-edges sum
            # to null
            msgs = e.join(ranks, e.src == ranks.n).select(
                F.col("dst").alias("n"),
                *[F.lit(None).alias(c) for c in carry[1:]],
                (F.col("r") * F.col("w") / F.col("ow")).alias("c"),
            )
            agg = (
                ranks.select(*carry, F.lit(None).cast("double").alias("c"))
                .unionByName(msgs)
                .groupBy("n")
                .agg(*[F.max(c).alias(c) for c in carry[1:]], F.sum("c").alias("s"))
            )
            dang = (
                ranks.where(F.col("has_out") == 0)
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("d"))
            )
            return agg.crossJoin(F.broadcast(dang)).select(
                *carry,
                _snap9(
                    (1 - F.lit(damping)) * tele / n
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("d") * tele / n)
                ).alias("r"),
            )

        # Loop-carried state goes through the stats-reset checkpoint, not
        # bare localCheckpoint: each round joins ranks to the edges and
        # aggregates the result with ranks, so preserved origin-size
        # estimates would compound multiplicatively until BigInteger
        # overflow at planning time
        # (proven in the CC loop at gen-sf3 round ~25 — see
        # arrow_spark/checkpoint.py). Generation 0 is a plain projection
        # over the `nodes` checkpoint — the first round materializes it
        # inside its own checkpoint action.
        ranks = nodes.select(*carry, (tele / n).alias("r"))
        # the returned frame reads only the final ranks generation
        ranks = g.keep(g.iterate(ranks, step, max(1, n_iters)))
    return ranks.select(F.col("n").alias("node"), F.col("r").alias("rank"))


def hits(
    edges: DataFrame,
    n_iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): authority(n) =
    Σ hub(m) over in-edges, hub(n) = Σ auth(m) over out-edges, L1-
    normalized each half-step — the link-analysis complement to
    PageRank (which measures a single random-walk centrality; HITS
    separates "points at good pages" from "is pointed at").

    Same relational iteration discipline as pagerank: each half-step is
    one edge⋈scores message join + one keyed aggregation of the scores
    with their messages, every score snaps to 1e-9 before the next step
    (what makes the unrolled-CTE oracle replay bit-exact), and
    localCheckpoint truncates lineage per round. The L1 norm is a 1-row
    broadcast aggregate. Nodes outside the update's
    support (no in-edges / no out-edges) hold score 0 — they stay in
    the output, zero-valued, like pagerank's dangling handling.

    Returns (node, authority, hub).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    with Generations("hits") as g:
        # loop-invariant edge frame: checkpoint once (see _walk) — HITS
        # re-joins it twice per round (authority and hub half-steps)
        e = g.ckpt(e)
        # N as a driver-side literal (see _walk): 1.0/N is the same IEEE
        # double division a crossJoin(broadcast(cnt)) would perform
        nodes, n_nodes = g.count(
            e.select(F.col("src").alias("n"))
            .union(e.select(F.col("dst").alias("n")))
            .distinct()
        )
        # loop-carried → stats-reset checkpoint (see _walk); generation 0
        # is a projection over the nodes checkpoint
        scores = nodes.select(
            "n",
            F.lit(1.0 / n_nodes).alias("a"),
            F.lit(1.0 / n_nodes).alias("h"),
        )

        def _norm(df: DataFrame, col: str) -> DataFrame:
            tot = df.agg(F.sum(col).alias("__t__"))
            return df.crossJoin(F.broadcast(tot)).select(
                "n",
                *[c for c in ("a", "h") if c != col],
                F.when(
                    F.col("__t__") > 0, _snap9(F.col(col) / F.col("__t__"))
                ).otherwise(F.lit(0.0)).alias(col),
            ).select("n", "a", "h")

        def half_step(scores: DataFrame, i: int) -> DataFrame:
            # even half-steps update authorities from the hubs pointing in,
            # odd ones hubs from the authorities pointed at. One keyed
            # aggregation: every node's own row carries the untouched score
            # (no message), each edge sends the other score (no carry)
            new, old, by, to = (
                ("a", "h", "src", "dst") if i % 2 == 0 else ("h", "a", "dst", "src")
            )
            msgs = e.join(scores, e[by] == scores.n).select(
                F.col(to).alias("n"), F.lit(None).alias(old), F.col(old).alias("x")
            )
            nxt = (
                scores.select("n", old, F.lit(None).cast("double").alias("x"))
                .unionByName(msgs)
                .groupBy("n")
                .agg(
                    F.max(old).alias(old),
                    F.coalesce(_snap9(F.sum("x")), F.lit(0.0)).alias(new),
                )
            )
            return _norm(nxt, new)

        scores = g.keep(g.iterate(scores, half_step, 2 * max(1, n_iters)))
    return scores.select(
        F.col("n").alias("node"),
        F.col("a").alias("authority"),
        F.col("h").alias("hub"),
    )
