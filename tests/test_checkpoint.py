"""Regression tests for arrow_spark.checkpoint.ckpt_reset_stats — the
stats-reset checkpoint every iterative join loop must use.

Background (r12 second-decade sweep): bare ``localCheckpoint`` preserves
the origin plan's size estimate, and a loop whose round joins the
checkpointed frame back into itself SQUARES that estimate every round —
bit-length doubles per round, so ``SizeInBytesOnlyStatsPlanVisitor``
overflows BigInteger (~2^31 bits) after ~25 rounds regardless of data
size, at PLANNING time ('ArithmeticException: BigInteger would overflow
supported range'). connected_components hit it at gen-sf3; the six graph
operators ran the identical shape until r13.

The compounding test below measures the mechanism directly (estimate
growth per round) instead of driving it all the way to the overflow: the
final pre-overflow rounds multiply ~2^30-bit BigIntegers, which costs
minutes of single-threaded JVM CPU by construction — the gen-sf3
incident IS the full-distance evidence, and doubling-per-round from a
measured base is arithmetic from there.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_spark.checkpoint import Generations, ckpt_release, ckpt_reset_stats
from arrow_spark.operators.pagerank import pagerank

LONG_MAX = (1 << 63) - 1


def _self_join_round(df):
    """One estimate-squaring round: the frame joins a projection of
    itself (the CC pointer-jump / pagerank contrib shape)."""
    rhs = df.select(F.col("v").alias("rv"), F.col("x").alias("rx"))
    return df.join(rhs, df.v == F.col("rv")).select(
        "v", (F.col("x") + F.col("rx")).alias("x")
    )


def _est(df) -> int:
    # py4j maps scala.math.BigInt-backed sizeInBytes to a Python int or
    # a JavaObject depending on magnitude — normalize via str()
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_bare_localcheckpoint_compounds_estimates(spark):
    """SYNTHETIC NEGATIVE — proves the hazard the helper fixes is real
    on this Spark build (if a Spark upgrade makes bare localCheckpoint
    reset stats, this starts failing and the helper can be retired).
    6 rows; after each self-join round the bare checkpoint PRESERVES
    the squared estimate, so 6 rounds in, the 'size' of a 6-row frame
    exceeds 2^64 bytes — doubling bit-length per round reaches the
    BigInteger ceiling (2^31 bits) by ~round 25, the gen-sf3 crash."""
    df = spark.range(6).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    df = df.localCheckpoint(eager=True)
    base = _est(df)
    assert 0 < base < LONG_MAX
    ests = [base]
    for _ in range(6):
        df = _self_join_round(df).localCheckpoint(eager=True)
        ests.append(_est(df))
    # strictly growing, at least squaring-ish each round, and far past
    # any physical size for 6 rows by the end
    assert all(b > a for a, b in zip(ests, ests[1:])), ests
    assert ests[-1] > 2**64, ests
    assert ests[-1] > ests[0] ** 2, ests


def _stored(frame) -> int:
    """The stored bytes of the generation behind a ckpt_reset_stats frame."""
    rdd_id = frame._ckpt_src._jdf.queryExecution().analyzed().rdd().id()
    sc = frame.sparkSession.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    (info,) = [i for i in sc.getRDDStorageInfo() if i.id() == rdd_id]
    return info.memSize() + info.diskSize()


def _planned_joins(df) -> str:
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return " ".join(j for j in ("BroadcastHashJoin", "SortMergeJoin") if j in plan)


def test_reset_stats_bounds_deep_self_join_loop(spark):
    """Same loop, stats-reset checkpoints: every round the estimate is
    the generation's measured stored bytes — a few hundred bytes for 6
    rows, never derived from the parent's estimate, so it cannot
    compound toward BigInteger planning math — and values stay exact
    (the helper is value-neutral). 35 rounds ≈ 10 past where the bare
    shape overflowed at gen-sf3."""
    df = spark.range(6).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    df = ckpt_reset_stats(df)
    for _ in range(35):
        df = ckpt_reset_stats(_self_join_round(df))
        assert _est(df) == _stored(df) < 64 * 1024
    rows = {r["v"]: r["x"] for r in df.collect()}
    # x doubles every round: 2^35 per vertex
    assert rows == {v: 2**35 for v in range(6)}


def test_reset_stats_pins_size_to_stored_bytes(spark):
    """The reset frame reports its stored bytes, so a small generation
    is broadcast when the next round is planned — while the bare
    checkpoint of the same join preserves the origin estimate."""
    df = spark.range(100).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    joined = _self_join_round(ckpt_reset_stats(df))
    g = ckpt_reset_stats(joined)
    assert _est(g) == _stored(g) < 64 * 1024
    assert _planned_joins(_self_join_round(g)) == "BroadcastHashJoin"
    # the bare checkpoint PRESERVES the origin join estimate — the
    # product of its inputs' sizes, far above what 100 rows store
    assert _est(joined.localCheckpoint(eager=True)) == _est(joined) > 10 * _est(g)


def test_generation_above_the_threshold_plans_a_shuffle_join(spark, set_conf):
    """The scale posture: a generation larger than the broadcast
    threshold is never broadcast, exactly as an unknown size."""
    df = spark.range(200).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    g = ckpt_reset_stats(df)
    set_conf("spark.sql.autoBroadcastJoinThreshold", str(_stored(g) // 2))
    assert _planned_joins(_self_join_round(g)) == "SortMergeJoin"
    set_conf("spark.sql.autoBroadcastJoinThreshold", str(_stored(g) * 2))
    assert _planned_joins(_self_join_round(g)) == "BroadcastHashJoin"
    ckpt_release(g)


def test_pagerank_round_jobs_are_pinned(spark, jobs_run):
    """3 pagerank rounds on a 13-vertex ring with one chord. The measured
    generations are broadcast into each round's join, so AQE submits
    no shuffle of the edge side (32 jobs when every generation reported
    Long.MaxValue), and ranks and messages meet in one aggregation, so
    no round joins its state back onto an aggregate (26 jobs with that
    join and a separate node count)."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(12)] + [(12, 0, 1.0), (0, 6, 1.0)],
        "src long, dst long, w double",
    )
    with jobs_run() as jobs:
        ranks = pagerank(edges, n_iters=3)
    assert len(jobs) == 22
    assert abs(sum(r["rank"] for r in ranks.collect()) - 1.0) < 1e-6
    ckpt_release(ranks)


def test_pagerank_high_iteration_regression(spark):
    """pagerank at 40 iterations — past the round count that killed the
    bare-localCheckpoint shape (estimate bit-length doubles per round →
    overflow ~round 25). Must complete and stay a distribution."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(12)] + [(12, 0, 1.0)],
        "src long, dst long, w double",
    )
    ranks = pagerank(edges, n_iters=40)
    rows = ranks.collect()
    assert len(rows) == 13
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-6


def test_stored_bytes_drains_the_listener_bus_before_giving_up():
    """The storage status lags the action that materialized a
    generation while its block updates wait on the listener bus (seen
    once in a Tier-1 run on a loaded host, where a generation was left at
    Long.MaxValue). An incomplete first read drains the bus and reads
    again."""
    from types import SimpleNamespace as NS

    from arrow_spark.checkpoint import _stored_bytes

    info = NS(id=lambda: 7, numCachedPartitions=lambda: 2, memSize=lambda: 300, diskSize=lambda: 97)
    reads, drains = [[], [info]], []
    sc = NS(
        getRDDStorageInfo=lambda: reads.pop(0),
        listenerBus=lambda: NS(waitUntilEmpty=lambda: drains.append(1)),
    )
    spark = NS(sparkContext=NS(_jsc=NS(sc=lambda: sc)))
    rdd = NS(id=lambda: 7, getNumPartitions=lambda: 2)
    assert _stored_bytes(spark, rdd) == 397
    assert drains == [1]


def test_connect_guard_message():
    """ADVICE r12: a session without a JVM handle (Spark Connect) must
    fail loudly AT the helper with a message naming the contract."""

    class _FakeConnectDF:
        def localCheckpoint(self, eager=True, storageLevel=None):
            return self

        @property
        def sparkSession(self):
            class _S:  # no _jsparkSession attribute
                pass

            return _S()

    with pytest.raises(RuntimeError, match="Spark Connect"):
        ckpt_reset_stats(_FakeConnectDF())


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_frees_generation_and_keeps_values(spark):
    """r13 (E=30M CC OOM): generations accumulate unless released. A
    release must free the block while the SUCCESSOR generation — built
    from the released one — stays correct."""
    base = _n_persistent(spark)
    g1 = ckpt_reset_stats(
        spark.range(1000).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    )
    g2 = ckpt_reset_stats(_self_join_round(g1))
    assert ckpt_release(g1) is True
    assert _n_persistent(spark) == base + 1  # g1's block gone, g2's live
    assert g1._ckpt_src is None
    assert g2.agg(F.sum("x")).collect()[0][0] == 2000
    # releasing a frame this module didn't produce is a no-op
    assert ckpt_release(spark.range(3)) is False
    assert ckpt_release(g1) is False  # already released
    assert ckpt_release(g2) is True
    assert _n_persistent(spark) == base


def test_generations_persist_serialized(spark):
    """Default storage must be the SERIALIZED memory+disk level: the
    deserialized unroll across all executor threads at once is where
    the 30M-edge CC sweep OOM'd (MemoryStore.putIteratorAsValues)."""
    g = ckpt_reset_stats(spark.range(10).select(F.col("id").alias("v")))
    desc = g._ckpt_src._jdf.queryExecution().analyzed().rdd().getStorageLevel().description()
    assert "Serialized" in desc and "Disk" in desc, desc
    ckpt_release(g)


def test_loop_holds_one_generation(spark):
    """Generations.iterate holds exactly one persisted generation
    between rounds, whatever the round count; the scope frees it on
    exit unless it is kept."""
    base = _n_persistent(spark)
    live = []

    def step(state, _):
        live.append(_n_persistent(spark) - base)
        return _self_join_round(state)

    with Generations("loop") as g:
        seed = spark.range(200).select(
            F.col("id").alias("v"), F.lit(1).cast("long").alias("x")
        )
        state = g.iterate(g.ckpt(seed), step, 6)
        assert _n_persistent(spark) == base + 1
        assert state.agg(F.sum("x")).collect()[0][0] == 200 * 2**6
    assert live == [1] * 6
    assert _n_persistent(spark) == base


def test_generations_keep_outlives_the_scope(spark):
    base = _n_persistent(spark)
    with Generations("keep") as g:
        g.ckpt(spark.range(10))
        kept = g.keep(g.ckpt(spark.range(20)))
    assert _n_persistent(spark) == base + 1
    assert kept.count() == 20
    assert ckpt_release(kept) is True
    assert _n_persistent(spark) == base


def test_generations_free_everything_on_exception(spark):
    base = _n_persistent(spark)

    def step(state, i):
        if i == 2:
            raise ValueError("boom")
        return _self_join_round(state)

    seed = spark.range(50).select(F.col("id").alias("v"), F.lit(1).cast("long").alias("x"))
    with pytest.raises(ValueError, match="boom"):
        with Generations("fail") as g:
            g.ckpt(spark.range(5))
            g.iterate(g.ckpt(seed), step, 5)
    assert _n_persistent(spark) == base


def test_iterate_until_stops_lazily_or_raises_naming_the_operator(spark):
    """With ``until``, each round's checkpoint is lazy and ``until`` is
    its one action: the loop stops at the first true round, or raises
    a RuntimeError that names the operator and frees every generation."""
    seed = spark.range(8).select(F.col("id").alias("v"))

    def halve(state, _):
        return state.where(F.col("v") % 2 == 0).select((F.col("v") / 2).cast("long").alias("v"))

    base = _n_persistent(spark)
    rounds = []

    def one_left(new):
        rounds.append(1)
        return new.count() == 1

    with Generations("halve") as g:
        out = g.keep(g.iterate(seed, halve, 10, until=one_left))
    # 0..7 → {0,1,2,3} → {0,1} → {0}: three rounds
    assert len(rounds) == 3
    assert [r["v"] for r in out.collect()] == [0]
    assert ckpt_release(out) is True
    assert _n_persistent(spark) == base

    with pytest.raises(RuntimeError, match="halve did not converge in 2 rounds"):
        with Generations("halve") as g:
            g.iterate(seed, halve, 2, until=lambda new: new.count() == 1)
    assert _n_persistent(spark) == base


def test_iterate_until_measures_the_lazy_generation(spark):
    """A lazy generation is sized once ``until`` has materialized it:
    the frame ``iterate`` returns reports its stored bytes and still
    releases its generation."""
    seed = spark.range(40).select(F.col("id").alias("v"))

    def above_30(state, _):
        return state.where(F.col("v") > 30)

    base = _n_persistent(spark)
    with Generations("shrink") as g:
        out = g.keep(g.iterate(seed, above_30, 5, until=lambda new: new.count() > 0))
    assert _est(out) == _stored(out) < LONG_MAX
    assert ckpt_release(out) is True
    assert _n_persistent(spark) == base


def _loops():
    from arrow_spark.llm.dedup import connected_components
    from arrow_spark.operators.kcore import k_core, undirected_edges
    from arrow_spark.operators.ktruss import k_truss
    from arrow_spark.operators.labelprop import label_propagation
    from arrow_spark.operators.pagerank import hits, personalized_pagerank
    from arrow_spark.operators.shortest_paths import shortest_paths

    def und(e):
        return undirected_edges(e, "src", "dst")

    return {
        "pagerank": lambda e, s: pagerank(e, n_iters=3),
        "personalized_pagerank": lambda e, s: personalized_pagerank(e, s, n_iters=3),
        "hits": lambda e, s: hits(e, n_iters=2),
        "label_propagation": lambda e, s: label_propagation(e, n_iters=3),
        "shortest_paths": lambda e, s: shortest_paths(e, s.select(F.col("n").alias("node"))),
        "k_core": lambda e, s: k_core(und(e), k=2, rounds=3),
        "k_truss": lambda e, s: k_truss(und(e), k=3, rounds=3),
        "connected_components": lambda e, s: connected_components(e, "src", "dst"),
    }


@pytest.mark.parametrize("op", sorted(_loops()))
def test_failing_loop_frees_every_generation(spark, monkeypatch, op):
    """Whatever fails inside a loop, the operator's scope releases every
    generation it persisted: here the third checkpoint call (a round
    past the loop invariants) raises."""
    import arrow_spark.checkpoint as ckpt

    real = ckpt.ckpt_reset_stats
    calls = []

    def third_call_fails(df, eager=True):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected checkpoint failure")
        return real(df, eager=eager)

    # a 9-vertex chain with two chords: every loop needs several rounds
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(8)] + [(0, 2, 1), (5, 7, 2)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "n long")
    before = _n_persistent(spark)
    monkeypatch.setattr(ckpt, "ckpt_reset_stats", third_call_fails)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        _loops()[op](edges, seeds)
    assert len(calls) == 3
    assert _n_persistent(spark) <= before
