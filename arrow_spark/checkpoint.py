"""Loop-safe checkpointing for iterative relational operators.

`ckpt_reset_stats` is THE checkpoint primitive for loop-carried DataFrame
state (connected components, pagerank, label propagation, k-core/k-truss
peeling, Bellman-Ford relaxation). A bare ``localCheckpoint`` truncates
*lineage* but PRESERVES the origin plan's estimated *statistics* on the
resulting LogicalRDD — and in a loop whose round contains a join, those
estimates compound multiplicatively round-over-round (Catalyst's
``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` multiplies child estimates)
until ``java.math.BigInteger`` itself overflows at ~2^31 bits:

    ArithmeticException: BigInteger would overflow supported range

raised during PLANNING, before any task runs. Proven empirically in the
round-12 second-decade sweep: the connected-components loop at gen-sf3
(76,814-doc template chain) died at round ~25 with exactly this error.

The fix: rebuild the Dataset over the checkpointed RDD. The rebuilt frame
drops the origin stats and reports ``defaultSizeInBytes``
(``Long.MaxValue``), which (a) stays bounded round-over-round and (b) can
never be elected a broadcast build side — the conservative direction for
loop-carried state at 100 TB (you never want the planner silently
broadcasting a frame whose size is loop-dependent).

Discovered and first applied in ``llm/dedup.connected_components`` (r12);
hoisted here in r13 so every iterative operator shares one audited
implementation (the six graph operators ran bare ``localCheckpoint`` in
the identical join-in-loop shape — VERDICT r12 "What's wrong #1").

Operators do not manage generations by hand: a ``Generations`` scope
owns every generation one operator call makes, and its ``iterate``
driver runs the loop. It checkpoints each round, releases the
predecessor once the successor has materialized, and frees every
generation that was not kept when the call returns or raises::

    with Generations("my_op") as g:
        e = g.ckpt(edges)                 # loop invariant, freed on exit
        state = g.iterate(g.ckpt(seed), lambda s, i: step(e, s), rounds)
        return g.keep(state)              # the result reads it

Reference anchor: the reference engine has no iteration node at all
(cpp/src/arrow/acero/exec_plan.cc — plans are DAGs); loops are a
Spark-native extension, so this hazard has no reference analog.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["Generations", "ckpt_reset_stats", "ckpt_release"]


def ckpt_reset_stats(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + statistics reset — REQUIRED for iterative join
    loops (use this, not bare localCheckpoint, for loop-carried state).

    Spark's localCheckpoint preserves the ORIGIN plan's estimated
    statistics on the resulting LogicalRDD (verified on 4.1: a join
    estimated at 64 MB checkpoints to a frame still claiming 64 MB —
    the checkpoint does NOT reset to measured size). In a loop whose
    round contains a join, the size estimates therefore COMPOUND
    multiplicatively across rounds (visitJoin multiplies child
    estimates) until java.math.BigInteger itself overflows at ~2^31
    bits: 'ArithmeticException: BigInteger would overflow supported
    range' raised from SizeInBytesOnlyStatsPlanVisitor during PLANNING,
    before any task runs — hit by the CC loop at gen-sf3 around round
    25 (r12 second-decade sweep). Rebuilding the Dataset over the
    checkpointed RDD drops the origin stats: the frame then reports
    defaultSizeInBytes (Long.MaxValue), which (a) stays bounded
    round-over-round and (b) can never be elected a broadcast build
    side — the conservative direction for loop-carried state.

    Implementation note: the rebuild goes through two PRIVATE JVM-side
    APIs (``SparkSession.internalCreateDataFrame`` and
    ``QueryExecution.toRdd``), verified working on PySpark 4.1. They do
    not exist under Spark Connect and could change across Spark
    upgrades, so incompatibility fails LOUDLY here — at the helper, with
    a message naming the contract — rather than deep inside an iterative
    loop as an opaque Py4J error (ADVICE r12).

    Memory contract (r13, found at E=30M connected components): each
    call persists ONE new RDD generation. Spark's default
    ``localCheckpoint`` level is MEMORY_AND_DISK **deserialized**, and
    nothing ever unpersists old generations — a loop therefore
    accumulates rounds × |state| of deserialized on-heap blocks, and
    the unroll of a new generation across every executor thread at once
    is exactly where the 30M-edge CC sweep OOM'd the 16 GB local JVM
    (``MemoryStore.putIteratorAsValues`` in the traceback; Spark's
    ContextCleaner only reclaims dropped generations on driver-GC
    cadence, far behind executor heap pressure). So generations persist
    SERIALIZED (``StorageLevel.MEMORY_AND_DISK``), and operators make
    them through a ``Generations`` scope, which releases each
    predecessor as soon as its successor has materialized and frees
    every generation it did not keep when the operator returns or
    raises. In-loop shape::

        with Generations("my_op") as g:
            state = g.iterate(g.ckpt(seed), step, rounds)
            return g.keep(state)

    ``eager=False`` (r14) defers materialization: the checkpoint RDD is
    only MARKED for local checkpointing, and the caller's FIRST action on
    the returned frame (typically a convergence ``count()``) computes and
    persists it — folding what used to be two Spark actions per loop
    round (eager checkpoint + count) into one. The predecessor must
    outlive that action: the new generation's computation still reads
    its checkpoint blocks, and localCheckpoint truncates lineage, so
    freed blocks are unrecoverable (``Generations.iterate`` with
    ``until`` keeps this order).
    """
    ck = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
    spark = ck.sparkSession
    if not hasattr(spark, "_jsparkSession"):
        raise RuntimeError(
            "ckpt_reset_stats requires classic (JVM) PySpark: it rebuilds "
            "the Dataset over the checkpointed RDD via the private "
            "SparkSession.internalCreateDataFrame API, which does not "
            "exist under Spark Connect. Run iterative operators on a "
            "classic session, or replace this helper with a "
            "checkpoint-to-storage round trip."
        )
    try:
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception as exc:  # pragma: no cover - Spark-upgrade canary
        raise RuntimeError(
            "ckpt_reset_stats: the private Spark APIs it relies on "
            "(SparkSession.internalCreateDataFrame / QueryExecution.toRdd, "
            "verified on PySpark 4.1) failed — a Spark upgrade likely "
            "changed them. Without the stats reset, join-bearing iterative "
            "loops compound size estimates to BigInteger overflow at "
            "planning time; fix this helper before re-enabling the loops."
        ) from exc
    out = DataFrame(new_jdf, spark)
    # handle for ckpt_release: the checkpoint Dataset whose analyzed plan
    # (a LogicalRDD) owns the persisted RDD generation
    out._ckpt_src = ck
    return out


def ckpt_release(frame: DataFrame) -> bool:
    """Unpersist the checkpoint generation behind a frame returned by
    ``ckpt_reset_stats``. Returns False (no-op) for frames this module
    did not produce or already-released frames; raises loudly — same
    private-API canary posture as the checkpoint itself — if the
    LogicalRDD handle cannot be reached on a frame that has one."""
    ck = getattr(frame, "_ckpt_src", None)
    if ck is None:
        return False
    try:
        plan = ck._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception as exc:  # pragma: no cover - Spark-upgrade canary
        raise RuntimeError(
            "ckpt_release: reaching the persisted RDD via "
            "QueryExecution.analyzed().rdd() (a LogicalRDD accessor, "
            "verified on PySpark 4.1) failed — a Spark upgrade likely "
            "changed the plan shape. Without the release, iterative loops "
            "re-accumulate one persisted generation per round."
        ) from exc
    frame._ckpt_src = None
    return True


class Generations:
    """Owns the checkpoint generations of one operator call.

    ``ckpt`` makes a generation the scope owns, ``keep`` lets one
    outlive the block (the frame the operator returns reads it), and
    leaving the block — by return or by exception — releases every
    generation still owned. ``name`` is the operator, for errors.

    Both primitives are called through this module's globals, so a
    wrapper rebound onto them here also sees the scope's calls.
    """

    def __init__(self, name: str):
        self.name = name
        self._owned: dict[int, DataFrame] = {}

    def __enter__(self) -> "Generations":
        return self

    def __exit__(self, *exc) -> None:
        owned, self._owned = self._owned, {}
        for frame in owned.values():
            ckpt_release(frame)

    def ckpt(self, df: DataFrame, eager: bool = True) -> DataFrame:
        out = ckpt_reset_stats(df, eager=eager)
        self._owned[id(out)] = out
        return out

    def keep(self, frame: DataFrame) -> DataFrame:
        self._owned.pop(id(frame), None)
        return frame

    def release(self, frame: DataFrame) -> None:
        """Free an owned generation now (no-op for any other frame)."""
        if self._owned.pop(id(frame), None) is not None:
            ckpt_release(frame)

    def iterate(self, state: DataFrame, step, rounds: int, until=None) -> DataFrame:
        """Run ``state = ckpt(step(state, i))`` for i in range(rounds).

        Without ``until`` each checkpoint is eager and is the round's
        one action. With ``until`` it is lazy, ``until(new)`` is the
        action that materializes it, and the loop stops at the first
        round where it is true — or raises ``RuntimeError`` when
        ``rounds`` pass without that. Either way the predecessor is
        released only after its successor has materialized.
        """
        for i in range(rounds):
            new = self.ckpt(step(state, i), eager=until is None)
            done = until is not None and until(new)
            self.release(state)
            state = new
            if done:
                return state
        if until is not None:
            raise RuntimeError(f"{self.name} did not converge in {rounds} rounds")
        return state
