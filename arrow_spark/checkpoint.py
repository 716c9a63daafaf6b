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

The fix: rebuild the Dataset over the checkpointed RDD with the origin
estimate replaced by the generation's MEASURED size — the bytes its
persisted blocks occupy, read from Spark's storage status once the
generation has materialized (no Spark job). Each generation is measured
from its own data, never derived from its parent's estimate, so the
estimate (a) stays bounded round-over-round and (b) is a real size the
planner can act on: a generation below
``spark.sql.autoBroadcastJoinThreshold`` is broadcast when Catalyst
plans the next round — the rule Spark applies to a parquet scan's file
size — so the loop-invariant side of the round's join is never
shuffled, while a generation above it plans a shuffle join exactly as
an unknown size would. A generation not yet materialized (lazy) or not
yet fully reported reports ``defaultSizeInBytes`` (``Long.MaxValue``),
the conservative direction.

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

from py4j.protocol import Py4JError, Py4JJavaError
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
    checkpointed RDD drops the origin stats; an eager generation then
    reports its measured stored bytes (``memSize + diskSize`` of its
    persisted RDD, from ``SparkContext.getRDDStorageInfo``, which runs
    no job), so the estimate is bounded by the data itself and a
    generation under the broadcast threshold can be a broadcast build
    side. A lazy generation reports ``defaultSizeInBytes``
    (``Long.MaxValue``) until ``Generations.iterate`` measures it after
    the action that materializes it. The rebuilt frame carries no
    output partitioning, ordering or constraints: size is its only
    planning input.

    Implementation note: the rebuild goes through PRIVATE JVM-side APIs
    (the ``LogicalRDD`` copy, the ``Statistics`` constructor and the
    classic ``Dataset.ofRows``), verified working on PySpark 4.1.2. They
    do not exist under Spark Connect and could change across Spark
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
    if not hasattr(ck.sparkSession, "_jsparkSession"):
        raise RuntimeError(
            "ckpt_reset_stats requires classic (JVM) PySpark: it rebuilds "
            "the Dataset over the checkpointed RDD via private Catalyst "
            "APIs (LogicalRDD, Dataset.ofRows), which do not exist under "
            "Spark Connect. Run iterative operators on a classic session, "
            "or replace this helper with a checkpoint-to-storage round trip."
        )
    return _rebuild(ck, measure=eager)


def _rebuild(ck: DataFrame, measure: bool) -> DataFrame:
    """A fresh frame over checkpoint ``ck``'s LogicalRDD whose only
    statistic is the generation's stored size (``measure``) or unknown."""
    spark = ck.sparkSession
    try:
        jvm, session = spark._jvm, spark._jsparkSession
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        rdd_plan = ck._jdf.queryExecution().analyzed().newInstance()
        size = _stored_bytes(spark, rdd_plan.rdd()) if measure else None
        stats = none if size is None else jvm.scala.Some(_statistics(jvm, size))
        plan = rdd_plan.copy(
            rdd_plan.output(),
            rdd_plan.rdd(),
            jvm.org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0),
            getattr(getattr(jvm.scala.collection.immutable, "Nil$"), "MODULE$"),
            rdd_plan.isStreaming(),
            rdd_plan.stream(),
            session,
            stats,
            none,
        )
        new_jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, plan)
    except Py4JError as exc:  # pragma: no cover - Spark-upgrade canary
        raise RuntimeError(
            "ckpt_reset_stats: the private Spark APIs it relies on "
            "(LogicalRDD.copy / Statistics / Dataset.ofRows / "
            "SparkContext.getRDDStorageInfo / listenerBus, verified on "
            "PySpark 4.1.2) "
            "failed — a Spark upgrade likely changed them. Without the "
            "stats reset, join-bearing iterative loops compound size "
            "estimates to BigInteger overflow at planning time; fix this "
            "helper before re-enabling the loops."
        ) from exc
    out = DataFrame(new_jdf, spark)
    # handle for ckpt_release: the checkpoint Dataset whose analyzed plan
    # (a LogicalRDD) owns the persisted RDD generation
    out._ckpt_src = ck
    return out


def _stored_bytes(spark, rdd) -> int | None:
    """Bytes the persisted ``rdd`` occupies in memory and on disk, or
    None until every partition's block is reported: a partial sum would
    understate a generation into a broadcast. The storage status is fed
    by the listener bus, which can still hold the block updates of the
    action that just materialized ``rdd`` (seen on a loaded host), so a
    read that finds the generation incomplete drains the bus and reads
    once more. An RDD without partitions stores none."""
    rdd_id, parts = rdd.id(), rdd.getNumPartitions()
    if parts == 0:
        return 0
    sc = spark.sparkContext._jsc.sc()
    for drained in (False, True):
        if drained:
            try:
                sc.listenerBus().waitUntilEmpty()
            except Py4JJavaError:  # the bus stayed busy past its timeout
                return None
        for info in sc.getRDDStorageInfo():
            if info.id() == rdd_id and info.numCachedPartitions() == parts:
                return info.memSize() + info.diskSize()
    return None


def _statistics(jvm, size: int):
    """``Statistics(sizeInBytes = size)`` built on the JVM side: py4j
    returns a ``scala.math.BigInt`` to Python as an ``int``, so the
    ``BigInt.apply(long)`` step is composed into the constructor."""
    handles = jvm.java.lang.invoke.MethodHandles
    lookup = handles.publicLookup()
    cls = jvm.java.lang.Class.forName
    ctor = lookup.unreflectConstructor(
        cls("org.apache.spark.sql.catalyst.plans.logical.Statistics").getConstructors()[0]
    )
    bigint = cls("scala.math.BigInt")
    to_bigint = lookup.findStatic(
        bigint,
        "apply",
        jvm.java.lang.invoke.MethodType.methodType(bigint, jvm.java.lang.Long.TYPE),
    )
    defaults = getattr(
        getattr(jvm.org.apache.spark.sql.catalyst.plans.logical, "Statistics$"), "MODULE$"
    )
    return handles.collectArguments(ctor, 0, to_bigint).invokeWithArguments(
        [
            size,
            getattr(defaults, "apply$default$2")(),
            getattr(defaults, "apply$default$3")(),
            getattr(defaults, "apply$default$4")(),
        ]
    )


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

    def count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """``(generation, rows)``: a lazy generation of ``df`` whose
        ``count()`` is the action that materializes it, sized afterwards
        — one job where an eager checkpoint and a count are two."""
        lazy = self.ckpt(df, eager=False)
        rows = lazy.count()
        return self._measured(lazy), rows

    def _measured(self, frame: DataFrame) -> DataFrame:
        """The owned lazy generation ``frame``, materialized since, as a
        frame that reports its stored size; it takes over ownership and
        the release handle."""
        out = _rebuild(frame._ckpt_src, measure=True)
        del self._owned[id(frame)]
        self._owned[id(out)] = out
        frame._ckpt_src = None
        return out

    def iterate(self, state: DataFrame, step, rounds: int, until=None) -> DataFrame:
        """Run ``state = ckpt(step(state, i))`` for i in range(rounds).

        Without ``until`` each checkpoint is eager and is the round's
        one action. With ``until`` it is lazy, ``until(new)`` is the
        action that materializes it, and the loop stops at the first
        round where it is true — or raises ``RuntimeError`` when
        ``rounds`` pass without that; once ``until`` has materialized
        the generation, it is swapped for one carrying its measured
        size. Either way the predecessor is released only after its
        successor has materialized.
        """
        done = False
        for i in range(rounds):
            new = self.ckpt(step(state, i), eager=until is None)
            if until is not None:
                done = until(new)
                new = self._measured(new)
            self.release(state)
            state = new
            if done:
                return state
        if until is not None:
            raise RuntimeError(f"{self.name} did not converge in {rounds} rounds")
        return state
