"""The engine's session keeps generated code compiled across passes.

Spark compiles each whole-stage codegen class with Janino and keeps it in
a per-JVM cache of ``spark.sql.codegen.cache.maxEntries`` classes (100 by
default). A repeated mix whose working set is over that cap recompiles
all of it on every pass; ``get_spark`` sizes the cap so it does not.
"""

from __future__ import annotations

from arrow_spark.session import CODEGEN_CACHE_ENTRIES

#: branches of the mix, each its own codegen stage: together well over
#: Spark's default cap of 100 classes, well under the engine's
N_BRANCHES = 150
#: one query whose branches carry their own literals, which codegen
#: inlines, so each branch compiles distinct classes
MIX = " UNION ALL ".join(
    f"SELECT id * {i + 2} + {i} AS x FROM range(0, 4, 1, 1)" for i in range(N_BRANCHES)
)


def _compiles(spark) -> int:
    """Classes compiled by this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark) -> int:
    """Run the mix once; return how many classes it compiled."""
    before = _compiles(spark)
    assert len(spark.sql(MIX).collect()) == 4 * N_BRANCHES
    return _compiles(spark) - before


def test_codegen_cache_holds_a_working_set_over_sparks_default(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES
    first = _run_mix(spark)
    assert first >= N_BRANCHES, first
    # at Spark's default cap the second run compiles every class again
    second = _run_mix(spark)
    assert second <= 5, (first, second)
