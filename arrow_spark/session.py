"""SparkSession bootstrap tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs are
chosen so the same code scales to a multi-executor cluster at ~100 TB:
AQE on (runtime coalescing, skew-join splitting), bloom-filter join
pushdown on, Arrow exchange on for the vectorized-Python slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Generated classes Spark keeps compiled per JVM
#: (``spark.sql.codegen.cache.maxEntries``, default 100). Working sets
#: measured on the engine benchmark: one pass of the seven graph loops
#: needs about 290 classes, the olap mix about 93. At the default cap the
#: loops recompile about 277 classes (about 2 s of Janino) on every
#: repeated pass; at this cap, about 15.
CODEGEN_CACHE_ENTRIES = 1000


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "arrow_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: at 100 TB these same configs apply — AQE resizes the
    local default of one shuffle partition per CPU up to
    input-proportional counts, and the bloom-filter + broadcast thresholds
    let Catalyst kill shuffles the plan doesn't need. Nothing here is
    local-mode-only except ``master``.

    The codegen cache is sized to the engine's working set
    (``CODEGEN_CACHE_ENTRIES``), so a repeated mix compiles each
    generated class once instead of on every pass. The cap is a static
    conf: it holds only when this call creates the session, not when it
    reuses one that is already running.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the oracle comparator collects full results driver-side; sf1
        # pair outputs cross the 1g default (harness limit, not a plan
        # property — queries themselves never collect row-scale data)
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
