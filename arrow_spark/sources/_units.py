"""Launch driver-planned work units as Spark tasks.

Every Arrow-native source plans its work on the driver (IPC batch
ranges, Flight endpoints, parquet files, bloom-admitted row groups) and
then needs one task per unit. A ``spark.range`` over the unit indices
gives exactly that partitioning without a shuffle: each task receives a
contiguous block of indices and looks its units up in the list the
closure carries, so the whole read is one stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession


def map_units(
    spark: SparkSession,
    units: Sequence,
    fn: Callable[[object], Iterable],
    schema,
    tasks: int | None = None,
) -> DataFrame:
    """``fn(unit)`` yields the Arrow RecordBatches of one unit, matching
    ``schema`` (StructType or DDL string). ``tasks`` defaults to one per
    unit; with fewer tasks, each runs a contiguous run of units. No units
    gives an empty frame of ``schema``."""
    if not units:
        return spark.createDataFrame([], schema)

    def run(batches: Iterator) -> Iterator:
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from fn(units[i])

    n = len(units)
    return spark.range(0, n, 1, tasks or n).mapInArrow(run, schema=schema)
