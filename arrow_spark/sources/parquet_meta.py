"""Distributed parquet footer metadata as a relation.

Reference surface: ``pyarrow.parquet.read_metadata`` / ``ParquetFile
.metadata`` (python/pyarrow/parquet/core.py, cpp/src/parquet/metadata.h
RowGroupMetaData/ColumnChunkMetaData) — the per-row-group, per-column
statistics that drive scan planning. DuckDB exposes the same thing as
``parquet_metadata()``; this module is the Spark-native equivalent:

- one Spark task per data file opens ONLY the footer (pyarrow),
  launched straight from the file list (no shuffle),
- emits one row per (file, row_group, column chunk) with counts, null /
  min / max statistics, encodings-level sizes and offsets,
- nothing but metadata rows ever moves — at 100 TB this reads a few KiB
  per file and is how you answer "which row groups could match", "how
  skewed are my files", "did the writer produce dictionary pages"
  WITHOUT touching data pages.

min/max land as strings (like DuckDB's stats_min_value/stats_max_value)
because a single relation column must hold stats of every physical
type; typed consumers cast back knowing their column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from arrow_spark.sources._units import map_units

META_SCHEMA = (
    "file_name string, row_group_id int, row_group_num_rows long, "
    "column_id int, path_in_schema string, physical_type string, "
    "num_values long, null_count long, distinct_count long, "
    "min_value string, max_value string, compression string, "
    "total_compressed_size long, total_uncompressed_size long, "
    "data_page_offset long, dictionary_page_offset long"
)


def _files_for(spark: SparkSession, path: str | list[str]) -> list[str]:
    import os

    if isinstance(path, list):
        return sorted(path)
    # a ".parquet"-suffixed DIRECTORY is how Spark itself writes a table
    # (part files inside) — only a plain local file short-circuits
    if path.endswith(".parquet") and not os.path.isdir(path):
        return [path]
    # binaryFile lists the same files as the parquet reader (same file
    # index, same hidden-file and partition-directory rules) without
    # running a schema-inference job
    return sorted(spark.read.format("binaryFile").load(path).inputFiles())


def parquet_metadata(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Footer metadata of a parquet dataset, one row per column chunk.

    ``path`` may be a file, a dataset directory, or an explicit file
    list. The footer scan is one task per unit, no shuffle: one Spark
    task per file, at most 64 tasks (past that each task reads a
    contiguous run of files).
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    files = _files_for(spark, path)
    arrow_schema = to_arrow_schema(StructType.fromDDL(META_SCHEMA))

    def scan(fname):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _stat_str(v):
            if v is None:
                return None
            if isinstance(v, bytes):
                try:
                    return v.decode("utf-8")
                except UnicodeDecodeError:
                    return v.hex()
            return str(v)

        local = fname
        if local.startswith("file:"):
            local = local[len("file:"):]
            while local.startswith("//") and not os.path.exists(local):
                local = local[1:]
        md = pq.ParquetFile(local).metadata
        base = os.path.basename(local)
        rows = []
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                c = rgm.column(ci)
                st = c.statistics
                rows.append(
                    {
                        "file_name": base,
                        "row_group_id": rg,
                        "row_group_num_rows": rgm.num_rows,
                        "column_id": ci,
                        "path_in_schema": c.path_in_schema,
                        "physical_type": c.physical_type,
                        "num_values": c.num_values,
                        "null_count": st.null_count if st and st.has_null_count else None,
                        "distinct_count": st.distinct_count
                        if st and st.has_distinct_count
                        else None,
                        "min_value": _stat_str(st.min if st and st.has_min_max else None),
                        "max_value": _stat_str(st.max if st and st.has_min_max else None),
                        "compression": c.compression,
                        "total_compressed_size": c.total_compressed_size,
                        "total_uncompressed_size": c.total_uncompressed_size,
                        "data_page_offset": c.data_page_offset,
                        "dictionary_page_offset": c.dictionary_page_offset,
                    }
                )
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return map_units(spark, files, scan, META_SCHEMA, tasks=min(len(files), 64))
