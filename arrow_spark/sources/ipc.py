"""Arrow IPC (Feather V2 / stream) DataSource.

Spark has no builtin `format("arrow")` (SURVEY §2.3); this implements
one Spark-first: the driver plans work units the way Spark plans
parquet splits — per-file footer metadata (record-batch count) chunked
into contiguous batch ranges targeting the session's parallelism — and
each task reads its range with pyarrow inside mapInArrow (zero-copy
RecordBatch passthrough). A single 100-GB IPC file therefore fans out
across the cluster instead of pinning one task; stream-format files
(no footer, no random access) stay one unit each. Writes go one IPC
file per partition via the same boundary, with optional hive-style
`partition_by=` directory layout that the reader discovers and
re-attaches.

Reference: cpp/src/arrow/ipc/reader.h:74,109 (stream/file readers),
ipc/writer.h:143-180 (writers, LZ4/ZSTD compression).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arrow_spark.sources._units import map_units

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _expand_paths(path: str | list[str]) -> tuple[list[str], str | None]:
    """Expand to concrete files; return (files, root) where root is the
    directory partition discovery is relative to (single-dir input only)."""
    paths = [path] if isinstance(path, str) else list(path)
    out: list[str] = []
    root = None
    for p in paths:
        if os.path.isdir(p):
            hits = (
                sorted(_glob.glob(os.path.join(p, "**", "*.arrow"), recursive=True))
                or sorted(_glob.glob(os.path.join(p, "**", "*.feather"), recursive=True))
                or sorted(f for f in _glob.glob(os.path.join(p, "*")) if os.path.isfile(f))
            )
            out.extend(hits)
            if isinstance(path, str):
                root = p
        elif any(ch in p for ch in "*?["):
            out.extend(sorted(_glob.glob(p)))
        else:
            out.append(p)
    if not out:
        raise FileNotFoundError(f"no IPC files under {path!r}")
    return out, root


def _partition_values(files: list[str], root: str | None) -> tuple[list[str], list[dict]]:
    """Hive-style key=value directory components per file (parquet-layout
    convention). Returns (sorted key names, per-file value dicts)."""
    if root is None:
        return [], [{} for _ in files]
    keys: set[str] = set()
    per_file: list[dict] = []
    for f in files:
        kv: dict[str, str | None] = {}
        for comp in os.path.dirname(os.path.relpath(f, root)).split(os.sep):
            if "=" in comp:
                k, _, v = comp.partition("=")
                kv[k] = None if v == _HIVE_NULL else v
        keys.update(kv)
        per_file.append(kv)
    return sorted(keys), per_file


def _ipc_schema(sample_path: str):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    try:
        with ipc.open_file(sample_path) as r:
            return r.schema
    except pa.ArrowInvalid:
        with ipc.open_stream(sample_path) as r:
            return r.schema


def _plan_splits(files: list[str], target_tasks: int) -> list[tuple[str, int, int]]:
    """(path, start_batch, end_batch) units; end == -1 means 'stream the
    whole file' (stream format has no footer to split on). File-format
    batch counts come from the footer — metadata-only reads, the same
    planning cost profile as parquet footer reads at scan planning.
    Ranges are contiguous so each task does one sequential read.
    """
    import pyarrow as pa
    import pyarrow.ipc as ipc

    metas: list[tuple[str, int]] = []
    total = 0
    for p in files:
        try:
            with ipc.open_file(p) as r:
                n = r.num_record_batches
            total += n
            metas.append((p, n))
        except (pa.ArrowInvalid, OSError):
            metas.append((p, -1))
    units: list[tuple[str, int, int]] = []
    want = max(1, target_tasks)
    for p, n in metas:
        if n <= 0:
            units.append((p, 0, -1))
            continue
        k = max(1, min(n, round(n * want / max(total, 1))))
        base, extra, s = n // k, n % k, 0
        for i in range(k):
            e = s + base + (1 if i < extra else 0)
            units.append((p, s, e))
            s = e
    return units


def read_ipc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Read Arrow IPC file(s) into a DataFrame, tasks per batch-range:
    one task per unit, no shuffle (at most 64 tasks; past that each task
    reads a contiguous run of units).

    Schema comes from the first file's IPC footer (dataset-discovery
    style); partitions stream RecordBatches through mapInArrow without
    row materialization. Hive-style key=value directories under a
    single-directory input surface as string partition columns, exactly
    like Spark's parquet reader.
    """
    import pyarrow as pa

    from arrow_spark.types import normalize_arrow_schema, normalize_batch

    files, root = _expand_paths(path)
    part_keys, part_vals = _partition_values(files, root)
    # Fragment schemas may have evolved (columns added/dropped over time);
    # unify footers like Arrow's dataset discovery does so late files'
    # new columns surface (older batches pad them with nulls). Footer
    # reads are metadata-only; at very large file counts this driver loop
    # is the same cost profile as Spark's own parquet mergeSchema.
    raw_schema = _ipc_schema(files[0])
    per_file = [raw_schema] + [_ipc_schema(p) for p in files[1:]]
    if any(not s.equals(raw_schema) for s in per_file[1:]):
        raw_schema = pa.unify_schemas(per_file)
    schema, needs_normalize = normalize_arrow_schema(raw_schema)
    needs_normalize = needs_normalize or any(
        not s.equals(raw_schema) for s in per_file
    )
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        try:
            # tz-less Arrow timestamps are NTZ semantically — keep fidelity
            spark_schema = from_arrow_schema(schema, prefer_timestamp_ntz=True)
        except TypeError:
            spark_schema = from_arrow_schema(schema)
    except ImportError:  # pandas bridge fallback: 1-row sample infers types
        with pa.ipc.open_file(files[0]) as r:
            sample = r.get_batch(0).slice(0, 1)
        spark_schema = spark.createDataFrame(sample.to_pandas()).schema
    out_schema = T.StructType(
        list(spark_schema.fields)
        + [T.StructField(k, T.StringType(), True) for k in part_keys]
    )

    kv_by_file = dict(zip(files, part_vals))
    units = [
        (p, s, e, kv_by_file.get(p, {}))
        for p, s, e in _plan_splits(files, spark.sparkContext.defaultParallelism)
    ]

    def read_unit(unit) -> Iterator[pa.RecordBatch]:
        import pyarrow.ipc as ipc

        p, s, e, kv = unit

        def emit(raw: pa.RecordBatch) -> pa.RecordBatch:
            # normalize Arrow-only types (unsigned, time, half, views,
            # dictionary) to the Spark-representable schema — SURVEY §1.2
            out = normalize_batch(raw, schema) if needs_normalize else raw
            for k in part_keys:
                out = out.append_column(
                    k, pa.array([kv.get(k)] * out.num_rows, type=pa.string())
                )
            return out

        if e >= 0:
            with ipc.open_file(p) as reader:
                for i in range(s, e):
                    yield emit(reader.get_batch(i))
            return
        # guard only the open: batch/cast errors must surface,
        # not get misread as "try the stream format instead"
        try:
            reader = ipc.open_file(p)
        except pa.ArrowInvalid:
            reader = None
        if reader is not None:
            for i in range(reader.num_record_batches):
                yield emit(reader.get_batch(i))
        else:
            with ipc.open_stream(p) as sr:
                for raw in sr:
                    yield emit(raw)

    return map_units(spark, units, read_unit, out_schema, tasks=min(len(units), 64))


def write_ipc(
    df: DataFrame,
    path: str,
    compression: str | None = "zstd",
    partition_by: Sequence[str] = (),
    dict_encode: Sequence[str] = (),
) -> None:
    """Write a DataFrame as Arrow IPC, one file per task (the distributed
    analog of ipc::MakeFileWriter). With `partition_by`, rows land in
    hive-style key=value directories; the frame is pre-shuffled on the
    partition keys so each task holds few distinct keys (bounded open
    writers — the standard dynamic-partition-write discipline).
    `dict_encode` columns are dictionary-encoded on the wire (the
    physical encoding the reference's IPC writer emits for categorical
    columns — type_fwd.h DICTIONARY); the engine's reader decodes them
    transparently (types.py), so the round trip is logically lossless
    while the file stores each distinct value once per batch."""
    os.makedirs(path, exist_ok=True)
    partition_by = list(partition_by)
    if partition_by:
        df = df.repartition(*partition_by)

    import pyarrow as pa

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import os as _os
        import uuid

        import pyarrow.ipc as ipc

        opts = ipc.IpcWriteOptions(compression=compression)
        writers: dict[tuple, object] = {}

        def writer_for(key: tuple, schema: pa.Schema):
            w = writers.get(key)
            if w is None:
                sub = _os.path.join(
                    path,
                    *[
                        f"{k}={_HIVE_NULL if v is None else v}"
                        for k, v in zip(partition_by, key)
                    ],
                )
                _os.makedirs(sub, exist_ok=True) if key else None
                w = ipc.new_file(
                    _os.path.join(sub, f"part-{uuid.uuid4().hex}.arrow"), schema, options=opts
                )
                writers[key] = w
            return w

        def _encode(b: pa.RecordBatch) -> pa.RecordBatch:
            if not dict_encode:
                return b
            import pyarrow.compute as pc

            cols = [
                pc.dictionary_encode(c) if b.schema.names[i] in dict_encode else c
                for i, c in enumerate(b.columns)
            ]
            return pa.RecordBatch.from_arrays(cols, names=b.schema.names)

        try:
            for b in batches:
                b = _encode(b)
                if not partition_by:
                    writer_for((), b.schema).write_batch(b)
                    continue
                tbl = pa.Table.from_batches([b])
                body = tbl.drop_columns(partition_by)
                kdf = tbl.select(partition_by).to_pandas()
                for vals, idx in kdf.groupby(partition_by, dropna=False, sort=False).groups.items():
                    key = vals if isinstance(vals, tuple) else (vals,)
                    key = tuple(None if v != v else v for v in key)  # NaN → null dir
                    chunk = body.take(list(idx)).combine_chunks()
                    w = writer_for(key, chunk.schema)
                    for cb in chunk.to_batches():
                        w.write_batch(cb)
        finally:
            for w in writers.values():
                w.close()
        count_schema = pa.schema([pa.field("written", pa.int64())])
        yield pa.RecordBatch.from_pylist([{"written": 1}], schema=count_schema)

    sink_schema = T.StructType([T.StructField("written", T.LongType(), True)])
    df.mapInArrow(write_partition, schema=sink_schema).write.format("noop").mode(
        "overwrite"
    ).save()
