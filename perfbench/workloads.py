"""The benchmark's workloads: inputs, operations and output checks.

A workload generates its inputs once per set-up (``generate``), then
yields its operations (``ops``). An operation is timed as ``build``
(returning a DataFrame, or doing eager work such as a write) followed
by ``execute`` (running the DataFrame into Spark's ``noop`` sink). Its
``check`` runs untimed, in the check pass that also warms the session:
it executes the operation its own way (collecting the result, or
reading back what was written) and returns ``None`` or a mismatch.

Operations in one ``chain`` run in order; the seed shuffles the order
of the chains in each pass.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from perfbench import reference as ref


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable
    check: Callable
    execute: Callable = noop
    chain: str = ""
    #: rows this operation writes to or reads from storage (``ingest``)
    rows: int = 0
    #: the check needs the timed execution to have run first (writes)
    check_after_execute: bool = False

    def __post_init__(self):
        self.chain = self.chain or self.name


@dataclass
class Context:
    spark: object
    seed: int
    data_dir: str
    work_dir: str
    cache_dir: str
    clock: ref.RefClock
    tracer: object
    extra: dict = field(default_factory=dict)


def _write_ntz(df, path: str) -> None:
    """Parquet with tz-naive microsecond timestamps, the layout of the
    engine's fixtures (DuckDB reads it as TIMESTAMP, as its oracles
    expect)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# olap: TPC-H and the Substrait/Declaration consumers
# ---------------------------------------------------------------------------


class Olap:
    name = "olap"
    #: TPC-H scale factor of the generated tables
    sf = 0.01
    #: eight TPC-H shapes (scan-aggregate, 3- and 6-way joins, outer
    #: join, IN, EXISTS and NOT EXISTS subqueries) plus both plan
    #: consumers; the whole q1-q22 list does not fit the run budget and
    #: q21's job count is not exact (see README.md)
    queries = [f"q{i}_" for i in (1, 3, 4, 5, 6, 13, 18, 22)] + [
        "substrait_subquery",
        "declaration_pipeline",
    ]
    #: --seconds over pass_s is the pass count. Two passes at --seconds 6:
    #: a pass takes about 4.5 s, short enough that one slow spell of the
    #: host can cover most of it, and the first pass is still warming up
    pass_s = 3.0

    def generate(self, ctx: Context, out_dir: str) -> None:
        from arrow_spark.sources.tpchgen import generate_tables

        ctx.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        for name, df in generate_tables(ctx.spark, self.sf).items():
            if name != "partsupp":  # derived inside the queries that use it
                _write_ntz(df, os.path.join(out_dir, f"{name}.parquet"))

    def ops(self, ctx: Context) -> list[Op]:
        from arrow_spark.queries import load_all

        registry = load_all()
        names = []
        for want in self.queries:
            hits = [n for n in registry if n == want or (want.endswith("_") and n.startswith(want))]
            if len(hits) != 1:
                raise RuntimeError(f"query {want!r} resolves to {hits}")
            names.append(hits[0])
        oracles = ref.OracleCache(ctx.data_dir, ctx.cache_dir, ctx.clock)
        ctx.extra["close"] = oracles.close
        return [self._op(ctx, registry[n], oracles) for n in names]

    @staticmethod
    def _op(ctx: Context, qd, oracles: ref.OracleCache) -> Op:
        from arrow_spark.testing.oracle import compare_frames

        def build():
            with ctx.tracer.span("queries.build"):
                return qd.fn(ctx.spark, ctx.data_dir)

        def check(df):
            got = df.toPandas()
            want = oracles.result(qd.oracle)
            with ctx.clock.timing():
                res = compare_frames(qd.name, got, want)
            return None if res.ok else f"{qd.name}: {'; '.join(res.errors[:2])}"

        return Op(qd.name, build, check)


# ---------------------------------------------------------------------------
# loops: the iterative graph operators
# ---------------------------------------------------------------------------


class Loops:
    name = "loops"
    n_edges = 5_000
    #: shortest-path sources: nodes 0..9
    sources = list(range(10))
    kcore_k = 20
    pass_s = 7.0

    def generate(self, ctx: Context, out_dir: str) -> None:
        from arrow_spark.sources.graphgen import uniform_edges

        uniform_edges(ctx.spark, self.n_edges, seed=ctx.seed).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "edges.parquet"))

    def ops(self, ctx: Context) -> list[Op]:
        from pyspark.sql import functions as F

        from arrow_spark.llm.dedup import connected_components
        from arrow_spark.operators.kcore import k_core, undirected_edges
        from arrow_spark.operators.ktruss import k_truss
        from arrow_spark.operators.labelprop import label_propagation
        from arrow_spark.operators.pagerank import pagerank
        from arrow_spark.operators.shortest_paths import shortest_paths
        from arrow_spark.operators.triangles import count_triangles

        spark = ctx.spark
        path = os.path.join(ctx.data_dir, "edges.parquet")
        with ctx.clock.timing():
            edges_pd = ref.read_parquet(path)

        def edges():
            return spark.read.parquet(path)

        def as_map(df, key_cols, val_col):
            pdf = df.toPandas()
            keys = (
                pdf[key_cols[0]].tolist()
                if len(key_cols) == 1
                else list(zip(*(pdf[c].tolist() for c in key_cols)))
            )
            if len(set(keys)) != len(keys):
                raise ValueError("duplicate keys in operator output")
            return dict(zip(keys, pdf[val_col].tolist()))

        def graph_check(name, key_cols, val_col, want_fn, tol=0.0):
            def check(df):
                got = as_map(df, key_cols, val_col)
                with ctx.clock.timing():
                    want = want_fn(edges_pd)
                    return ref.diff_maps(name, got, want, tol)

            return check

        k = self.kcore_k
        srcs = self.sources
        ops = [
            Op(
                "pagerank",
                lambda: pagerank(edges(), n_iters=3),
                graph_check("pagerank", ["node"], "rank",
                            lambda e: ref.pagerank(e, 3), ref.PAGERANK_TOL),
            ),
            Op(
                "label_propagation",
                lambda: label_propagation(edges(), n_iters=2),
                graph_check("label_propagation", ["node"], "label",
                            lambda e: ref.label_propagation(e, 2)),
            ),
            Op(
                "k_core",
                lambda: k_core(undirected_edges(edges(), "src", "dst"), k=k, rounds=2),
                graph_check("k_core", ["node"], "degree", lambda e: ref.k_core(e, k, 2)),
            ),
            Op(
                "k_truss",
                lambda: k_truss(undirected_edges(edges(), "src", "dst"), k=3, rounds=1),
                graph_check("k_truss", ["lo", "hi"], "support",
                            lambda e: ref.k_truss(e, 3, 1)),
            ),
            Op(
                "shortest_paths",
                lambda: shortest_paths(
                    edges(), spark.range(len(srcs)).select(F.col("id").alias("node")),
                    n_iters=2,
                ),
                graph_check("shortest_paths", ["node"], "dist",
                            lambda e: ref.shortest_paths(e, srcs, 2)),
            ),
            Op(
                "count_triangles",
                lambda: count_triangles(edges(), src="src", dst="dst", per_vertex=True),
                graph_check("count_triangles", ["v"], "n_triangles",
                            ref.triangles_per_vertex),
            ),
            Op(
                "connected_components",
                lambda: connected_components(
                    edges().select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
                    "id_a", "id_b",
                ),
                graph_check("connected_components", ["v"], "component",
                            ref.connected_components),
            ),
        ]
        return ops


# ---------------------------------------------------------------------------
# ingest: writes beside reads, a Flight round trip and a file-source stream
# ---------------------------------------------------------------------------


class Ingest:
    name = "ingest"
    #: scalegen events scale (1e6 rows per unit) before the seeded sample
    events_sf = 0.1
    stream_files = 8
    pass_s = 6.0

    def _events(self, spark, seed: int):
        from pyspark.sql import functions as F

        from arrow_spark.sources.scalegen import events

        keep = F.pmod(F.col("event_id") * 2_654_435_761 + seed, F.lit(10)) != 0
        return events(spark, self.events_sf).where(keep).drop("props")

    def generate(self, ctx: Context, out_dir: str) -> None:
        df = self._events(ctx.spark, ctx.seed)
        df.repartition(self.stream_files).write.mode("overwrite").parquet(
            os.path.join(out_dir, "events.parquet")
        )

    def reference(self, seed: int) -> dict:
        """Row count and exact checksums of the seeded events, from the
        generator's integer formulas (numpy, independent of the engine)."""
        n = max(int(1_000_000 * self.events_sf), 100)
        i = np.arange(n, dtype=np.int64)
        keep = np.mod(i * 2_654_435_761 + seed, 10) != 0
        ids = i[keep]
        cents = np.mod(ids * 48_271, 56_022)  # value = cents / 100
        types = ["click", "view", "purchase", "signup", "error"]
        etype = np.mod(ids * 13 + 7, 5)
        per_type = {
            types[t]: (int((etype == t).sum()), int(cents[etype == t].sum()))
            for t in range(5)
        }
        return {
            "rows": int(len(ids)),
            "id_sum": int(ids.sum()),
            "cents_sum": int(cents.sum()),
            "per_type": per_type,
        }

    def ops(self, ctx: Context) -> list[Op]:
        from pyspark.sql import functions as F

        from arrow_spark.sources import dataset, flight, ipc
        from arrow_spark.streaming import sink as ssink
        from arrow_spark.streaming import windows

        spark = ctx.spark
        src = os.path.join(ctx.data_dir, "events.parquet")
        with ctx.clock.timing():
            want = self.reference(ctx.seed)
        rows = want["rows"]
        server = flight.start_flight_server()
        loc = f"grpc://127.0.0.1:{server.port}"
        ctx.extra["close"] = server.shutdown
        state = {"pass": 0}

        def out(kind: str) -> str:
            return os.path.join(ctx.work_dir, f"{kind}-{state['pass']}")

        def events_df():
            return spark.read.parquet(src)

        def checksum(df) -> str | None:
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("ids"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            ).collect()[0]
            got = (r["n"], r["ids"], r["cents"])
            exp = (rows, want["id_sum"], want["cents_sum"])
            return None if got == exp else f"(rows, id sum, cents) {got} != {exp}"

        def arrow_checksum(tbl) -> str | None:
            pdf = tbl.select(["event_id", "value"]).to_pandas()
            got = (len(pdf), int(pdf["event_id"].sum()),
                   int(np.round(pdf["value"].to_numpy() * 100).astype(np.int64).sum()))
            exp = (rows, want["id_sum"], want["cents_sum"])
            return None if got == exp else f"(rows, id sum, cents) {got} != {exp}"

        def read_files(path, fmt):
            import pyarrow as pa
            import pyarrow.dataset as pds

            with ctx.clock.timing():
                if fmt == "parquet":
                    return pds.dataset(path, format="parquet", partitioning="hive").to_table()
                files = []
                for root, _, names in os.walk(path):
                    files += [os.path.join(root, f) for f in names if f.endswith(".arrow")]
                tables = [pa.ipc.open_file(f).read_all() for f in sorted(files)]
                return pa.concat_tables([t.select(["event_id", "value"]) for t in tables])

        # 1. partitioned parquet dataset
        pq_write = Op(
            "parquet_write",
            lambda: dataset.write_dataset(events_df(), out("pq"), partition_by=["event_type"]),
            lambda _df: _named("parquet_write", arrow_checksum(read_files(out("pq"), "parquet"))),
            execute=lambda _df: None, chain="parquet", rows=rows, check_after_execute=True,
        )
        pq_read = Op(
            "parquet_read",
            lambda: dataset.read_dataset(spark, out("pq")),
            lambda df: _named("parquet_read", checksum(df)),
            chain="parquet", rows=rows,
        )
        # 2. Arrow IPC files
        ipc_write = Op(
            "ipc_write",
            lambda: ipc.write_ipc(events_df(), out("ipc")),
            lambda _df: _named("ipc_write", arrow_checksum(read_files(out("ipc"), "ipc"))),
            execute=lambda _df: None, chain="ipc", rows=rows, check_after_execute=True,
        )
        ipc_read = Op(
            "ipc_read",
            lambda: ipc.read_ipc(spark, out("ipc")),
            lambda df: _named("ipc_read", checksum(df)),
            chain="ipc", rows=rows,
        )
        # 3. Flight DoPut / DoGet against the loopback server
        def flight_name() -> str:
            return f"events-{state['pass']}"

        fl_put = Op(
            "flight_put",
            lambda: flight.write_flight(events_df(), loc, flight_name()),
            lambda _df: _named("flight_put", arrow_checksum(server.tables[flight_name()])),
            execute=lambda _df: None, chain="flight", rows=rows, check_after_execute=True,
        )
        fl_get = Op(
            "flight_get",
            lambda: flight.read_flight(spark, loc, flight_name()),
            lambda df: _named("flight_get", checksum(df)),
            chain="flight", rows=rows,
        )
        # 4. file-source stream, drained with availableNow, into the
        # idempotent epoch sink; each epoch holds the complete aggregate
        schema = spark.read.parquet(src).schema

        def stream_build():
            sdf = windows.stream_from_directory(spark, src, schema)
            sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
            agg = windows.tumbling_window_agg(
                sdf, "ts", "1 day", keys=["event_type"],
                aggs=[F.count(F.lit(1)).alias("n"),
                      F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")],
            )
            sink = ssink.idempotent_sink(out("stream"))

            def traced_sink(df, epoch_id):
                with ctx.tracer.span("streaming.sink_batch"):
                    sink(df, epoch_id)

            with ctx.tracer.span("streaming.query"):
                q = (
                    agg.writeStream.outputMode("complete")
                    .option("checkpointLocation", out("stream-ckpt"))
                    .trigger(availableNow=True)
                    .foreachBatch(traced_sink)
                    .start()
                )
                q.awaitTermination()
            ctx.extra["progress"] = [
                json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress
            ]
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return None

        def stream_check(_df):
            epochs = ssink.committed_epochs(spark, out("stream"))
            if not epochs:
                return "stream: no committed epoch"
            last = ssink.read_as_of(spark, out("stream"), epochs[-1])
            got = {
                r["event_type"]: (r["n"], r["cents"])
                for r in last.groupBy("event_type")
                .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
                .collect()
            }
            return _named("stream", None if got == want["per_type"]
                          else f"per-type (rows, cents) {got} != {want['per_type']}")

        stream = Op(
            "stream",
            stream_build,
            stream_check,
            execute=lambda _df: None, rows=rows, check_after_execute=True,
        )

        def next_pass():
            """Drop the previous pass's outputs (untimed) and start fresh
            paths, so every pass writes the same amount."""
            prev = state["pass"]
            for kind in ("pq", "ipc", "stream", "stream-ckpt"):
                shutil.rmtree(os.path.join(ctx.work_dir, f"{kind}-{prev}"), ignore_errors=True)
            server.tables.pop(f"events-{prev}", None)
            state["pass"] += 1

        ctx.extra["next_pass"] = next_pass
        ctx.extra["storage"] = lambda: _storage(out("pq"), out("ipc"))
        return [pq_write, pq_read, ipc_write, ipc_read, fl_put, fl_get, stream]


def _named(name: str, err: str | None) -> str | None:
    return None if err is None else f"{name}: {err}"


def _storage(*dirs: str) -> tuple[int, int]:
    """(data files, bytes) under the given output directories."""
    files = size = 0
    for d in dirs:
        for root, _, names in os.walk(d):
            for f in names:
                if f.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size


WORKLOADS = {w.name: w for w in (Olap, Loops, Ingest)}
