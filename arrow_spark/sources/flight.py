"""Arrow Flight RPC source/sink.

Reference: cpp/src/arrow/flight/client.h (FlightClient), server.h:248-311
(ListFlights/GetFlightInfo/DoGet/DoPut). Spark-first shape: GetFlightInfo
returns N endpoints; each endpoint's ticket becomes one Spark task that
opens its own DoGet stream inside mapInArrow — the natural mapping of
Flight's horizontal-scalability contract onto Spark partitions. A task
cannot be finer than an endpoint (tickets are opaque, the server defines
the split), so parallelism == server-advertised endpoints by design.

pyarrow.flight may be absent in minimal builds, so everything is
import-guarded; tests/test_flight.py exercises DoGet/DoPut/ListFlights
end-to-end against an in-process FlightServerBase loopback server.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arrow_spark.sources._units import map_units


def _flight():
    try:
        import pyarrow.flight as flight  # noqa: PLC0415

        return flight
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "pyarrow.flight is not available in this environment; "
            "read_flight requires a pyarrow build with Flight enabled"
        ) from e


def _call_options(token: str | None):
    """FlightCallOptions carrying a bearer token (server.h:248-311 auth
    handler surface, client side). None → default options."""
    flight = _flight()
    if token is None:
        return None
    return flight.FlightCallOptions(
        headers=[(b"authorization", f"Bearer {token}".encode())]
    )


def _server_middleware(token: str | None) -> dict:
    """Server side of the same contract: every RPC must carry
    ``authorization: Bearer <token>`` or is rejected with UNAUTHENTICATED
    before the handler body runs. No token → no middleware."""
    if not token:
        return {}
    flight = _flight()
    want = f"Bearer {token}"

    class _BearerMiddlewareFactory(flight.ServerMiddlewareFactory):
        def start_call(self, info, headers):
            got = headers.get("authorization") or headers.get("Authorization") or []
            if want not in got:
                raise flight.FlightUnauthenticatedError("missing or invalid bearer token")

    return {"auth": _BearerMiddlewareFactory()}


def list_flights(location: str, token: str | None = None) -> list[dict]:
    """ListFlights (server.h:248): driver-side catalog listing — one dict
    per advertised flight: path, row/byte totals, endpoint count."""
    flight = _flight()
    client = flight.connect(location)
    out = []
    for info in client.list_flights(options=_call_options(token)):
        out.append(
            {
                "path": [p.decode() for p in info.descriptor.path],
                "total_records": info.total_records,
                "total_bytes": info.total_bytes,
                "endpoints": len(info.endpoints),
            }
        )
    return out


def start_flight_server(
    dfs: dict[str, DataFrame] | None = None,
    rows_per_endpoint: int = 65536,
    location: str = "grpc://127.0.0.1:0",
    auth_token: str | None = None,
):
    """Serve engine results over Flight (server.h:248-311 — SURVEY §2.3's
    'Flight server exposing our engine' stretch goal).

    Result sets — not raw corpora — are the serving unit: each
    registered DataFrame is materialized to Arrow on the driver (results
    are aggregates/samples by construction; raw 100 TB stays in the
    lake) and advertised with one endpoint per ``rows_per_endpoint``
    chunk, so any Flight client — including this repo's read_flight,
    which maps endpoints to Spark tasks — streams it in parallel.
    DoPut uploads register new tables (retrievable via
    ``server.tables[name]`` or served right back), making the server a
    lightweight exchange point between engines. DoAction 'list' returns
    the catalog; 'drop' unregisters.

    ``auth_token`` enables bearer auth (server.h:248-311 auth-handler
    parity): every RPC must carry ``authorization: Bearer <token>`` or is
    rejected with UNAUTHENTICATED before the handler body runs — the
    middleware sees only headers, never payloads.

    Returns the started server (daemon thread); call ``.shutdown()``.
    """
    import threading

    flight = _flight()
    import pyarrow as pa

    class _EngineFlightServer(flight.FlightServerBase):
        def __init__(self):
            super().__init__(location, middleware=_server_middleware(auth_token))
            self.tables: dict[str, pa.Table] = {}
            # DoPut arrives on one gRPC stream PER UPLOADING PARTITION —
            # concurrent read-modify-writes on the same name lose batches
            # without this lock
            self._put_lock = threading.Lock()

        def register(self, name: str, df: DataFrame) -> None:
            self.tables[name] = df.toArrow()

        def _info(self, descriptor):
            name = descriptor.path[0].decode()
            tbl = self.tables[name]
            endpoints = []
            for lo in range(0, max(tbl.num_rows, 1), rows_per_endpoint):
                hi = min(tbl.num_rows, lo + rows_per_endpoint)
                endpoints.append(
                    flight.FlightEndpoint(
                        flight.Ticket(f"{name}:{lo}:{hi}".encode()),
                        [f"grpc://127.0.0.1:{self.port}"],
                    )
                )
            return flight.FlightInfo(tbl.schema, descriptor, endpoints, tbl.num_rows, -1)

        def get_flight_info(self, context, descriptor):
            return self._info(descriptor)

        def list_flights(self, context, criteria):
            for name in sorted(self.tables):
                yield self._info(flight.FlightDescriptor.for_path(name))

        def do_get(self, context, ticket):
            name, lo, hi = ticket.ticket.decode().split(":")
            tbl = self.tables[name]
            return flight.RecordBatchStream(tbl.slice(int(lo), int(hi) - int(lo)))

        def do_put(self, context, descriptor, reader, writer):
            name = descriptor.path[0].decode()
            incoming = reader.read_all()
            with self._put_lock:
                existing = self.tables.get(name)
                self.tables[name] = (
                    pa.concat_tables([existing, incoming])
                    if existing is not None
                    else incoming
                )

        def do_action(self, context, action):
            if action.type == "list":
                return [flight.Result(n.encode()) for n in sorted(self.tables)]
            if action.type == "drop":
                self.tables.pop(action.body.to_pybytes().decode(), None)
                return []
            raise NotImplementedError(f"action {action.type!r}")

    srv = _EngineFlightServer()
    for name, df in (dfs or {}).items():
        srv.register(name, df)
    threading.Thread(target=srv.serve, daemon=True).start()
    return srv


def do_action(
    location: str, action_type: str, body: bytes = b"", token: str | None = None
) -> list[bytes]:
    """DoAction (server.h:248-311): fire an opaque server action from the
    driver and collect its result payloads (admin/metadata ops —
    compaction triggers, cache drops, health checks)."""
    flight = _flight()
    client = flight.connect(location)
    return [
        r.body.to_pybytes()
        for r in client.do_action((action_type, body), options=_call_options(token))
    ]


def exchange_flight(
    df: DataFrame, location: str, descriptor_path: str, out_schema,
    token: str | None = None,
) -> DataFrame:
    """DoExchange: stream each partition to the server and read the
    server's transformed stream back — remote compute as a relational
    operator. One bidirectional gRPC stream per partition; rows never
    pass through the driver. ``out_schema`` is the server's declared
    output schema (DDL string or StructType)."""
    _flight()

    def exchange_partition(batches):
        import pyarrow.flight as fl

        client = fl.connect(location)
        descriptor = fl.FlightDescriptor.for_path(descriptor_path)
        opts = (
            fl.FlightCallOptions(
                headers=[(b"authorization", f"Bearer {token}".encode())]
            )
            if token is not None
            else None
        )
        writer, reader = client.do_exchange(descriptor, options=opts)
        batches = iter(batches)
        try:
            first = next(batches)
        except StopIteration:
            return
        with writer:
            writer.begin(first.schema)
            writer.write_batch(first)
            for b in batches:
                writer.write_batch(b)
            writer.done_writing()
            for chunk in reader:
                if chunk.data is not None:
                    yield chunk.data

    return df.mapInArrow(exchange_partition, schema=out_schema)


def read_flight_info(
    spark: SparkSession, info, location: str, token: str | None = None
) -> DataFrame:
    """Endpoint-parallel read of an already-fetched FlightInfo: one task
    per unit, no shuffle — each endpoint is one Spark task running
    DoGet(ticket) inside mapInArrow. Shared by
    read_flight (path descriptors) and flight_sql (command descriptors).
    """
    _flight()
    from pyspark.sql.pandas.types import from_arrow_schema

    from arrow_spark.types import normalize_arrow_schema

    # the same §1.2 type adapters as the IPC source: unsigned ints widen,
    # time types land as µs longs, etc. — a Flight server is free to
    # serve any Arrow type, Spark is not free to ingest them all.
    norm_schema, _changed = normalize_arrow_schema(info.schema)
    spark_schema = from_arrow_schema(norm_schema)
    endpoints = [
        (
            ep.ticket.serialize(),
            ep.locations[0].uri.decode() if ep.locations else location,
        )
        for ep in info.endpoints
    ]

    def read_endpoint(endpoint):
        import pyarrow.flight as fl

        from arrow_spark.types import normalize_arrow_schema, normalize_batch

        raw, loc = endpoint
        opts = (
            fl.FlightCallOptions(
                headers=[(b"authorization", f"Bearer {token}".encode())]
            )
            if token is not None
            else None
        )
        reader = fl.connect(loc).do_get(fl.Ticket.deserialize(raw), options=opts)
        for chunk in reader:
            tgt, changed = normalize_arrow_schema(chunk.data.schema)
            yield normalize_batch(chunk.data, tgt) if changed else chunk.data

    return map_units(spark, endpoints, read_endpoint, spark_schema)


def read_flight(
    spark: SparkSession, location: str, descriptor_path: str, token: str | None = None
) -> DataFrame:
    """Read a Flight dataset: one Spark task per Flight endpoint.

    GetFlightInfo happens on the driver (metadata only); each task opens
    DoGet(ticket) against the endpoint's preferred location and streams
    RecordBatches through mapInArrow. ``token`` rides along to every
    executor task as a closure constant (bearer-auth servers).
    """
    flight = _flight()
    client = flight.connect(location)
    descriptor = flight.FlightDescriptor.for_path(descriptor_path)
    info = client.get_flight_info(descriptor, options=_call_options(token))
    return read_flight_info(spark, info, location, token)


def write_flight(
    df: DataFrame, location: str, descriptor_path: str, token: str | None = None
) -> None:
    """DoPut: one upload stream per partition."""
    _flight()
    schema_df = df

    def put_partition(batches):
        import pyarrow as pa
        import pyarrow.flight as fl

        client = fl.connect(location)
        descriptor = fl.FlightDescriptor.for_path(descriptor_path)
        opts = (
            fl.FlightCallOptions(
                headers=[(b"authorization", f"Bearer {token}".encode())]
            )
            if token is not None
            else None
        )
        writer = None
        try:
            for b in batches:
                if writer is None:
                    writer, _ = client.do_put(descriptor, b.schema, options=opts)
                writer.write_batch(b)
        finally:
            if writer is not None:
                writer.close()
        count_schema = pa.schema([pa.field("written", pa.int64())])
        yield pa.RecordBatch.from_pylist([{"written": 1}], schema=count_schema)

    sink_schema = T.StructType([T.StructField("written", T.LongType(), True)])
    schema_df.mapInArrow(put_partition, schema=sink_schema).write.format("noop").mode(
        "overwrite"
    ).save()
