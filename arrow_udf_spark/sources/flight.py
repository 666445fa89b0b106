"""Remote UDF runtime over Arrow Flight (reference A19/A20).

Protocol (re-implemented from the reference's wire behavior, SURVEY.md §3.3;
reference client arrow-udf-runtime/src/remote/mod.rs:102-195, server
arrow-udf-remote/python/arrow_udf/__init__.py:356-436):

- one Flight *exchange* per call: descriptor path = function name; the
  client streams input record batches, the server streams result batches;
- discovery via ``get_flight_info`` / ``list_flights``: the advertised
  schema is the **concatenation of input fields and output fields**, with
  ``total_records`` carrying the number of input arguments (the
  reference's schema-encoding trick, remote/mod.rs:160-195);
- a ``protocol_version`` action for version negotiation
  (remote/mod.rs:53-65).

Spark integration: :func:`remote_scalar` and :func:`remote_table` run the
Flight client *inside* ``mapInArrow`` — each executor task opens one
connection and streams its Arrow batches through the exchange, which is
exactly the reference's process boundary with Spark on the client side.
At cluster scale the server address can be any reachable UDF service;
per-partition connections parallelize the calls.
"""

from __future__ import annotations

import threading
from typing import Iterable, Iterator, Sequence

import pyarrow as pa

try:
    import pyarrow.flight as flight
except ImportError:  # pragma: no cover
    flight = None

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.scalar import ScalarFunction, _eval_arrays
from ..operators.table import TableFunction
from ..plans.registry import Registry

__all__ = [
    "UdfFlightServer",
    "FlightUdfClient",
    "remote_scalar",
    "remote_table",
    "serve_registry",
]

#: single raw byte, NOT ASCII: the reference client reads body[0] as a u8
#: (remote/mod.rs:53-64) and its servers yield b"\x02"
#: (arrow-udf-remote/python/arrow_udf/__init__.py:423-425) — an ASCII "1"
#: would decode as protocol version 49 on a conforming peer
PROTOCOL_VERSION = b"\x02"


def _storage_type(t: pa.DataType) -> pa.DataType:
    """Unwrap Arrow extension types to their storage type (the reference's
    arrowudf.decimal / arrowudf.json are utf8-backed — SURVEY §1.2); Spark
    has no extension types, so the storage type is what crosses into the
    DataFrame schema."""
    return t.storage_type if isinstance(t, pa.ExtensionType) else t


def _unwrap_ext(arr: pa.Array) -> pa.Array:
    """ExtensionArray -> its storage array (no copy)."""
    return arr.storage if isinstance(arr, pa.ExtensionArray) else arr


def _edge_columns(batch: pa.RecordBatch, schema: pa.Schema) -> list[pa.Array]:
    """A request batch's argument columns as the advertised input types:
    extension arrays unwrap to their storage; other types convert by
    value (pyarrow has no cast kernel for some, e.g. ``string_view``)."""
    cols = [_unwrap_ext(batch.column(i)) for i in range(len(schema))]
    return [
        c if c.type == f.type else pa.array(c.to_pylist(), f.type)
        for c, f in zip(cols, schema)
    ]


class _GenericExt(pa.ExtensionType):
    """Stand-in extension type for wire-wrapping when the peer's extension
    class is not importable here: IPC only needs the name + storage."""

    def __init__(self, storage: pa.DataType, name: str):
        super().__init__(storage, name)

    def __arrow_ext_serialize__(self) -> bytes:
        return b""

    @classmethod
    def __arrow_ext_deserialize__(cls, storage_type, serialized):  # pragma: no cover
        return cls(storage_type, "arrowudf.unknown")


def _wrap_for_server(arr: pa.Array, field: pa.Field) -> pa.Array:
    """Wrap a plain storage array as the server's advertised extension type
    so its row loop receives the logical values (e.g. decimal strings must
    arrive as arrowudf.decimal, otherwise ``as_py`` hands the UDF raw
    strings and ``a + b`` silently concatenates).

    Works both when the peer's extension classes are registered in this
    process (field.type IS the ExtensionType) and when they are not (the
    schema deserialized as storage + extension-name metadata under the
    *configured* key (``ARROW:extension:name`` unless re-pointed via
    ``set_extension_metadata_key``) — a generic shim with the same name
    goes on the wire)."""
    if isinstance(arr, pa.ExtensionArray):
        return arr
    t = field.type
    if isinstance(t, pa.ExtensionType):
        storage = arr.cast(t.storage_type) if arr.type != t.storage_type else arr
        return pa.ExtensionArray.from_storage(t, storage)
    from ..plans import types as _pt

    md = field.metadata or {}
    ext_name = md.get(_pt._ext_metadata_key.encode())
    if ext_name is None and _pt._ext_metadata_key != "ARROW:extension:name":
        # a peer that still tags under the Arrow-standard key interops even
        # after this side re-points its own advertising key
        ext_name = md.get(b"ARROW:extension:name")
    if ext_name:
        shim = _GenericExt(t, ext_name.decode())
        storage = arr.cast(t) if arr.type != t else arr
        return pa.ExtensionArray.from_storage(shim, storage)
    return arr


def _spark_to_arrow_field(name: str, dtype: T.DataType, ext: str | None = None) -> pa.Field:
    from pyspark.sql.pandas.types import to_arrow_type

    from ..plans.types import ext_field_metadata

    md = ext_field_metadata(ext)
    return pa.field(name, to_arrow_type(dtype), metadata=md)


class UdfFlightServer(flight.FlightServerBase if flight else object):
    """Arrow Flight server hosting registered scalar and table functions.

    Functions are evaluated with the same evaluators as local execution
    (``_eval_arrays`` for scalars, :meth:`TableFunction.evaluator` for
    table functions): null modes, error column, batched mode and a table
    function's ``batch_fn`` all behave identically whether a function runs
    in-process or remote.
    """

    def __init__(self, location: str = "grpc://127.0.0.1:0"):
        # Loopback by default: the server exposes every registered UDF
        # (including fetch()-style functions, an SSRF primitive) to any peer
        # that can reach the port.  Exposing beyond loopback requires
        # explicitly passing a location AND fronting it with auth/TLS
        # (Flight middleware) — see reference arrow-udf-remote server docs.
        super().__init__(location)
        self._fns: dict[str, ScalarFunction | TableFunction] = {}

    # -- registration ---------------------------------------------------
    def host(self, fns: Iterable) -> None:
        """Serve exactly the scalar and table functions among ``fns``
        (others, e.g. aggregates, are skipped).  The first overload owns
        the bare name; others are reachable by mangled name (mirrors
        Registry.register_sql).  The name map is built aside and swapped
        in with one assignment, so a call in flight sees the old set or
        the new one."""
        named: dict[str, ScalarFunction | TableFunction] = {}
        for f in fns:
            if isinstance(f, (ScalarFunction, TableFunction)):
                named.setdefault(f.sig.name, f)
                named[f.sig.mangled()] = f
        self._fns = named

    def _schemas(self, fn: ScalarFunction | TableFunction) -> tuple[pa.Schema, pa.Schema]:
        # ext-typed fields advertise their extension tag as Arrow field
        # metadata under the configurable key (reference pyarrow.rs:120-133)
        in_fields = [
            _spark_to_arrow_field(f"arg{i}", f.dtype, f.ext)
            for i, f in enumerate(fn.input_fields)
        ]
        out_fields = [
            _spark_to_arrow_field(
                fn.sig.name, fn.result_field.dtype, fn.result_field.ext
            )
        ]
        if isinstance(fn, TableFunction):
            # reference table-fn output shape: (row: int32, value, [error])
            out_fields.insert(0, pa.field("row", pa.int32()))
        if fn.fallible:
            out_fields.append(pa.field("error", pa.string()))
        return pa.schema(in_fields), pa.schema(out_fields)

    # -- Flight handlers ------------------------------------------------
    def get_flight_info(self, context, descriptor):
        in_s, out_s = self._schemas(self._fns[descriptor.path[0].decode()])
        # concat(input, output) fields; total_records = #args (the
        # reference's discovery encoding)
        full = pa.schema(list(in_s) + list(out_s))
        return flight.FlightInfo(
            full, descriptor, [], total_records=len(in_s), total_bytes=-1
        )

    def list_flights(self, context, criteria):
        for name in list(self._fns):
            yield self.get_flight_info(
                context, flight.FlightDescriptor.for_path(name.encode())
            )

    def do_action(self, context, action):
        if action.type == "protocol_version":
            return [PROTOCOL_VERSION]
        raise NotImplementedError(action.type)

    def do_exchange(self, context, descriptor, reader, writer):
        """Evaluate one call with the Spark path's evaluator (a scalar's
        ``_eval_arrays``, a table function's ``evaluator``): Arrow in,
        Arrow out."""
        fn = self._fns[descriptor.path[0].decode()]
        if isinstance(fn, TableFunction):
            return self._exchange_table(fn, reader, writer)
        spec = fn._spec()
        in_s, out_s = self._schemas(fn)
        writer.begin(out_s)
        for chunk in reader:
            out = _eval_arrays(spec, *_edge_columns(chunk.data, in_s))
            res = out.flatten() if fn.fallible else [out]  # value, error
            writer.write_batch(pa.RecordBatch.from_arrays(res, schema=out_s))
        writer.close()

    def _exchange_table(self, tf: TableFunction, reader, writer) -> None:
        """Stream (row, value[, error]) batches from the evaluator of
        ``TableFunction.apply``, fed one input batch at a time with no
        passthrough and ``row_base`` 0, so ``row`` indexes that batch.
        Each output batch goes out under the advertised schema, extension
        metadata included."""
        in_s, out_s = self._schemas(tf)
        evaluate = tf.evaluator()
        writer.begin(out_s)
        for chunk in reader:
            args = _edge_columns(chunk.data, in_s)
            for out in evaluate(args, chunk.data.num_rows):
                writer.write_batch(pa.RecordBatch.from_arrays(out.columns, schema=out_s))
        writer.close()


class FlightUdfClient:
    """Client side of the exchange (reference remote/mod.rs:102-156)."""

    def __init__(self, uri: str):
        self._client = flight.connect(uri)

    def protocol_version(self) -> bytes:
        res = list(self._client.do_action(flight.Action("protocol_version", b"")))
        return res[0].body.to_pybytes()

    def function_info(self, name: str) -> tuple[pa.Schema, int]:
        info = self._client.get_flight_info(
            flight.FlightDescriptor.for_path(name.encode())
        )
        return info.schema, info.total_records

    def list_functions(self) -> list[str]:
        return [
            f.descriptor.path[0].decode() for f in self._client.list_flights()
        ]

    def call(self, name: str, batch: pa.RecordBatch) -> pa.Table:
        desc = flight.FlightDescriptor.for_path(name.encode())
        writer, reader = self._client.do_exchange(desc)
        writer.begin(batch.schema)
        writer.write_batch(batch)
        writer.done_writing()
        out = reader.read_all()
        writer.close()
        return out

    #: table functions share the same exchange wire shape; the result table
    #: is (row, value[, error]) — reference Client::call_table_function
    call_table_function = call

    def close(self) -> None:
        self._client.close()


# ---------------------------------------------------------------------------
# module-level server lifecycle (one per registry object, ephemeral port)
# ---------------------------------------------------------------------------

#: id(registry) -> (registry, server, uri); holding the registry keeps its
#: id from being reused while the server lives (``Registry`` is unhashable)
_servers: dict[int, tuple[Registry, UdfFlightServer, str]] = {}
_lock = threading.Lock()


def serve_registry(registry: Registry, host: str = "127.0.0.1") -> str:
    """Serve every scalar and table function of ``registry`` from a
    background Flight server, started on the first call for this registry
    object; returns its grpc URI.  Every call re-reads ``registry``, so
    functions added or redefined since the last call are served."""
    with _lock:
        if id(registry) not in _servers:
            srv = UdfFlightServer(f"grpc://{host}:0")
            threading.Thread(target=srv.serve, daemon=True).start()
            _servers[id(registry)] = (registry, srv, f"grpc://{host}:{srv.port}")
        _, srv, uri = _servers[id(registry)]
        srv.host(registry.all())
    return uri


def _discover(
    uri: str, name: str, cols: Sequence[str]
) -> tuple[list[pa.Field], list[T.StructField]]:
    """The remote function's advertised input fields and its result fields
    as Spark fields, read from its flight info (input + output fields,
    total_records = arg count); raises ``ValueError`` unless ``cols`` has
    one column per argument.  Extension-typed results (reference
    arrowudf.decimal / arrowudf.json) cross as their storage type (utf8)."""
    from pyspark.sql.pandas.types import from_arrow_type

    disco = FlightUdfClient(uri)
    try:
        full_schema, n_args = disco.function_info(name)
    finally:
        disco.close()
    if n_args != len(cols):
        raise ValueError(f"{name} takes {n_args} args, got {len(cols)}")
    fields = list(full_schema)
    return fields[:n_args], [
        T.StructField(f.name, from_arrow_type(_storage_type(f.type)))
        for f in fields[n_args:]
    ]


def _exchange(
    uri: str, name: str, in_fields: list, n_pt: int, batches: Iterator[pa.RecordBatch]
) -> Iterator[tuple[pa.RecordBatch, pa.Table]]:
    """One partition's calls over one client: each input batch's argument
    columns (those after the ``n_pt`` passthrough columns) are wrapped as
    the advertised input types and sent; yields ``(batch, result)``."""
    client = FlightUdfClient(uri)
    try:
        for batch in batches:
            wrapped = [
                _wrap_for_server(batch.column(n_pt + i), f)
                for i, f in enumerate(in_fields)
            ]
            args = pa.RecordBatch.from_arrays(
                wrapped, names=[f"arg{i}" for i in range(len(in_fields))]
            )
            yield batch, client.call(name, args)
    finally:
        client.close()


def remote_scalar(
    df: DataFrame,
    uri: str,
    name: str,
    cols: Sequence[str],
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Evaluate a remote scalar function over ``df`` via Arrow Flight.

    The result schema is *discovered* from the server's flight info.
    Executors stream their Arrow batches through one ``do_exchange`` per
    partition; results are zipped back onto the passthrough columns.
    """
    in_fields, result_fields = _discover(uri, name, cols)
    n_pt = len(passthrough)
    pt_fields = [T.StructField(c, df.schema[c].dataType) for c in passthrough]
    out_schema = T.StructType(pt_fields + result_fields)

    def gather(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch, result in _exchange(uri, name, in_fields, n_pt, batches):
            res_cols = batch.columns[:n_pt]
            res_cols += [_unwrap_ext(c.combine_chunks()) for c in result.columns]
            yield pa.RecordBatch.from_arrays(res_cols, names=out_schema.names)

    return df.select(*passthrough, *cols).mapInArrow(gather, schema=out_schema)


def remote_table(
    df: DataFrame,
    uri: str,
    name: str,
    cols: Sequence[str],
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Evaluate a remote *table* function over ``df`` via Arrow Flight
    (reference Client::call_table_function, remote/mod.rs:102-156).

    The server streams ``(row, value[, error])`` batches where ``row``
    indexes the input batch; passthrough columns are gathered back onto the
    fan-out with a vectorized ``take`` — no Python row loop on the Spark
    side.  Without passthrough, the batch-local ``row`` index is emitted
    (the reference's exact shape).
    """
    in_fields, result_fields = _discover(uri, name, cols)  # row, value, [error]
    n_pt = len(passthrough)
    pt_fields = [T.StructField(c, df.schema[c].dataType) for c in passthrough]
    out_schema = T.StructType(
        (pt_fields or [T.StructField("row", T.IntegerType())]) + result_fields[1:]
    )

    def gather(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch, result in _exchange(uri, name, in_fields, n_pt, batches):
            row = result.column(0).combine_chunks()
            res_cols = [c.take(row) for c in batch.columns[:n_pt]] or [row]
            res_cols += [_unwrap_ext(c.combine_chunks()) for c in result.columns[1:]]
            yield pa.RecordBatch.from_arrays(res_cols, names=out_schema.names)

    return df.select(*passthrough, *cols).mapInArrow(gather, schema=out_schema)
