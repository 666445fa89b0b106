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

Spark integration: :func:`remote_scalar` runs the Flight client *inside*
``mapInArrow`` — each executor task opens one connection and streams its
Arrow batches through the exchange, which is exactly the reference's
process boundary with Spark on the client side.  At cluster scale the
server address can be any reachable UDF service; per-partition connections
parallelize the calls.
"""

from __future__ import annotations

import threading
from typing import Iterator, Optional, Sequence

import pyarrow as pa

try:
    import pyarrow.flight as flight
except ImportError:  # pragma: no cover
    flight = None

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.scalar import ScalarFunction, _eval_arrays, to_arrow
from ..operators.table import TableFunction, _fan_out, _sync_gen
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
    """Arrow Flight server hosting registered scalar functions.

    Functions are evaluated with the same batch-eval core as local
    execution (null modes, error column, batched mode all behave
    identically whether a function runs in-process or remote).
    """

    def __init__(self, location: str = "grpc://127.0.0.1:0"):
        # Loopback by default: the server exposes every registered UDF
        # (including fetch()-style functions, an SSRF primitive) to any peer
        # that can reach the port.  Exposing beyond loopback requires
        # explicitly passing a location AND fronting it with auth/TLS
        # (Flight middleware) — see reference arrow-udf-remote server docs.
        super().__init__(location)
        self._fns: dict[str, ScalarFunction] = {}
        self._tfs: dict[str, TableFunction] = {}

    # -- registration ---------------------------------------------------
    def add_function(self, fn: ScalarFunction) -> None:
        # first overload owns the bare name; others are reachable by
        # mangled name (mirrors Registry.register_sql)
        self._fns.setdefault(fn.sig.name, fn)
        self._fns[fn.sig.mangled()] = fn

    def add_table_function(self, tf: TableFunction) -> None:
        """Host a set-returning function (reference call_table_function,
        remote/mod.rs:102-156; server @udtf, __init__.py:150-205)."""
        self._tfs.setdefault(tf.sig.name, tf)
        self._tfs[tf.sig.mangled()] = tf

    def _schemas(self, fn: ScalarFunction) -> tuple[pa.Schema, pa.Schema]:
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
        if fn.fallible:
            out_fields.append(pa.field("error", pa.string()))
        return pa.schema(in_fields), pa.schema(out_fields)

    def _tf_schemas(self, tf: TableFunction) -> tuple[pa.Schema, pa.Schema]:
        in_fields = [
            _spark_to_arrow_field(f"arg{i}", f.dtype, f.ext)
            for i, f in enumerate(tf.input_fields)
        ]
        # reference table-fn output shape: (row: int32, value, [error])
        out_fields = [
            pa.field("row", pa.int32()),
            _spark_to_arrow_field(
                tf.sig.name, tf.result_field.dtype, tf.result_field.ext
            ),
        ]
        if tf.fallible:
            out_fields.append(pa.field("error", pa.string()))
        return pa.schema(in_fields), pa.schema(out_fields)

    # -- Flight handlers ------------------------------------------------
    def get_flight_info(self, context, descriptor):
        name = descriptor.path[0].decode()
        if name in self._tfs:
            in_s, out_s = self._tf_schemas(self._tfs[name])
        else:
            fn = self._fns[name]
            in_s, out_s = self._schemas(fn)
        # concat(input, output) fields; total_records = #args (the
        # reference's discovery encoding)
        full = pa.schema(list(in_s) + list(out_s))
        return flight.FlightInfo(
            full, descriptor, [], total_records=len(in_s), total_bytes=-1
        )

    def list_flights(self, context, criteria):
        for name in list(self._fns) + list(self._tfs):
            yield self.get_flight_info(
                context, flight.FlightDescriptor.for_path(name.encode())
            )

    def do_action(self, context, action):
        if action.type == "protocol_version":
            return [PROTOCOL_VERSION]
        raise NotImplementedError(action.type)

    def do_exchange(self, context, descriptor, reader, writer):
        """Evaluate one call with the executor-side core of the Spark
        path (``_eval_arrays``): Arrow in, Arrow out."""
        name = descriptor.path[0].decode()
        if name in self._tfs:
            return self._exchange_table(self._tfs[name], reader, writer)
        fn = self._fns[name]
        spec = fn._spec()
        in_s, out_s = self._schemas(fn)
        writer.begin(out_s)
        for chunk in reader:
            out = _eval_arrays(spec, *_edge_columns(chunk.data, in_s))
            res = out.flatten() if fn.fallible else [out]  # value, error
            writer.write_batch(pa.RecordBatch.from_arrays(res, schema=out_s))
        writer.close()

    def _exchange_table(self, tf: TableFunction, reader, writer) -> None:
        """Stream (row, value[, error]) batches: the row loop of
        ``TableFunction.apply`` fed one input batch at a time, so ``row``
        indexes that batch, re-chunked at the function's chunk size (the
        reference BATCH_SIZE, codegen_utils.rs:634-667)."""
        in_s, out_s = self._tf_schemas(tf)
        fn = _sync_gen(tf.fn)
        writer.begin(out_s)
        for chunk in reader:
            batch = chunk.data
            args = _edge_columns(batch, in_s)
            for src, vals, errs in _fan_out(
                fn, args, batch.num_rows, tf.chunk_size, tf.fallible
            ):
                arrays = [
                    pa.array(src, pa.int32()),
                    to_arrow(vals, out_s.field(1).type, len(vals)),
                ]
                if tf.fallible:
                    arrays.append(pa.array(errs, pa.string()))
                writer.write_batch(pa.RecordBatch.from_arrays(arrays, schema=out_s))
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
# module-level server lifecycle (one per driver process, ephemeral port)
# ---------------------------------------------------------------------------

_server: Optional[UdfFlightServer] = None
_server_uri: Optional[str] = None
_lock = threading.Lock()


def serve_registry(registry: Registry, host: str = "127.0.0.1") -> str:
    """Start (once) a background Flight server hosting every scalar function
    of ``registry``; returns its grpc URI."""
    global _server, _server_uri
    with _lock:
        if _server_uri is None:
            srv = UdfFlightServer(f"grpc://{host}:0")
            for f in registry.all():
                if isinstance(f, ScalarFunction):
                    srv.add_function(f)
                elif isinstance(f, TableFunction):
                    srv.add_table_function(f)
            threading.Thread(target=srv.serve, daemon=True).start()
            _server = srv
            _server_uri = f"grpc://{host}:{srv.port}"
    return _server_uri


def remote_scalar(
    df: DataFrame,
    uri: str,
    name: str,
    cols: Sequence[str],
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Evaluate a remote scalar function over ``df`` via Arrow Flight.

    The result schema is *discovered* from the server's flight info (its
    advertised schema is input fields + output fields, with total_records
    = arg count).  Executors stream their Arrow batches through one
    ``do_exchange`` per partition; results are zipped back onto the
    passthrough columns.
    """
    from pyspark.sql.pandas.types import from_arrow_type

    cols = list(cols)
    passthrough = list(passthrough)

    disco = FlightUdfClient(uri)
    full_schema, n_args = disco.function_info(name)
    disco.close()
    if n_args != len(cols):
        raise ValueError(f"{name} takes {n_args} args, got {len(cols)}")
    in_fields = list(full_schema)[:n_args]
    result_fields = list(full_schema)[n_args:]

    # extension-typed fields (reference arrowudf.decimal / arrowudf.json)
    # cross into Spark as their storage type (utf8)
    out_fields = [T.StructField(c, df.schema[c].dataType) for c in passthrough]
    out_fields.extend(
        T.StructField(f.name, from_arrow_type(_storage_type(f.type)))
        for f in result_fields
    )
    out_schema = T.StructType(out_fields)
    n_pt = len(passthrough)

    def exchange(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = FlightUdfClient(uri)
        try:
            for batch in batches:
                wrapped = [
                    _wrap_for_server(batch.column(n_pt + i), in_fields[i])
                    for i in range(len(cols))
                ]
                args = pa.RecordBatch.from_arrays(
                    wrapped, names=[f"arg{i}" for i in range(len(cols))]
                )
                result = client.call(name, args)
                res_cols = [batch.column(i) for i in range(n_pt)]
                res_cols.extend(
                    _unwrap_ext(result.column(i).combine_chunks())
                    for i in range(result.num_columns)
                )
                yield pa.RecordBatch.from_arrays(
                    res_cols, names=[f.name for f in out_fields]
                )
        finally:
            client.close()

    return df.select(*(passthrough + cols)).mapInArrow(exchange, schema=out_schema)


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
    from pyspark.sql.pandas.types import from_arrow_type

    cols = list(cols)
    passthrough = list(passthrough)

    disco = FlightUdfClient(uri)
    full_schema, n_args = disco.function_info(name)
    disco.close()
    if n_args != len(cols):
        raise ValueError(f"{name} takes {n_args} args, got {len(cols)}")
    in_fields = list(full_schema)[:n_args]
    result_fields = list(full_schema)[n_args:]  # row, value, [error]
    value_fields = result_fields[1:]

    if passthrough:
        out_fields = [T.StructField(c, df.schema[c].dataType) for c in passthrough]
    else:
        out_fields = [T.StructField("row", T.IntegerType())]
    out_fields.extend(
        T.StructField(f.name, from_arrow_type(_storage_type(f.type)))
        for f in value_fields
    )
    out_schema = T.StructType(out_fields)
    n_pt = len(passthrough)

    def exchange(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        client = FlightUdfClient(uri)
        try:
            for batch in batches:
                wrapped = [
                    _wrap_for_server(batch.column(n_pt + i), in_fields[i])
                    for i in range(len(cols))
                ]
                args = pa.RecordBatch.from_arrays(
                    wrapped, names=[f"arg{i}" for i in range(len(cols))]
                )
                result = client.call_table_function(name, args)
                row_idx = result.column(0).combine_chunks()
                if passthrough:
                    res_cols = [
                        batch.column(i).take(row_idx) for i in range(n_pt)
                    ]
                else:
                    res_cols = [row_idx]
                res_cols.extend(
                    _unwrap_ext(result.column(i).combine_chunks())
                    for i in range(1, result.num_columns)
                )
                yield pa.RecordBatch.from_arrays(
                    res_cols, names=[f.name for f in out_fields]
                )
        finally:
            client.close()

    return df.select(*(passthrough + cols)).mapInArrow(exchange, schema=out_schema)
