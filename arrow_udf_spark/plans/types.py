"""Type system: SQL-ish type strings -> Spark DataTypes + extension tags.

Mirrors the reference's signature type matrix and alias normalization
(reference: arrow-udf-macros/src/types.rs:18-135 and
arrow-udf-remote/python/arrow_udf/__init__.py:501-583) re-expressed for
Spark's type system.  Key differences, by design (SURVEY.md §1.2):

- unsigned ints are widened (uint8->short, uint16->int, uint32->long,
  uint64->decimal(20,0)) because Spark has no unsigned types;
- ``time64`` maps to a long (microseconds since midnight);
- unconstrained ``decimal`` maps to a string column carrying the extension
  tag ``arrowudf.decimal`` (exact arbitrary-precision semantics preserved by
  doing arithmetic with :mod:`decimal` inside UDFs);
- ``json`` maps to a string column tagged ``arrowudf.json``;
- ``pickle`` maps to binary tagged ``arrowudf.pickle`` (opaque agg state);
- ``interval`` maps to ``struct<months:int, days:int, nanos:long>``
  (Arrow MonthDayNano, reference arrow-udf/src/types.rs:31-36).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import types as T

__all__ = [
    "ExtField",
    "parse_type",
    "spark_type_of",
    "struct_type",
    "struct_to_row",
    "EXT_JSON",
    "EXT_DECIMAL",
    "EXT_PICKLE",
    "set_extension_metadata_key",
    "set_extension_value",
    "ext_field_metadata",
]

EXT_JSON = "arrowudf.json"
EXT_DECIMAL = "arrowudf.decimal"
EXT_PICKLE = "arrowudf.pickle"

# ---------------------------------------------------------------------------
# Configurable extension-type metadata (reference set_arrow_extension_key /
# set_json_extension_value et al., arrow-udf-runtime/src/python/pyarrow.rs:
# 120-133, README.md:43-55): hosts that tag ext fields under different
# Arrow metadata keys or values can re-point ours before serving/claiming
# schemas.  Used wherever an ExtField crosses an Arrow schema boundary
# (Flight discovery, IPC sinks).
# ---------------------------------------------------------------------------

_ext_metadata_key = "ARROW:extension:name"
_ext_values = {"json": EXT_JSON, "decimal": EXT_DECIMAL, "pickle": EXT_PICKLE}


def set_extension_metadata_key(key: str) -> None:
    """Change the Arrow field-metadata KEY used for extension tags."""
    global _ext_metadata_key
    _ext_metadata_key = key


def set_extension_value(logical: str, value: str) -> None:
    """Change the metadata VALUE advertised for a logical ext type
    (``json`` / ``decimal`` / ``pickle``)."""
    if logical not in _ext_values:
        raise KeyError(f"unknown extension type: {logical}")
    _ext_values[logical] = value


def ext_field_metadata(ext: Optional[str]) -> Optional[dict]:
    """Arrow field metadata for an ExtField tag, under the configured key.

    Accepts either the logical name (``json``) or a full tag value
    (``arrowudf.json``); returns None for untagged fields.
    """
    if ext is None:
        return None
    for logical, value in _ext_values.items():
        if ext in (logical, value):
            return {_ext_metadata_key: value}
    return {_ext_metadata_key: ext}


@dataclass(frozen=True)
class ExtField:
    """A Spark data type plus an optional logical extension tag.

    The tag is the analogue of Arrow extension-type metadata
    (reference README.md:43-77); Spark schemas don't carry field metadata
    through UDF boundaries, so the registry keeps this sidecar.
    """

    dtype: T.DataType
    ext: Optional[str] = None

    @property
    def simple_string(self) -> str:
        return self.dtype.simpleString()


# alias -> canonical  (reference arrow-udf-macros/src/types.rs:112-135)
_ALIASES = {
    "void": "null",
    "bool": "boolean",
    "tinyint": "int8",
    "smallint": "int16",
    "int2": "int16",
    "int": "int32",
    "int4": "int32",
    "integer": "int32",
    "bigint": "int64",
    "int8_t": "int8",
    "uint1": "uint8",
    "uint2": "uint16",
    "uint4": "uint32",
    "float4": "float32",
    "real": "float32",
    "float": "float32",
    "float8": "float64",
    "double": "float64",
    "double precision": "float64",
    "date": "date32",
    "time": "time64",
    "time64": "time64",
    "datetime": "timestamp",
    "numeric": "decimal",
    "jsonb": "json",
    "varchar": "string",
    "text": "string",
    "char": "string",
    "bytea": "binary",
    "varbinary": "binary",
    "largeutf8": "largestring",
    "largebinary": "largebinary",
    # reference server spellings (__init__.py:501-583)
    "large_string": "largestring",
    "large_binary": "largebinary",
    "time without time zone": "time64",
    "timestamp without time zone": "timestamp",
}

_SIMPLE: dict[str, ExtField] = {
    "null": ExtField(T.NullType()),
    "boolean": ExtField(T.BooleanType()),
    "int8": ExtField(T.ByteType()),
    "int16": ExtField(T.ShortType()),
    "int32": ExtField(T.IntegerType()),
    "int64": ExtField(T.LongType()),
    # unsigned: widen to the next signed type that can hold the full range
    "uint8": ExtField(T.ShortType()),
    "uint16": ExtField(T.IntegerType()),
    "uint32": ExtField(T.LongType()),
    "uint64": ExtField(T.DecimalType(20, 0)),
    "float32": ExtField(T.FloatType()),
    "float64": ExtField(T.DoubleType()),
    "date32": ExtField(T.DateType()),
    "time64": ExtField(T.LongType()),  # micros since midnight
    "timestamp": ExtField(T.TimestampNTZType()),
    "interval": ExtField(
        T.StructType(
            [
                T.StructField("months", T.IntegerType()),
                T.StructField("days", T.IntegerType()),
                T.StructField("nanos", T.LongType()),
            ]
        )
    ),
    "string": ExtField(T.StringType()),
    "largestring": ExtField(T.StringType()),
    "binary": ExtField(T.BinaryType()),
    "largebinary": ExtField(T.BinaryType()),
    "decimal": ExtField(T.StringType(), EXT_DECIMAL),
    "json": ExtField(T.StringType(), EXT_JSON),
    "pickle": ExtField(T.BinaryType(), EXT_PICKLE),
}


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at bracket depth 0 (for struct/map internals)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def parse_type(s: str) -> ExtField:
    """Parse a reference-style type string into an :class:`ExtField`.

    Supports: simple types + aliases, ``T[]`` lists, ``struct<a:t,...>``,
    ``map<k,v>``, ``decimal(p,s)``, and trailing nullability is implicit
    (everything nullable, like Arrow).
    """
    s = s.strip()
    low = s.lower()

    # list: T[] (possibly nested)
    if low.endswith("[]"):
        inner = parse_type(s[:-2])
        return ExtField(T.ArrayType(inner.dtype), None)

    # largelist<T> / large_list<T> / list<T>: Arrow's size distinction is
    # internal — all map to Spark ArrayType (reference runtime converters
    # pyarrow.rs:208-216 treat LargeList as List at the value level)
    for prefix in ("largelist<", "large_list<", "list<"):
        if low.startswith(prefix) and low.endswith(">"):
            inner = parse_type(s[len(prefix) : -1])
            return ExtField(T.ArrayType(inner.dtype), None)

    # struct<name:type,...> or struct<type,...> (anonymous field names f0..)
    if low.startswith("struct<") and low.endswith(">"):
        body = s[len("struct<") : -1]
        fields = []
        for i, part in enumerate(_split_top(body)):
            if ":" in part.split("<")[0]:
                name, _, tstr = part.partition(":")
            else:
                name, tstr = f"f{i}", part
            fields.append(T.StructField(name.strip(), parse_type(tstr).dtype))
        return ExtField(T.StructType(fields))

    if low.startswith("map<") and low.endswith(">"):
        k, v = _split_top(s[len("map<") : -1])
        return ExtField(T.MapType(parse_type(k).dtype, parse_type(v).dtype))

    # decimal(p,s) -> native Spark decimal (bounded); bare decimal -> ext
    # string.  Single-arg DECIMAL(p) means scale 0 (reference
    # __init__.py:556-563).
    if low.startswith("decimal(") or low.startswith("numeric("):
        body = s[s.index("(") + 1 : s.rindex(")")]
        parts = [int(x) for x in body.split(",")]
        p, sc = (parts[0], parts[1]) if len(parts) == 2 else (parts[0], 0)
        return ExtField(T.DecimalType(p, sc))

    canon = _ALIASES.get(low, low)
    if canon in _SIMPLE:
        return _SIMPLE[canon]
    if low in _NAMED_STRUCTS:
        return _NAMED_STRUCTS[low]
    raise ValueError(f"unsupported type string: {s!r}")


def spark_type_of(s: str) -> T.DataType:
    return parse_type(s).dtype


# ---------------------------------------------------------------------------
# user-defined named struct types (reference #[derive(StructType)],
# arrow-udf-macros/src/struct_type.rs:22-104; the reference exports each as
# an ``arrowudt_<b64>`` symbol — here the registry plays that role and type
# strings may use the class name directly: ``result_type="KeyValue"``)
# ---------------------------------------------------------------------------

_NAMED_STRUCTS: dict[str, ExtField] = {}


def struct_type(cls: type) -> type:
    """Class decorator registering a named struct type.

    Field types come from class annotations written as reference type
    strings (any string :func:`parse_type` accepts, including other named
    structs declared earlier)::

        @struct_type
        class KeyValue:
            key: "string"
            value: "string"

    After registration, ``"KeyValue"`` is a valid ``result_type`` /
    ``input_types`` entry, and UDFs may return instances of the class, a
    dict, or None (reference allows class-or-dict returns,
    arrow-udf-runtime/tests/python.rs:489-569).
    """
    ann = getattr(cls, "__annotations__", None)
    if not ann:
        raise ValueError(f"@struct_type class {cls.__name__} has no annotated fields")
    fields = [
        T.StructField(fname, parse_type(tstr).dtype) for fname, tstr in ann.items()
    ]
    ext = ExtField(T.StructType(fields))
    _NAMED_STRUCTS[cls.__name__.lower()] = ext
    cls.spark_type = ext.dtype  # type: ignore[attr-defined]

    if "__init__" not in cls.__dict__:
        field_names = list(ann)

        def __init__(self, *args, **kwargs):  # noqa: N807
            for fname, v in zip(field_names, args):
                setattr(self, fname, v)
            for fname, v in kwargs.items():
                setattr(self, fname, v)

        cls.__init__ = __init__  # type: ignore[assignment]
    return cls


def struct_to_row(v, names: list[str]) -> dict:
    """Normalize a UDF struct return (dict | registered class instance |
    Row-like | plain tuple or list, read positionally) to a field dict;
    None-safe."""
    if v is None:
        return dict.fromkeys(names)
    if isinstance(v, dict):
        return v
    if hasattr(v, "asDict"):
        return v.asDict()
    if isinstance(v, (tuple, list)) and not hasattr(v, "_fields"):
        if len(v) != len(names):
            raise ValueError(
                f"struct result has {len(v)} values, expected {len(names)}: "
                f"({', '.join(names)})"
            )
        return dict(zip(names, v))
    return {n: getattr(v, n, None) for n in names}


#: wildcard families for signature expansion
#: (reference arrow-udf-macros/src/types.rs:138-151, parse.rs:24-100)
WILDCARDS: dict[str, list[str]] = {
    "int*": ["int8", "int16", "int32", "int64"],
    "uint*": ["uint8", "uint16", "uint32", "uint64"],
    "float*": ["float32", "float64"],
    "*int": ["int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"],
    "number*": [
        "int8",
        "int16",
        "int32",
        "int64",
        "float32",
        "float64",
    ],
}


def expand_signature(
    input_types: list[str], result_type: str
) -> list[tuple[list[str], str]]:
    """Expand wildcard type strings into concrete signatures.

    All occurrences of the *same* wildcard bind to the same concrete type
    per expansion (so ``gcd(int*, int*) -> int*`` yields 4 signatures, not
    64) — matching the reference's expansion semantics.
    """
    wilds = sorted(
        {t for t in input_types + [result_type] if t in WILDCARDS}
    )
    if not wilds:
        return [(input_types, result_type)]
    out: list[tuple[list[str], str]] = []

    def rec(i: int, binding: dict[str, str]) -> None:
        if i == len(wilds):
            ins = [binding.get(t, t) for t in input_types]
            res = binding.get(result_type, result_type)
            out.append((ins, res))
            return
        for concrete in WILDCARDS[wilds[i]]:
            binding[wilds[i]] = concrete
            rec(i + 1, binding)
        del binding[wilds[i]]

    rec(0, {})
    return out
