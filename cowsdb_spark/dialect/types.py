"""ClickHouse ↔ Spark type-name mapping (SURVEY.md §1.2).

Forward direction parses DDL column types (CREATE TABLE …); reverse
direction labels result columns with CH type names in the JSON
``meta`` envelope and the Native wire format (reference emits chDB's
names verbatim; ours come from this table).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from .tokenizer import split_text

# CH base type name (upper) → Spark type. Unsigned types widen one
# size so the full unsigned range fits (SURVEY §1.2 hazards).
_CH_TO_SPARK: dict[str, T.DataType] = {
    "UINT8": T.ShortType(),
    "UINT16": T.IntegerType(),
    "UINT32": T.LongType(),
    "UINT64": T.LongType(),  # documented 2^63 caveat; testdata < 2^62
    "INT8": T.ByteType(),
    "INT16": T.ShortType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT32": T.FloatType(),
    "FLOAT64": T.DoubleType(),
    "STRING": T.StringType(),
    "DATE": T.DateType(),
    "DATE32": T.DateType(),
    "DATETIME": T.TimestampType(),
    "DATETIME64": T.TimestampType(),
    "BOOL": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
    "UUID": T.StringType(),
    "IPV4": T.StringType(),
    "IPV6": T.StringType(),
    "JSON": T.StringType(),
}

_WRAPPER_RE = re.compile(r"^(Nullable|LowCardinality)\s*\((.*)\)$", re.IGNORECASE | re.DOTALL)
_PARAM_RE = re.compile(r"^([A-Za-z0-9]+)\s*\((.*)\)$", re.DOTALL)


def ch_type_to_spark(ch: str) -> T.DataType:
    """Parse a ClickHouse type string into a Spark DataType."""
    s = ch.strip()
    m = _WRAPPER_RE.match(s)
    if m:
        return ch_type_to_spark(m.group(2))  # nullability is per-field in Spark
    base = s.upper()
    if base in _CH_TO_SPARK:
        return _CH_TO_SPARK[base]
    m = _PARAM_RE.match(s)
    if m:
        name, args = m.group(1).upper(), m.group(2)
        if name == "ARRAY":
            return T.ArrayType(ch_type_to_spark(args))
        if name == "MAP":
            k, v = split_text(args)
            return T.MapType(ch_type_to_spark(k), ch_type_to_spark(v))
        if name == "TUPLE":
            fields = []
            for i, a in enumerate(split_text(args)):
                parts = a.split(None, 1)
                if len(parts) == 2 and _looks_like_type(parts[1]):
                    fields.append(T.StructField(parts[0], ch_type_to_spark(parts[1])))
                else:
                    fields.append(T.StructField(f"_{i + 1}", ch_type_to_spark(a)))
            return T.StructType(fields)
        if name == "FIXEDSTRING":
            return T.StringType()
        if name == "DECIMAL":
            ps = split_text(args)
            if len(ps) == 2:
                return T.DecimalType(int(ps[0]), int(ps[1]))
            return T.DecimalType(38, int(ps[0]))
        if name in ("DECIMAL32", "DECIMAL64", "DECIMAL128"):
            prec = {"DECIMAL32": 9, "DECIMAL64": 18, "DECIMAL128": 38}[name]
            return T.DecimalType(prec, int(args.strip()))
        if name == "DATETIME":
            return T.TimestampType()
        if name == "DATETIME64":
            return T.TimestampType()
        if name == "ENUM8" or name == "ENUM16":
            return T.StringType()
        if name == "NESTED":
            # CH Nested ≡ parallel arrays per subfield (SURVEY §1.2);
            # we model it as array<struct> for a single column.
            fields = []
            for a in split_text(args):
                fname, ftype = a.split(None, 1)
                fields.append(T.StructField(fname, ch_type_to_spark(ftype)))
            return T.ArrayType(T.StructType(fields))
    raise ValueError(f"unsupported ClickHouse type: {ch!r}")


def _looks_like_type(s: str) -> bool:
    try:
        ch_type_to_spark(s)
        return True
    except ValueError:
        return False


def spark_type_to_ch(dt: T.DataType, nullable: bool = False) -> str:
    """Spark DataType → ClickHouse type name for result metadata."""
    if isinstance(dt, T.ByteType):
        name = "Int8"
    elif isinstance(dt, T.ShortType):
        name = "Int16"
    elif isinstance(dt, T.IntegerType):
        name = "Int32"
    elif isinstance(dt, T.LongType):
        name = "Int64"
    elif isinstance(dt, T.FloatType):
        name = "Float32"
    elif isinstance(dt, T.DoubleType):
        name = "Float64"
    elif isinstance(dt, T.DecimalType):
        name = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.StringType):
        name = "String"
    elif isinstance(dt, T.BooleanType):
        name = "Bool"
    elif isinstance(dt, T.DateType):
        name = "Date"
    elif isinstance(dt, T.TimestampType):
        name = "DateTime"
    elif isinstance(dt, T.BinaryType):
        name = "String"
    elif isinstance(dt, T.ArrayType):
        name = f"Array({spark_type_to_ch(dt.elementType)})"
    elif isinstance(dt, T.MapType):
        name = f"Map({spark_type_to_ch(dt.keyType)}, {spark_type_to_ch(dt.valueType)})"
    elif isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {spark_type_to_ch(f.dataType)}" for f in dt.fields)
        name = f"Tuple({inner})"
    else:
        name = "String"
    if nullable and not isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return f"Nullable({name})"
    return name
