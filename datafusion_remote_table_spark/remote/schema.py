"""Remote type → Spark type mapping and schema inference.

Parity: /root/reference/remote-table/src/schema.rs — `RemoteType` maps
each backend's native types to Arrow; here they map to Spark SQL types.
The mapping tables cover the README's supported-type matrix (Postgres /
MySQL / Oracle / SQLite / DM / GaussDB / MDB) so a user-specified remote
schema round-trips; live inference uses duckdb's DESCRIBE, or a
100-row type sample where the driver reports no metadata (sqlite query
sources).
"""

from __future__ import annotations

import datetime as _datetime
import decimal as _decimal
import re

from pyspark.sql import types as T

# Normalized type-name → Spark type. Parametrized names are matched after
# stripping their arguments, except decimal/numeric which keep precision.
_BASE = {
    # integers
    "TINYINT": T.ByteType(),
    "INT1": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT2": T.ShortType(),
    "MEDIUMINT": T.IntegerType(),
    "INT": T.IntegerType(),
    "INT4": T.IntegerType(),
    "INTEGER": T.LongType(),  # sqlite INTEGER is 64-bit (schema.rs Sqlite::Integer -> Int64)
    "BIGINT": T.LongType(),
    "INT8": T.LongType(),
    "TINYINT UNSIGNED": T.ShortType(),
    "SMALLINT UNSIGNED": T.IntegerType(),
    "MEDIUMINT UNSIGNED": T.IntegerType(),
    "INT UNSIGNED": T.LongType(),
    "INTEGER UNSIGNED": T.LongType(),
    "BIGINT UNSIGNED": T.DecimalType(20, 0),
    "YEAR": T.ShortType(),
    "OID": T.LongType(),
    # floats
    "FLOAT4": T.FloatType(),
    "REAL": T.DoubleType(),  # sqlite REAL is f64
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "DOUBLE PRECISION": T.DoubleType(),
    "FLOAT8": T.DoubleType(),
    "BINARY_FLOAT": T.FloatType(),
    "BINARY_DOUBLE": T.DoubleType(),
    # strings
    "CHAR": T.StringType(),
    "NCHAR": T.StringType(),
    "BPCHAR": T.StringType(),
    "VARCHAR": T.StringType(),
    "VARCHAR2": T.StringType(),
    "NVARCHAR2": T.StringType(),
    "NAME": T.StringType(),
    "TEXT": T.StringType(),
    "TINYTEXT": T.StringType(),
    "MEDIUMTEXT": T.StringType(),
    "LONGTEXT": T.StringType(),
    "CLOB": T.StringType(),
    "NCLOB": T.StringType(),
    "LONG": T.StringType(),
    "STRING": T.StringType(),
    "JSON": T.StringType(),
    "JSONB": T.StringType(),
    "XML": T.StringType(),
    "UUID": T.StringType(),
    "ENUM": T.StringType(),
    # binary
    "BYTEA": T.BinaryType(),
    "BINARY": T.BinaryType(),
    "VARBINARY": T.BinaryType(),
    "TINYBLOB": T.BinaryType(),
    "BLOB": T.BinaryType(),
    "MEDIUMBLOB": T.BinaryType(),
    "LONGBLOB": T.BinaryType(),
    "RAW": T.BinaryType(),
    "LONG RAW": T.BinaryType(),
    "IMAGE": T.BinaryType(),
    "GEOMETRY": T.BinaryType(),
    # temporal
    "DATE": T.DateType(),
    "TIME": T.StringType(),  # Spark has no time-of-day type; keep lexical
    "DATETIME": T.TimestampNTZType(),
    "TIMESTAMP": T.TimestampNTZType(),
    "TIMESTAMPTZ": T.TimestampType(),
    "TIMESTAMP WITH TIME ZONE": T.TimestampType(),
    "INTERVAL": T.DayTimeIntervalType(),
    # bool / misc
    "BOOL": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
    "BIT": T.BooleanType(),
    "NULL": T.NullType(),
    "HUGEINT": T.DecimalType(38, 0),
    "UBIGINT": T.DecimalType(20, 0),
    "UINTEGER": T.LongType(),
    "USMALLINT": T.IntegerType(),
    "UTINYINT": T.ShortType(),
    # MDB / Access display names (schema.rs MdbType::to_string)
    "BYTE": T.ByteType(),
    "SMALL INTEGER": T.ShortType(),
    "LONG INTEGER": T.IntegerType(),
    "CURRENCY": T.DecimalType(19, 4),
    "MEMO": T.StringType(),
    "OLE OBJECT": T.BinaryType(),
    "GUID": T.BinaryType(),  # Spark has no fixed-size binary; plain binary
}

_DECIMAL_RE = re.compile(r"^(?:DECIMAL|NUMERIC|NUMBER|DEC)\s*(?:\((\d+)\s*(?:,\s*(-?\d+))?\))?$")
_PARAM_RE = re.compile(r"^([A-Z0-9_ ]+?)\s*\(\s*[\d, ]+\s*\)$")
_ARRAY_RE = re.compile(r"^(.+?)\s*\[\s*\]$")


def remote_type_to_spark(type_name: str):
    """Map a remote DB type name (as reported by the driver / written by a
    user) to a Spark type. Raises KeyError on unknown names."""
    s = type_name.strip().upper()
    m = _ARRAY_RE.match(s)
    if m:
        return T.ArrayType(remote_type_to_spark(m.group(1)))
    m = _DECIMAL_RE.match(s)
    if m:
        prec = int(m.group(1)) if m.group(1) else 38
        scale = int(m.group(2)) if m.group(2) else (0 if m.group(1) else 10)
        scale = max(scale, 0)
        prec = min(max(prec, scale), 38)
        return T.DecimalType(prec, scale)
    if s in _BASE:
        return _BASE[s]
    m = _PARAM_RE.match(s)
    if m and m.group(1).strip() in _BASE:
        return _BASE[m.group(1).strip()]
    raise KeyError(f"unsupported remote type: {type_name!r}")


_PY_TO_SPARK = {
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bytes: T.BinaryType(),
    # drivers with typed cursors (pgwire, psycopg2) return these; sqlite
    # never does, so the entries only widen coverage. Decimal precision
    # is unknowable from a value sample; 38,18 round-trips any NUMERIC
    # the text protocol delivers.
    _datetime.datetime: T.TimestampType(),
    _datetime.date: T.DateType(),
    _decimal.Decimal: T.DecimalType(38, 18),
}


def infer_schema_from_rows(names: list[str], rows: list[tuple]) -> T.StructType:
    """Value-sample inference for backends whose cursor reports no types
    (sqlite query sources): first non-NULL value per column wins; all-NULL
    columns default to string (schema.rs treats sqlite Null as Utf8-able)."""
    fields = []
    for i, name in enumerate(names):
        spark_type = T.StringType()
        for row in rows:
            v = row[i]
            if v is not None:
                spark_type = _PY_TO_SPARK.get(type(v), T.StringType())
                break
        fields.append(T.StructField(name, spark_type, nullable=True))
    return T.StructType(fields)


def parse_user_schema(schema) -> T.StructType:
    """Accept a StructType, a DDL string, or a list of (name, remote_type)
    pairs (the reference's RemoteSchema form)."""
    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        parsed = T._parse_datatype_string(schema)
        if not isinstance(parsed, T.StructType):
            raise TypeError(f"DDL must describe a struct, got {parsed}")
        return parsed
    fields = [T.StructField(name, remote_type_to_spark(rt), True) for name, rt in schema]
    return T.StructType(fields)
