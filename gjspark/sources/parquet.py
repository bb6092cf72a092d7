"""Parquet reads whose schema is built on the driver.

``spark.read.parquet(path)`` infers the schema in a one-task Spark job
that reads a footer, on every call, even for the same file.
``read_parquet`` reads the footer here instead and hands Spark the schema
(``spark.read.schema(s).parquet(...)``), so building the DataFrame starts
no job. The schema is the one Spark infers with ``mergeSchema`` off, from
the first file:

- a footer written by Spark carries the schema as JSON under
  ``org.apache.spark.sql.parquet.row.metadata``; that JSON is the schema;
- otherwise the footer's Parquet types map as Spark's
  ``ParquetToSparkSchemaConverter`` maps them, including
  ``TIMESTAMP(isAdjustedToUTC=false)`` to ``timestamp_ntz``;
- either way every field is nullable, as Spark makes a file's schema.

Anything not mapped exactly here (INT96, unsigned 64-bit, nanosecond or
time-of-day types, legacy list and map layouts, field ids, directories,
globs, non-local paths, ``mergeSchema`` or ``binaryAsString`` on) is read
with plain ``spark.read.parquet``.
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


class _Unmapped(Exception):
    """The footer holds something ``footer_schema`` does not map."""


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job."""
    schema = None
    conf = spark.conf
    if paths and not any(
        conf.get(f"spark.sql.parquet.{k}", "false").lower() == "true"
        for k in ("mergeSchema", "binaryAsString")
    ):
        ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        schema = footer_schema(paths[0], ntz.lower() == "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def footer_schema(path: str, infer_ntz: bool = True) -> T.StructType | None:
    """The schema Spark infers from the Parquet file ``path``, or None
    where only Spark can tell (see the module docstring)."""
    if not os.path.isfile(path):
        return None
    try:
        elements, kv = _footer(path)
        spark_json = kv.get(SPARK_SCHEMA_KEY)
        if spark_json is not None:
            schema = T.StructType.fromJson(json.loads(spark_json))
        else:
            schema = T.StructType([_field(k, infer_ntz) for k in _tree(elements)[1]])
    except (_Unmapped, OSError, ValueError, KeyError, TypeError, IndexError,
            StopIteration, struct.error):
        return None
    return _nullable(schema)


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and value nullable: a file source
    reads every schema so (Spark's ``asNullable``)."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


# -- footer -------------------------------------------------------------------
# A Parquet file ends with the Thrift compact-encoded FileMetaData, its
# length (int32) and "PAR1". Only the schema (field 2, a depth-first list of
# SchemaElement) and key_value_metadata (field 5) are kept.


def _footer(path: str) -> tuple[list[dict], dict[str, str]]:
    with open(path, "rb") as f:
        f.seek(-8, os.SEEK_END)
        size, magic = struct.unpack("<i4s", f.read(8))
        if magic != b"PAR1":
            raise _Unmapped("not a plain Parquet footer")
        f.seek(-8 - size, os.SEEK_END)
        meta = _Compact(f.read(size)).struct()
    kv = {
        e[1].decode(): e[2].decode() for e in meta.get(5, []) if 2 in e
    }
    return meta[2], kv


class _Compact:
    """Thrift compact protocol reader: a struct becomes {field id: value}."""

    def __init__(self, buf: bytes) -> None:
        self.b, self.i = buf, 0

    def _byte(self) -> int:
        self.i += 1
        return self.b[self.i - 1]

    def _varint(self) -> int:
        out = shift = 0
        while True:
            c = self._byte()
            out |= (c & 0x7F) << shift
            if c < 0x80:
                return out
            shift += 7

    def _zigzag(self) -> int:
        v = self._varint()
        return (v >> 1) ^ -(v & 1)

    def struct(self) -> dict:
        out, fid = {}, 0
        while c := self._byte():
            fid = fid + (c >> 4) if c >> 4 else self._zigzag()
            out[fid] = self.value(c & 15)
        return out

    def value(self, t: int):
        if t in (1, 2):  # bool, carried in the field header
            return t == 1
        if t == 3:
            return self._byte()
        if t in (4, 5, 6):
            return self._zigzag()
        if t == 7:
            self.i += 8
            return None
        if t == 8:
            n = self._varint()
            self.i += n
            return self.b[self.i - n : self.i]
        if t in (9, 10):
            h = self._byte()
            n = h >> 4 if h >> 4 != 15 else self._varint()
            et = h & 15
            if et in (1, 2):  # list elements: one byte per bool
                return [self._byte() == 1 for _ in range(n)]
            return [self.value(et) for _ in range(n)]
        if t == 11:
            n = self._varint()
            kv = self._byte() if n else 0
            return {self.value(kv >> 4): self.value(kv & 15) for _ in range(n)}
        if t == 12:
            return self.struct()
        raise _Unmapped(f"thrift type {t}")


# -- Parquet -> Spark types ----------------------------------------------------
# SchemaElement fields: 1 type, 2 type_length, 3 repetition_type, 4 name,
# 5 num_children, 6 converted_type, 7 scale, 8 precision, 9 field_id,
# 10 logicalType (a union: {member id: struct}).

_REQUIRED, _OPTIONAL, _REPEATED = 0, 1, 2
_BOOLEAN, _INT32, _INT64, _INT96, _FLOAT, _DOUBLE, _BINARY, _FIXED = range(8)
# converted_type -> the logicalType member Parquet readers derive from it
_LEGACY = {0: 1, 1: 2, 2: 2, 3: 3, 4: 4, 5: 5, 6: 6, 9: 8, 10: 8, 19: 12, 20: 13}
_LEGACY_INTS = {  # converted_type -> (bitWidth, isSigned)
    11: (8, False), 12: (16, False), 13: (32, False), 14: (64, False),
    15: (8, True), 16: (16, True), 17: (32, True), 18: (64, True),
}
_INTS = {
    (8, True): T.ByteType(), (16, True): T.ShortType(), (32, True): T.IntegerType(),
    (64, True): T.LongType(), (8, False): T.ShortType(), (16, False): T.IntegerType(),
    (32, False): T.LongType(),
}
_PLAIN = {
    _BOOLEAN: T.BooleanType(), _INT32: T.IntegerType(), _INT64: T.LongType(),
    _FLOAT: T.FloatType(), _DOUBLE: T.DoubleType(), _BINARY: T.BinaryType(),
    _FIXED: T.BinaryType(),
}


def _annotation(e: dict) -> tuple[int | None, dict]:
    """(logicalType member id or None, its fields), from the logicalType
    or, in older files, the converted_type."""
    if 10 in e:
        (member, fields), = e[10].items()
        return member, fields
    ct = e.get(6)
    if ct is None:
        return None, {}
    if ct in _LEGACY_INTS:
        bits, signed = _LEGACY_INTS[ct]
        return 10, {1: bits, 2: signed}
    if ct == 5:
        return 5, {1: e.get(7, 0), 2: e.get(8)}
    if ct in (9, 10):  # TIMESTAMP_MILLIS/MICROS: adjusted to UTC
        return 8, {1: True, 2: {1 if ct == 9 else 2: {}}}
    if ct not in _LEGACY:
        raise _Unmapped(f"converted type {ct}")
    return _LEGACY[ct], {}


def _tree(elements: list[dict]):
    """(element, [child nodes]) from the depth-first element list."""
    it = iter(elements)

    def node():
        e = next(it)
        return e, [node() for _ in range(0 if 1 in e else e.get(5, 0))]

    return node()


def _field(node, ntz: bool) -> T.StructField:
    e = node[0]
    if 9 in e or e.get(3) == _REPEATED:
        raise _Unmapped("field id, or a repeated field outside a list")
    return T.StructField(e[4].decode(), _type(node, ntz), e.get(3) != _REQUIRED)


def _type(node, ntz: bool) -> T.DataType:
    e, kids = node
    member, ann = _annotation(e)
    if 1 not in e:  # a group
        if member is None:
            return T.StructType([_field(k, ntz) for k in kids])
        if member not in (2, 3) or len(kids) != 1:
            raise _Unmapped("group annotation")
        rep, inner = kids[0]
        if rep.get(3) != _REPEATED or 1 in rep or 9 in rep:
            raise _Unmapped("list or map layout")
        if member == 3:  # LIST: a repeated group around one element field
            if len(inner) != 1 or rep[4].decode() in ("array", e[4].decode() + "_tuple"):
                raise _Unmapped("legacy list layout")
            elem = _field(inner[0], ntz)
            return T.ArrayType(elem.dataType, elem.nullable)
        if len(inner) != 2:  # MAP: a repeated group of key and value
            raise _Unmapped("map layout")
        key, value = (_field(k, ntz) for k in inner)
        return T.MapType(key.dataType, value.dataType, value.nullable)
    ptype = e[1]
    if member is None and ptype in _PLAIN:
        return _PLAIN[ptype]
    if member in (1, 4, 12) and ptype == _BINARY:  # STRING, ENUM, JSON
        return T.StringType()
    if member == 13 and ptype == _BINARY:  # BSON
        return T.BinaryType()
    if member == 6 and ptype == _INT32:  # DATE
        return T.DateType()
    if member == 10 and ptype in (_INT32, _INT64):  # INTEGER
        t = _INTS.get((ann[1], ann[2]))
        if t is not None and (ptype == _INT64) == (ann[1] == 64):
            return t
    if member == 5 and ptype in (_INT32, _INT64, _BINARY, _FIXED):  # DECIMAL
        precision, scale = ann.get(2), ann.get(1, 0)
        if precision is not None and 0 < precision <= {_INT32: 9, _INT64: 18}.get(ptype, 38):
            return T.DecimalType(precision, scale)
    if member == 8 and ptype == _INT64 and (1 in ann[2] or 2 in ann[2]):  # MILLIS, MICROS
        return T.TimestampType() if ann[1] or not ntz else T.TimestampNTZType()
    raise _Unmapped(f"physical type {ptype} with annotation {member}")
