"""Debezium envelope schemas as static StructTypes.

The reference deserializes each message into Go structs
(reference: data/model.go:4-53, scheme/model.go:4-29). Here the envelope is a
fixed StructType used with ``from_json`` — the per-message self-describing
``schema`` block becomes pipeline-build-time column metadata instead of a
per-row lookup (reference does the lookup per row: data/model.go:56-73).

``before``/``after`` are modeled as ``MapType(string, string)`` at the parse
layer (Debezium values arrive as JSON scalars; the typed decode happens via
the §1.2 decoder expressions bound per table).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# Debezium/Kafka-Connect logical type names (reference main.go:224-297)
DECIMAL = "org.apache.kafka.connect.data.Decimal"
DATE = "io.debezium.time.Date"
TIMESTAMP = "io.debezium.time.Timestamp"
MICROTIMESTAMP = "io.debezium.time.MicroTimestamp"
MICROTIME = "io.debezium.time.MicroTime"
ZONEDTS = "io.debezium.time.ZonedTimestamp"


@dataclass
class WireField:
    """One column of a table's Debezium wire schema: the build-time
    equivalent of the reference's per-row Field lookup (data/model.go:38-53)."""

    name: str
    type: str = "string"           # connect primitive: boolean/int32/int64/float32/float64/string
    logical: str | None = None     # connect `name` (logical type), e.g. Decimal
    scale: int = 0                 # parameters.scale for Decimal
    precision: int = 18            # connect.decimal.precision for Decimal


# reference: data/model.go:18-31 (Source struct)
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("connector", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("snapshot", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("server_id", T.LongType()),
        T.StructField("gtid", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("row", T.LongType()),
        T.StructField("thread", T.LongType()),
        T.StructField("query", T.StringType()),
    ]
)

# Kafka-Connect field descriptor (reference: data/model.go:38-53); recursion
# bounded to the one nested level Debezium uses (envelope -> before/after).
_FIELD_LEAF = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("optional", T.BooleanType()),
        T.StructField("name", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField(
            "parameters",
            T.StructType(
                [
                    T.StructField("scale", T.StringType()),
                    T.StructField("connect.decimal.precision", T.StringType()),
                ]
            ),
        ),
    ]
)

FIELD_SCHEMA = T.StructType(list(_FIELD_LEAF.fields) + [T.StructField("fields", T.ArrayType(_FIELD_LEAF))])

CONNECT_SCHEMA_SCHEMA = T.StructType([T.StructField("fields", T.ArrayType(FIELD_SCHEMA))])


def envelope_schema(value_type: T.DataType | None = None) -> T.StructType:
    """DML change-event envelope (reference: data/model.go:4-16).

    ``value_type`` types the before/after images; default is
    map<string,string> (decode happens downstream per §1.2).
    """
    value_type = value_type or T.MapType(T.StringType(), T.StringType())
    payload = T.StructType(
        [
            T.StructField("before", value_type),
            T.StructField("after", value_type),
            T.StructField("source", SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    return T.StructType(
        [
            T.StructField("schema", CONNECT_SCHEMA_SCHEMA),
            T.StructField("payload", payload),
        ]
    )


# Schema-change envelope (reference: scheme/model.go:4-13; fixture collection.json:103-122)
DDL_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("source", SOURCE_SCHEMA),
                    T.StructField("databaseName", T.StringType()),
                    T.StructField("ddl", T.StringType()),
                ]
            ),
        ),
    ]
)
