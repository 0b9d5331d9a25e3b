"""Envelope parsing S5/S6 and build-time decoder binding C5.

The reference deserializes each message and then, **per row**, looks up each
payload key in the envelope's self-describing schema block to pick a decoder
(data/model.go:56-73, main.go:211-222). In the Spark engine the Debezium
schema for a table is known at pipeline-build time, so decoder selection
happens ONCE — each wire column gets a bound column expression, and the
whole decode is a single vectorized projection (SURVEY §1.1 row 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_consumer_spark import functions as EF
from etl_consumer_spark.operators.routing import passthrough_query
from etl_consumer_spark.schemas import DDL_ENVELOPE_SCHEMA, envelope_schema
# re-exported: the wire binding and its logical type names
from etl_consumer_spark.schemas import DATE, DECIMAL, MICROTIME, TIMESTAMP, ZONEDTS, WireField  # noqa: F401


def parse_dml_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S5 — parse raw bytes into the typed envelope struct. Parse failures
    yield a null ``payload`` (from_json semantics), which the pipeline
    routes to the log-and-drop path exactly like the reference's
    unmarshal-error skip (E4, main.go:130-133)."""
    parsed = F.from_json(F.col(value_col).cast("string"), envelope_schema())
    return df.withColumn("envelope", parsed)


def parse_ddl_envelope(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S6 — parse schema-change events (scheme/model.go:4-29)."""
    parsed = F.from_json(F.col(value_col).cast("string"), DDL_ENVELOPE_SCHEMA)
    return df.withColumn("ddl_envelope", parsed)


def bind_decoder(field: WireField, raw: Column, *, with_timezone: bool = False, tz_hours: int = 7) -> Column:
    """C5 — choose the decode expression for one wire column (the switch at
    reference main.go:223-340, resolved at build time). ``raw`` is the
    string value from the before/after map."""
    if field.logical == DECIMAL:
        # precision > 35 digits can exceed the 15-byte expression path
        # (Decimal(38,0) fold); route those columns to the Arrow UDF
        if field.precision > 35:
            return EF.decimal_decode_big(raw, F.lit(field.scale)).cast("double")
        return EF.decimal_decode(raw, field.scale)
    if field.logical == DATE:
        return EF.epoch_day_to_date(raw.cast("long"))
    if field.logical == TIMESTAMP:
        return EF.epoch_ms_to_timestamp(raw.cast("long"), with_timezone=with_timezone, tz_hours=tz_hours)
    if field.logical == MICROTIME:
        return EF.micros_to_time(raw.cast("long"))
    if field.logical == ZONEDTS:
        return EF.zoned_ts_normalize(raw, tz_hours=tz_hours)
    if field.type == "boolean":
        return EF.bool_to_int(raw)
    if field.type in ("int8", "int16", "int32", "int64"):
        return raw.cast("long")
    if field.type in ("float32", "float64"):
        return raw.cast("double")
    return EF.quote_strip(raw)


def decode_image(
    image: Column,
    fields: list[WireField],
    *,
    with_timezone: bool = False,
    tz_hours: int = 7,
) -> Column:
    """Decode a before/after map<string,string> image into a typed struct,
    preserving the reference's null-column semantics (P2: absent/null keys
    stay null — no decoder runs on them)."""
    cols = []
    for f_ in fields:
        raw = image.getItem(f_.name)
        cols.append(
            F.when(raw.isNull(), F.lit(None)).otherwise(
                bind_decoder(f_, raw, with_timezone=with_timezone, tz_hours=tz_hours)
            ).alias(f_.name)
        )
    return F.struct(*cols)


def decode_envelope(
    df: DataFrame,
    fields: list[WireField],
    *,
    envelope_col: str = "envelope",
    with_timezone: bool = False,
    tz_hours: int = 7,
) -> DataFrame:
    """Project the parsed envelope into the apply-ready shape:
    (table, before, after, pos, ts_ms, passthrough) with typed images."""
    env = F.col(envelope_col)
    return df.select(
        env["payload"]["source"]["table"].alias("table"),
        F.when(
            env["payload"]["before"].isNotNull(),
            decode_image(env["payload"]["before"], fields, with_timezone=with_timezone, tz_hours=tz_hours),
        ).alias("before"),
        F.when(
            env["payload"]["after"].isNotNull(),
            decode_image(env["payload"]["after"], fields, with_timezone=with_timezone, tz_hours=tz_hours),
        ).alias("after"),
        env["payload"]["source"]["pos"].alias("pos"),
        env["payload"]["ts_ms"].alias("ts_ms"),
        # P7: verbatim passthrough SQL when source.query is meaningful
        passthrough_query(env["payload"]["source"]["query"]).alias("passthrough"),
        (env["payload"].isNull()).alias("parse_error"),
    )


def wire_fields_from_connect_schema(schema_block: dict, section: str = "after") -> list[WireField]:
    """C5 (build-time) — derive the per-column decoder bindings from a
    captured Kafka-Connect ``schema`` block (the self-describing JSON that
    rides with every Debezium message, reference data/model.go:34-53).

    The reference resolves this per row (SearchFieldByName →
    SearchFieldsByName, main.go:211,222); here one captured sample message
    configures the whole pipeline. ``section`` picks the ``before``/``after``
    field list (they are structurally identical for MySQL sources)."""
    fields_json = schema_block.get("fields", [])
    section_field = next((f for f in fields_json if f.get("field") == section), None)
    if section_field is None:
        raise ValueError(f"no {section!r} section in schema block")
    out: list[WireField] = []
    for f in section_field.get("fields", []) or []:
        params = f.get("parameters") or {}
        try:
            scale = int(params.get("scale", 0))
        except (TypeError, ValueError):
            scale = 0  # reference: strconv.Atoi failure keeps scale 1.0 -> our 0
        try:
            precision = int(params.get("connect.decimal.precision", 18))
        except (TypeError, ValueError):
            precision = 18
        out.append(
            WireField(
                name=f.get("field"),
                type=f.get("type", "string"),
                logical=f.get("name"),
                scale=scale,
                precision=precision,
            )
        )
    return out
