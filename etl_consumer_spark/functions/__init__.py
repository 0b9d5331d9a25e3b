"""Scalar function surface of the engine (SURVEY §1.2, §2.7: F1-F12)."""

from etl_consumer_spark.functions.decoders import (
    ZONED_TS_GATE,
    bool_to_int,
    ddl_strip_db,
    decimal_decode,
    decimal_decode_big,
    decimal_decode_typed,
    decimal_encode_b64,
    decimal_unscaled,
    epoch_day_to_date,
    epoch_micros_to_timestamp,
    epoch_ms_to_timestamp,
    micros_to_time,
    quote_strip,
    topic_name,
    zoned_ts_normalize,
)
from etl_consumer_spark.functions.text import (
    clean_string,
    clean_text,
    sanitize_basename,
)

__all__ = [
    "ZONED_TS_GATE",
    "bool_to_int",
    "clean_string",
    "clean_text",
    "ddl_strip_db",
    "decimal_decode",
    "decimal_decode_big",
    "decimal_decode_typed",
    "decimal_encode_b64",
    "decimal_unscaled",
    "epoch_day_to_date",
    "epoch_micros_to_timestamp",
    "epoch_ms_to_timestamp",
    "micros_to_time",
    "quote_strip",
    "sanitize_basename",
    "topic_name",
    "zoned_ts_normalize",
]
