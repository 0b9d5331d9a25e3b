"""Relational/CDC operator surface (SURVEY §2.3-§2.5) plus the analytic
family (as-of/range joins, sessionization, skew ops, rollup maintenance)."""

from etl_consumer_spark.operators.analytic import asof_join, range_join, sessionize
from etl_consumer_spark.operators.layout import morton_key
from etl_consumer_spark.operators.apply import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    apply_cdc,
    apply_cdc_full_row,
    apply_cdc_sequential,
    classify_op,
    compact_events,
    dedupe_insert_replays,
    last_writer_wins,
)
from etl_consumer_spark.operators.ddl import (
    TranslatedDDL,
    apply_ddl_batch,
    ddl_pipeline,
    translate_mysql_ddl,
)
from etl_consumer_spark.operators.retry import (
    loop_count_from_headers,
    next_attempt,
    not_before_from_headers,
    republish_gate,
    republish_headers,
    with_retry_columns,
)
from etl_consumer_spark.operators.rollup import merge_partial_rollups
from etl_consumer_spark.operators.scd import scd2_history
from etl_consumer_spark.operators.skew import salted_agg, salted_join
from etl_consumer_spark.operators.routing import (
    BLOCKLIST,
    RECLAIM_LIST,
    drop_blocked_ddl,
    drop_instance_events,
    drop_tombstones,
    is_blocked_ddl,
    is_empty_ddl,
    is_schema_topic,
    passthrough_query,
    route_dml,
    route_schema,
    table_whitelist,
)

__all__ = [
    "BLOCKLIST",
    "OP_DELETE",
    "OP_INSERT",
    "OP_UPDATE",
    "RECLAIM_LIST",
    "TranslatedDDL",
    "apply_cdc",
    "apply_cdc_full_row",
    "apply_cdc_sequential",
    "apply_ddl_batch",
    "asof_join",
    "classify_op",
    "compact_events",
    "ddl_pipeline",
    "dedupe_insert_replays",
    "drop_blocked_ddl",
    "drop_instance_events",
    "drop_tombstones",
    "is_blocked_ddl",
    "is_empty_ddl",
    "is_schema_topic",
    "last_writer_wins",
    "loop_count_from_headers",
    "merge_partial_rollups",
    "morton_key",
    "next_attempt",
    "not_before_from_headers",
    "passthrough_query",
    "range_join",
    "republish_gate",
    "republish_headers",
    "route_dml",
    "route_schema",
    "salted_agg",
    "salted_join",
    "sessionize",
    "table_whitelist",
    "translate_mysql_ddl",
    "with_retry_columns",
]
