"""Routing / projection / filter operators P1-P7 (SURVEY §2.3).

Each is a small function DataFrame -> DataFrame (or a predicate Column
builder) so Catalyst can push the filters into the scan. Reference
evidence is cited per function.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def is_schema_topic(topic: ColumnOrName, server: str) -> Column:
    """P1 — schema-change topic is exactly ``{server}`` (reference:
    main.go:55,70-71); everything else is a per-table DML topic."""
    return _col(topic) == F.lit(server)


def route_dml(df: DataFrame, server: str, topic_col: str = "topic") -> DataFrame:
    """P1 — DML branch of the stream (reference: main.go:122)."""
    return df.filter(~is_schema_topic(topic_col, server))


def route_schema(df: DataFrame, server: str, topic_col: str = "topic") -> DataFrame:
    """P1 — DDL branch of the stream (reference: main.go:70-71)."""
    return df.filter(is_schema_topic(topic_col, server))


def is_tombstone(value: ColumnOrName) -> Column:
    """S7 — a zero-length message value (reference: main.go:124-126). Null
    values (Kafka tombstones surface as null) count too."""
    return F.coalesce(F.length(_col(value).cast("string")), F.lit(0)) == 0


def drop_tombstones(df: DataFrame, value_col: str = "value") -> DataFrame:
    """S7 — skip tombstones (:func:`is_tombstone`)."""
    return df.filter(~is_tombstone(value_col))


def table_whitelist(
    df: DataFrame,
    tables: list[str],
    replace_all: bool,
    table_col: str = "source_table",
) -> DataFrame:
    """P3 — schema events for tables outside ``cfg.Table`` are dropped unless
    ``ReplaceAllScheme`` (reference: main.go:395-407)."""
    if replace_all:
        return df
    return df.filter(F.col(table_col).isin(tables))


def drop_instance_events(df: DataFrame, database_col: str = "database_name") -> DataFrame:
    """P4 — schema events with empty databaseName come "from instance" and
    are ignored (reference: main.go:390-393)."""
    return df.filter(F.coalesce(F.length(database_col), F.lit(0)) > 0)


# DDL blocklist (reference: utils/clean.go:113-140). Substring match, not
# word match — faithful to strings.Contains.
BLOCKLIST = ("CREATE DATABASE", "USE", "DROP DATABASE")
RECLAIM_LIST = ("DROP TABLE",)


def is_blocked_ddl(ddl: ColumnOrName, reclaim: bool) -> Column:
    """P5 — true when the DDL contains a blocklisted statement; ``DROP
    TABLE`` additionally blocked unless ``reclaim``
    (reference: utils/clean.go:124-140)."""
    c = _col(ddl)
    cond = F.lit(False)
    for needle in BLOCKLIST:
        cond = cond | c.contains(needle)
    if not reclaim:
        for needle in RECLAIM_LIST:
            cond = cond | c.contains(needle)
    return cond


def drop_blocked_ddl(df: DataFrame, reclaim: bool, ddl_col: str = "ddl") -> DataFrame:
    """P5 — filter out blocklisted DDL (reference: main.go:413-415)."""
    return df.filter(~is_blocked_ddl(ddl_col, reclaim))


def is_empty_ddl(ddl: ColumnOrName) -> Column:
    """P6 — empty DDL is an error ("unexpected ddl", reference:
    main.go:409-411); route these to the dead-letter sink."""
    return F.coalesce(F.length(_col(ddl)), F.lit(0)) == 0


def passthrough_query(query: ColumnOrName) -> Column:
    """P7 — when ``payload.source.query`` is longer than 5 chars the
    reference executes it verbatim instead of generating DML
    (reference: main.go:357-359). Returns the passthrough SQL or null."""
    c = _col(query)
    return F.when(F.length(c) > 5, c).otherwise(F.lit(None))
