"""DDL pipeline operators (SURVEY §2.3 P3-P6, §2.4 C7, §3.2).

The reference replays MySQL DDL verbatim against the target MySQL after a
filter chain (main.go:382-424). Here the filter chain is declarative (see
operators.routing) and each schema change is decided once:
:func:`translate_mysql_ddl` gives every ALTER TABLE clause (ADD, DROP,
CHANGE or MODIFY [COLUMN]; cf. reference collection.json:121) a
Spark-SQL statement and the Debezium wire binding of its MySQL type, and
:func:`parse_statement` is the one reader of those statements.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_consumer_spark.functions.decoders import ddl_strip_db
from etl_consumer_spark.operators.routing import (
    drop_blocked_ddl,
    drop_instance_events,
    is_empty_ddl,
    table_whitelist,
)
from etl_consumer_spark.schemas import DATE, DECIMAL, MICROTIME, TIMESTAMP, ZONEDTS, WireField

# MySQL column type -> (Spark SQL type, Connect primitive, logical type) of
# the column as the Debezium MySQL connector emits it in its default
# adaptive time mode. First full match wins; DECIMAL is handled apart (its
# precision and scale bind the decoder). DATETIME(4)-(6) arrives as
# MicroTimestamp, which the engine does not decode: it stays unmatched and
# the change is reported skipped.
_TYPES = [
    (r"TINYINT\s*\(\s*1\s*\)|BOOL(?:EAN)?|BIT(?:\s*\(\s*1\s*\))?", "BOOLEAN", "boolean", None),
    (r"TINYINT(?:\s*\(\d+\))?", "TINYINT", "int16", None),
    (r"SMALLINT(?:\s*\(\d+\))?", "SMALLINT", "int16", None),
    (r"BIGINT(?:\s*\(\d+\))?", "BIGINT", "int64", None),
    (r"(?:MEDIUM)?INT(?:EGER)?(?:\s*\(\d+\))?", "INT", "int32", None),
    (r"(?:DOUBLE(?:\s+PRECISION)?|REAL)(?:\s*\(\d+\s*,\s*\d+\))?", "DOUBLE", "float64", None),
    (r"FLOAT(?:\s*\(\d+\s*,\s*\d+\))?", "FLOAT", "float32", None),
    (r"DATETIME(?:\s*\(\s*[0-3]\s*\))?", "TIMESTAMP", "int64", TIMESTAMP),
    (r"TIMESTAMP(?:\s*\(\d+\))?", "TIMESTAMP", "string", ZONEDTS),
    (r"DATE", "DATE", "int32", DATE),
    (r"YEAR(?:\s*\(\s*4\s*\))?", "INT", "int32", None),
    # the decoder stores MicroTime as an H:M:S string (F4)
    (r"TIME(?:\s*\(\d+\))?", "STRING", "int64", MICROTIME),
    (r"(?:VAR)?CHAR\s*\(\d+\)|CHAR|(?:TINY|MEDIUM|LONG)?TEXT|JSON", "STRING", "string", None),
    (r"(?:ENUM|SET)\s*\(.*\)", "STRING", "string", None),
    (r"(?:TINY|MEDIUM|LONG)?BLOB|(?:VAR)?BINARY\s*\(\d+\)", "BINARY", "bytes", None),
]
# MySQL's DECIMAL and its synonyms; precision defaults to 10, scale to 0
_DECIMAL_TYPE = re.compile(
    r"(?is)(?:DECIMAL|NUMERIC|DEC|FIXED)(?:\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?"
)
# UNSIGNED integer columns take a wider type so their whole range fits
# (BIGINT UNSIGNED arrives as int64, Debezium's default, and stays BIGINT)
_UNSIGNED = {"TINYINT": ("SMALLINT", "int16"), "SMALLINT": ("INT", "int32"),
             "INT": ("BIGINT", "int64")}

# MySQL column attributes and placement that Spark SQL doesn't take in
# ALTER ... ADD/CHANGE, and that do not change the column's type
_ATTR_STRIP = re.compile(
    r"(?is)\s+(COMMENT\s+(?:'(?:[^'\\]|\\.|'')*'|\"[^\"]*\")|NOT\s+NULL|NULL|AUTO_INCREMENT|"
    r"DEFAULT\s+(?:'[^']*'|\S+)|CHARACTER\s+SET\s+\S+|COLLATE\s+\S+|"
    r"(?:UN)?SIGNED|ZEROFILL|ON\s+UPDATE\s+\S+(?:\(\))?|FIRST\b|AFTER\s+`?[\w$]+`?)"
)


def _column_type(column: str, mysql_type: str) -> tuple[str, WireField] | None:
    """(Spark SQL type, wire binding) for a MySQL column type, or None when
    the type is not one the engine decodes."""
    t = _ATTR_STRIP.sub("", " " + mysql_type).strip()
    unsigned = any(a.upper() == "UNSIGNED" for a in _ATTR_STRIP.findall(" " + mysql_type))
    m = _DECIMAL_TYPE.fullmatch(t)
    if m:
        precision, scale = int(m[1] or 10), int(m[2] or 0)
        field = WireField(column, "bytes", DECIMAL, scale=scale, precision=precision)
        return f"DECIMAL({precision},{scale})", field
    for pattern, spark_type, wire_type, logical in _TYPES:
        if re.fullmatch(pattern, t, re.I | re.S):
            if unsigned and spark_type in _UNSIGNED:
                spark_type, wire_type = _UNSIGNED[spark_type]
            return spark_type, WireField(column, wire_type, logical)
    return None


def state_type(spark_type: str) -> str:
    """The state column type for a translated Spark type. F6 parity: the
    reference stores MySQL tinyint(1) booleans as ints (bool_to_int,
    main.go:259-265), so a BOOLEAN column is kept as INT in state."""
    return "INT" if spark_type.strip().upper() == "BOOLEAN" else spark_type


@dataclass(frozen=True)
class TranslatedDDL:
    """One schema change decided from an ALTER clause, or a skip marker.
    ``field`` is the column's wire binding after an ADD or a type change
    (None for DROP, and for RENAME, which keeps the column's binding)."""

    statement: str | None
    reason: str | None = None      # set when statement is None
    op: str | None = None          # "add" | "drop" | "rename" | "type"
    table: str | None = None
    column: str | None = None
    new_name: str | None = None    # rename target
    spark_type: str | None = None  # add / type change
    field: WireField | None = None


# Identifiers may be bare or backtick-quoted, tables db-qualified either way
_TBL = r"`?(?:[\w$]+`?\s*\.\s*`?)?([\w$]+)`?"
_COL = r"`?([\w$]+)`?"

# The translated statement forms: rendered by _change, and read back by
# parse_statement through a pattern made from the same form
_FORMS = {
    "add": "ALTER TABLE {table} ADD COLUMNS ({column} {spark_type})",
    "drop": "ALTER TABLE {table} DROP COLUMN {column}",
    "rename": "ALTER TABLE {table} RENAME COLUMN {column} TO {new_name}",
    "type": "ALTER TABLE {table} ALTER COLUMN {column} TYPE {spark_type}",
}
_SLOTS = {"table": _TBL, "column": _COL, "new_name": _COL, "spark_type": r"(.+?)"}
_STATEMENTS = {
    op: re.compile(r"(?is)\s*%s\s*" % re.sub(
        r"\\ |\\\{(\w+)\\\}", lambda m: _SLOTS[m[1]] if m[1] else r"\s+", re.escape(form)))
    for op, form in _FORMS.items()
}


def _change(op: str, table: str, column: str, **kw) -> TranslatedDDL:
    args = {"new_name": None, "spark_type": None, **kw}
    statement = _FORMS[op].format(table=table, column=column, **args)
    return TranslatedDDL(statement, op=op, table=table, column=column, **kw)


def parse_statement(statement: str) -> TranslatedDDL | None:
    """Read a translated statement back (the state store receives strings):
    op, table, column and new name or Spark type. Identifiers may be
    quoted or db-qualified. The wire binding is not recoverable from a
    Spark type, so ``field`` stays None. None for any other statement."""
    for op, pattern in _STATEMENTS.items():
        m = pattern.fullmatch(statement)
        if m:
            table, column, *arg = m.groups()
            kw = {"new_name" if op == "rename" else "spark_type": arg[0]} if arg else {}
            return TranslatedDDL(statement, op=op, table=table, column=column, **kw)
    return None


def _split(text: str, sep: str) -> list[str]:
    """``text`` split at ``sep`` outside quotes and parentheses, so the comma
    in ``DECIMAL(10,2)`` or ``ENUM('a','b')`` stays inside its clause."""
    parts, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(text):
        if quote:
            quote = None if ch == quote else quote
        elif ch in "'\"`":
            quote = ch
        elif ch in "()":
            depth += 1 if ch == "(" else -1
        elif ch == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


_ALTER = re.compile(rf"(?is)ALTER\s+TABLE\s+{_TBL}\s+(.+)")
_CLAUSES = [
    # ADD INDEX/KEY/... parse as a column with an unknown type: skipped
    ("add", re.compile(rf"(?is)ADD\s+(?:COLUMN\s+)?{_COL}\s+(.+)")),
    ("drop", re.compile(rf"(?is)DROP\s+(?:COLUMN\s+)?{_COL}")),
    ("change", re.compile(rf"(?is)CHANGE\s+(?:COLUMN\s+)?{_COL}\s+{_COL}\s+(.+)")),
    ("type", re.compile(rf"(?is)MODIFY\s+(?:COLUMN\s+)?{_COL}\s+(.+)")),
]


def _translate_clause(table: str, clause: str) -> list[TranslatedDDL]:
    """The changes one ALTER clause makes. A CHANGE that renames the column
    makes two: the rename, then the type change under the new name (the
    store skips it when the type is the column's current one)."""
    skipped = TranslatedDDL(None, reason=f"unsupported DDL form: {clause[:80]}")
    for op, pattern in _CLAUSES:
        m = pattern.fullmatch(clause)
        if not m:
            continue
        if op == "drop":
            return [_change(op, table, m[1])]
        column, changes = m[1], []
        if op == "change" and m[1].lower() != m[2].lower():
            column, changes = m[2], [_change("rename", table, m[1], new_name=m[2])]
        typed = _column_type(column, m[m.lastindex])
        if typed is None:
            return [*changes, skipped]
        op = "add" if op == "add" else "type"
        return [*changes, _change(op, table, column, spark_type=typed[0], field=typed[1])]
    return [skipped]


def translate_mysql_ddl(ddl: str) -> list[TranslatedDDL]:
    """Translate MySQL DDL into one :class:`TranslatedDDL` per schema change
    of its ALTER TABLE clauses. The table may be bare, quoted or
    db-qualified; column placement (AFTER/FIRST) and comments are dropped.
    Unsupported statements and clauses come back as skip markers."""
    out: list[TranslatedDDL] = []
    for stmt in _split(ddl, ";"):
        m = _ALTER.fullmatch(stmt)
        out += (
            [t for c in _split(m[2], ",") for t in _translate_clause(m[1], c)] if m
            else [TranslatedDDL(None, reason=f"unsupported DDL form: {stmt[:80]}")]
        )
    return out


def ddl_pipeline(
    df: DataFrame,
    tables: list[str],
    replace_all: bool,
    reclaim: bool,
    db_name_col: str = "database_name",
    table_col: str = "source_table",
    ddl_col: str = "ddl",
) -> DataFrame:
    """P4 → P3 → P6-split → P5 → C7 filter chain over a DDL-event DataFrame
    (reference order: main.go:390-415). Adds ``is_error`` for empty-DDL rows
    (dead-letter candidates) and ``ddl_clean`` with the db qualifier
    stripped. Blocklisted DDL is dropped silently, like the reference."""
    out = drop_instance_events(df, db_name_col)
    out = table_whitelist(out, tables, replace_all, table_col)
    out = out.withColumn("is_error", is_empty_ddl(ddl_col))
    keep = drop_blocked_ddl(out.filter(~F.col("is_error")), reclaim, ddl_col)
    errors = out.filter(F.col("is_error"))
    out = keep.unionByName(errors)
    return out.withColumn("ddl_clean", ddl_strip_db(F.col(ddl_col), F.col(db_name_col)))


def run_ddl(execute: Callable[[str], object], ddl_rows: list[str]) -> Iterator[TranslatedDDL]:
    """Translate each DDL and pass its statements to ``execute`` in order,
    yielding one outcome per change; a skip marker carries the reason (an
    unsupported form or the executor's error), for the caller to report
    rather than fail the batch."""
    for t in (t for ddl in ddl_rows for t in translate_mysql_ddl(ddl)):
        try:
            if t.statement is not None:
                execute(t.statement)
            yield t
        except Exception as exc:  # noqa: BLE001 - dead-letter, don't fail the batch
            yield TranslatedDDL(None, reason=f"{t.statement}: {exc}")


def apply_ddl_batch(spark: SparkSession, ddl_rows: list[str]) -> list[TranslatedDDL]:
    """Execute translated DDL against the Spark catalog (driver-side, inside
    foreachBatch — serialized before DML batches per SURVEY §4)."""
    return list(run_ddl(spark.sql, ddl_rows))
