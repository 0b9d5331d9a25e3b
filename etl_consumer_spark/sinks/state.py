"""Schema evolution for parquet-backed state tables.

The reference applies DDL to its MySQL target with ``db.Exec(ddl)``
(main.go:88). The engine's state lives in parquet, so a translated ALTER
statement (``operators.ddl`` output) is applied to the state DataFrame
here and the store rewrites the table with the evolved schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Identifier fragments shared by evolve_frame and the state store's pk
# tracking: one grammar for "what evolves" and "what the pk list follows",
# so a rename the frame applies can never leave the bucket expression bound
# to a stale column. Accepts bare, backtick-quoted, and db-qualified
# identifiers (the shapes the captured Debezium fixtures carry).
_TBL = r"`?(?:[\w$]+`?\s*\.\s*`?)?([\w$]+)`?"
_COL = r"`?([\w$]+)`?"


def parse_rename_column(statement: str) -> tuple[str, str, str] | None:
    """(table, old_col, new_col) when ``statement`` is a RENAME COLUMN in
    any supported identifier quoting, else None."""
    import re

    m = re.match(
        rf"(?i)^\s*ALTER TABLE\s+{_TBL}\s+RENAME COLUMN\s+{_COL}\s+TO\s+{_COL}\s*$",
        statement,
    )
    return m.groups() if m else None


def evolve_frame(df: DataFrame, statement: str) -> DataFrame:
    """Apply one translated DDL statement (operators.ddl output shapes) to a
    state DataFrame — the parquet backend's equivalent of the reference's
    db.Exec(ddl) (main.go:88).

    Supported: ADD COLUMNS (new column null for existing rows),
    DROP COLUMN, RENAME COLUMN, ALTER COLUMN TYPE. Table and column
    identifiers may be bare, backtick-quoted, or db-qualified."""
    import re

    from pyspark.sql import functions as SF

    m = re.match(rf"(?i)ALTER TABLE {_TBL} ADD COLUMNS \({_COL} (.+)\)", statement)
    if m:
        _, col, typ = m.groups()
        return df.withColumn(col, SF.lit(None).cast(typ))
    m = re.match(rf"(?i)ALTER TABLE {_TBL} DROP COLUMN {_COL}", statement)
    if m:
        return df.drop(m.group(2))
    renamed = parse_rename_column(statement)
    if renamed:
        return df.withColumnRenamed(renamed[1], renamed[2])
    m = re.match(rf"(?i)ALTER TABLE {_TBL} ALTER COLUMN {_COL} TYPE (.+)", statement)
    if m:
        _, col, typ = m.groups()
        return df.withColumn(col, SF.col(col).cast(typ.strip()))
    raise ValueError(f"unsupported evolved DDL: {statement}")
