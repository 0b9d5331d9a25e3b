"""Reference fold: the expected final state of each table, in pure Python.

Envelopes are folded one at a time in binlog-position order — last writer
wins, a delete removes the key, an update or insert stores the after image
— which is what a Debezium stream means for a table with a primary key.
Wire values are decoded here with plain Python so the check does not rely
on the consumer's own decoders. Decoded values are canonical: dates as days
since the epoch, timestamps as microseconds since the epoch (UTC).
"""

from __future__ import annotations

import base64
import datetime as dt
import json

from gen import (
    APPLIED,
    DATE,
    DDL,
    DECIMAL,
    MICROTIME,
    TIMESTAMP,
    ZONEDTS,
    Field,
)

ZONED_SHIFT_HOURS = 7  # the consumer's default TIMEZONE for ZonedTimestamp


def decode(f: Field, raw):
    """Decoded, canonical value of one wire scalar (``None`` stays ``None``)."""
    if raw is None:
        return None
    if f.logical == DECIMAL:
        n = int.from_bytes(base64.b64decode(raw), "big", signed=True)
        return float(n) / (10.0 ** f.scale)
    if f.logical == DATE:
        return int(raw)
    if f.logical == TIMESTAMP:
        return int(raw) * 1000
    if f.logical == MICROTIME:
        s = int(raw) // 1_000_000
        return f"{s // 3600}:{s // 60 % 60}:{s % 60}"
    if f.logical == ZONEDTS:
        t = dt.datetime.strptime(raw, "%Y-%m-%dT%H:%M:%SZ") + dt.timedelta(hours=ZONED_SHIFT_HOURS)
        return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    if f.type == "boolean":
        return int(bool(raw))
    if f.type.startswith("int"):
        return int(raw)
    if f.type.startswith("float"):
        return float(raw)
    return str(raw).replace("'", "")


class Fold:
    """Expected state of every table, built from seed rows and envelopes."""

    def __init__(self, tables: dict[str, tuple[list[Field], list[str]]]):
        # table -> (fields, pk); fields grow with applied ADD COLUMN events
        self.fields = {t: list(fs) for t, (fs, _) in tables.items()}
        self.pk = {t: list(pk) for t, (_, pk) in tables.items()}
        self.rows: dict[str, dict[tuple, dict]] = {t: {} for t in tables}

    def seed(self, table: str, images: list[dict]) -> None:
        pk = self.pk[table]
        for img in images:
            self.rows[table][tuple(img[k] for k in pk)] = img

    def apply(self, value: bytes, fate: str) -> None:
        if fate == APPLIED:
            p = json.loads(value)["payload"]
            table = p["source"]["table"]
            image = p["after"] if p["after"] is not None else p["before"]
            key = tuple(image[k] for k in self.pk[table])
            if p["after"] is None:
                self.rows[table].pop(key, None)
            else:
                self.rows[table][key] = p["after"]
        elif fate == DDL:
            # the generator's only applied DDL form: ADD COLUMN `name` type
            p = json.loads(value)["payload"]
            name = p["ddl"].split("ADD COLUMN", 1)[1].split("`")[1]
            mysql_type = p["ddl"].rsplit("`", 1)[1].strip().upper()
            wire = "int64" if "INT" in mysql_type else "string"
            self.fields[p["source"]["table"]].append(Field(name, wire))

    def expected(self, table: str) -> dict[tuple, tuple]:
        """key -> decoded row in field order."""
        fields = self.fields[table]
        return {
            key: tuple(decode(f, img.get(f.name)) for f in fields)
            for key, img in self.rows[table].items()
        }


def rows_wrong(expected: dict[tuple, tuple], actual: list[tuple], key_width: int) -> int:
    """Rows of ``actual`` (key columns first, in field order) that differ
    from ``expected``, plus expected rows missing from it."""
    seen: dict[tuple, tuple] = {}
    wrong = 0
    for row in actual:
        key = tuple(row[:key_width])
        if key in seen:  # a duplicate key is always wrong
            wrong += 1
            continue
        seen[key] = tuple(row)
        if expected.get(key) != tuple(row):
            wrong += 1
    wrong += sum(1 for k in expected if k not in seen)
    return wrong
