"""Seeded Debezium envelope streams for the consumer benchmark.

Pure Python plus pyarrow: no Spark, no external test data. The same seed
gives byte-identical transport files. Every envelope carries an expected
fate, which the reference fold (:mod:`fold`) and the correctness gate read;
the consumer under test only ever sees the transport files.
"""

from __future__ import annotations

import base64
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SERVER = "bench"
DB = "shop"
TS0 = 1_700_000_000_000  # ts_ms of pos 0

DECIMAL = "org.apache.kafka.connect.data.Decimal"
DATE = "io.debezium.time.Date"
TIMESTAMP = "io.debezium.time.Timestamp"
MICROTIME = "io.debezium.time.MicroTime"
ZONEDTS = "io.debezium.time.ZonedTimestamp"

# What happens to an envelope in the consumer.
APPLIED = "applied"
TOMBSTONE = "tombstone"
PARSE_ERROR = "parse_error"
PASSTHROUGH = "passthrough"
DDL = "ddl"
DDL_SKIPPED = "ddl_skipped"
BLOCKED_DDL = "blocked_ddl"
DEAD_LETTER = "dead_letter"

# Transport file layout: the consumer's TRANSPORT_SCHEMA.
TRANSPORT_ARROW = pa.schema(
    [
        ("topic", pa.string()),
        ("value", pa.binary()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)

_encode = json.JSONEncoder(separators=(",", ":"), check_circular=False).encode


def topic(table: str) -> str:
    return f"{SERVER}.{DB}.{table}"


def decimal_b64(unscaled: int) -> str:
    """Minimal big-endian two's-complement bytes, base64 — Connect's Decimal."""
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return base64.b64encode(unscaled.to_bytes(n, "big", signed=True)).decode()


@dataclass(frozen=True)
class Field:
    name: str
    type: str = "string"
    logical: str | None = None
    scale: int = 0
    precision: int = 18

    def spec(self) -> dict:
        out = {"name": self.name, "type": self.type}
        if self.logical:
            out.update(logical=self.logical, scale=self.scale, precision=self.precision)
        return out


def state_type(f: Field) -> str:
    """Spark type the consumer's decoders give a wire field."""
    if f.logical == DECIMAL:
        return "double"
    if f.logical == DATE:
        return "date"
    if f.logical in (TIMESTAMP, ZONEDTS):
        return "timestamp"
    if f.logical == MICROTIME:
        return "string"
    return {"boolean": "int", "float64": "double", "float32": "double"}.get(
        f.type, "bigint" if f.type.startswith("int") else "string"
    )


_WORDS = ("alpha", "bravo", "o'neil", "delta", "echo", "fox'trot", "golf", "hotel", "india", "juliet")
_STATUS = ("open", "paid", "shipped", "closed")


def _value(rng: random.Random, f: Field):
    """One wire value for a field (the JSON scalar Debezium would send)."""
    if f.logical == DECIMAL:
        return decimal_b64(rng.randrange(-10 ** (f.precision - 3), 10 ** (f.precision - 3)))
    if f.logical == DATE:
        return rng.randrange(0, 25_000)
    if f.logical == TIMESTAMP:
        return rng.randrange(0, 2_000_000_000) * 1000 + rng.randrange(1000)
    if f.logical == MICROTIME:
        return rng.randrange(0, 86_400_000_000)
    if f.logical == ZONEDTS:
        return "%04d-%02d-%02dT%02d:%02d:%02dZ" % (
            rng.randrange(1990, 2030), rng.randrange(1, 13), rng.randrange(1, 29),
            rng.randrange(24), rng.randrange(60), rng.randrange(60),
        )
    if f.type == "boolean":
        return rng.random() < 0.5
    if f.type.startswith("int"):
        return rng.randrange(0, 1_000_000)
    if f.type.startswith("float"):
        return rng.randrange(0, 10_000_000) / 100
    if f.name == "status":
        return rng.choice(_STATUS)
    return f"{rng.choice(_WORDS)}-{rng.randrange(100_000)}"


@dataclass
class Table:
    """A replicated table: its wire schema, primary key and live rows."""

    name: str
    fields: list[Field]
    pk: list[str]
    recent_span: int = 5_000  # mean distance of an update from the key tail
    rows: dict = field(default_factory=dict)  # key tuple -> wire image
    next_key: int = 0

    def __post_init__(self):
        # the schema the consumer starts with; ``fields`` grows with DDL
        self.initial = list(self.fields)

    def spec(self) -> dict:
        return {"pk": self.pk, "fields": [f.spec() for f in self.initial]}

    def image(self, rng: random.Random, key: tuple) -> dict:
        img = {f.name: _value(rng, f) for f in self.fields}
        img.update(zip(self.pk, key))
        return img

    def new_key(self, rng: random.Random) -> tuple:
        k = self.next_key
        self.next_key += 1
        if len(self.pk) == 2:  # composite (order, line): a few lines per order
            return (k // 4, k % 4)
        return (k,)

    def recent_key(self, rng: random.Random) -> tuple | None:
        """A live key, skewed toward the newest (the hot tail of an OLTP table)."""
        for _ in range(64):
            k = self.next_key - 1 - int(rng.expovariate(1.0 / self.recent_span))
            if k < 0:
                continue
            key = (k // 4, k % 4) if len(self.pk) == 2 else (k,)
            if key in self.rows:
                return key
        return None

    def any_key(self, rng: random.Random) -> tuple | None:
        for _ in range(64):
            k = rng.randrange(max(1, self.next_key))
            key = (k // 4, k % 4) if len(self.pk) == 2 else (k,)
            if key in self.rows:
                return key
        return None


@dataclass
class Mix:
    """Shares of envelope kinds in a DML stream (the rest are updates)."""

    insert: float
    delete: float
    tombstone: float = 0.0
    malformed: float = 0.0
    passthrough: float = 0.0


@dataclass
class Envelope:
    topic: str
    value: bytes
    fate: str


class Stream:
    """Sequential generator of one table's change stream.

    Binlog positions increase by one per envelope, so a fold in ``pos``
    order is the source database's history."""

    def __init__(self, seed: int, table: Table, mix: Mix):
        self.rng = random.Random(seed)
        self.table = table
        self.mix = mix
        self.pos = 0

    def seed_rows(self, n: int) -> list[dict]:
        """Initial state of the table: ``n`` rows, returned as wire images."""
        table, out = self.table, []
        for _ in range(n):
            key = table.new_key(self.rng)
            img = table.image(self.rng, key)
            table.rows[key] = img
            out.append(img)
        return out

    def _dml(self, table: Table, before, after, query: str | None = None) -> bytes:
        self.pos += 1
        op = "c" if before is None else ("d" if after is None else "u")
        payload = {
            "before": before,
            "after": after,
            "source": {"name": SERVER, "db": DB, "table": table.name, "pos": self.pos,
                       "row": 0, "query": query},
            "op": op,
            "ts_ms": TS0 + self.pos,
        }
        return _encode({"payload": payload}).encode()

    def dml(self) -> Envelope:
        table, rng, mix = self.table, self.rng, self.mix
        r = rng.random()
        t = topic(table.name)
        if r < mix.tombstone:
            return Envelope(t, b"", TOMBSTONE)
        r -= mix.tombstone
        if r < mix.malformed:
            self.pos += 1
            return Envelope(t, b'{"payload":{"before":null,"after":{"id":' + str(self.pos).encode(), PARSE_ERROR)
        r -= mix.malformed
        if r < mix.passthrough:
            key = table.any_key(rng) or table.new_key(rng)
            stmt = f"UPDATE {table.name} SET touched = 1 WHERE {table.pk[0]} = {key[0]}"
            return Envelope(t, self._dml(table, None, table.image(rng, key), stmt), PASSTHROUGH)
        r -= mix.passthrough
        if r < mix.insert:
            key = table.new_key(rng)
            after = table.image(rng, key)
            table.rows[key] = after
            return Envelope(t, self._dml(table, None, after), APPLIED)
        r -= mix.insert
        if r < mix.delete:
            key = table.any_key(rng)
            if key is not None:
                return Envelope(t, self._dml(table, table.rows.pop(key), None), APPLIED)
        key = table.recent_key(rng)
        if key is None:  # nothing live to update: insert instead
            key = table.new_key(rng)
            after = table.image(rng, key)
            table.rows[key] = after
            return Envelope(t, self._dml(table, None, after), APPLIED)
        after = table.image(rng, key)
        before, table.rows[key] = table.rows[key], after
        return Envelope(t, self._dml(table, before, after), APPLIED)

    def schema_change(self, ddl: str, fate: str) -> Envelope:
        """An event about the table on the schema topic."""
        table = self.table
        self.pos += 1
        payload = {
            "source": {"name": SERVER, "db": DB, "table": table.name, "pos": self.pos},
            "databaseName": DB,
            "ddl": ddl,
        }
        return Envelope(SERVER, _encode({"payload": payload}).encode(), fate)

    def add_column(self, f: Field, mysql_type: str) -> Envelope:
        """An ``ADD COLUMN``; every later envelope carries the new column."""
        t = self.table
        env = self.schema_change(f"ALTER TABLE `{DB}`.`{t.name}` ADD COLUMN `{f.name}` {mysql_type}", DDL)
        t.fields.append(f)
        return env

    def file(self, n: int) -> list[Envelope]:
        """``n`` DML envelopes."""
        return [self.dml() for _ in range(n)]


def write_transport(path: str, envelopes: list[Envelope]) -> None:
    """One transport file with the consumer's (topic, value, headers,
    timestamp) columns; headers and timestamp are null."""
    n = len(envelopes)
    table = pa.Table.from_arrays(
        [
            pa.array([e.topic for e in envelopes], pa.string()),
            pa.array([e.value for e in envelopes], pa.binary()),
            pa.nulls(n, TRANSPORT_ARROW.field("headers").type),
            pa.nulls(n, TRANSPORT_ARROW.field("timestamp").type),
        ],
        schema=TRANSPORT_ARROW,
    )
    pq.write_table(table, path, compression="snappy")


def write_fates(path: str, envelopes: list[Envelope]) -> None:
    with open(path, "w") as fh:
        json.dump([e.fate for e in envelopes], fh)


def write_file(staging: str, expected: str, name: str, envelopes: list[Envelope]) -> str:
    """Stage one transport file (plus its expected fates, kept apart from
    anything the consumer reads); returns the staged path."""
    path = os.path.join(staging, name)
    write_transport(path, envelopes)
    write_fates(os.path.join(expected, name + ".json"), envelopes)
    return path
