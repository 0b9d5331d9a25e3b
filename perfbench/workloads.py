"""The benchmark's workloads: seeded tables and transport files.

Each workload says why it exists (``WHY``); the numbers in it are chosen so
one run fits the time one measurement may take on a small shared machine.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from gen import (
    BLOCKED_DDL,
    DATE,
    DDL_SKIPPED,
    DEAD_LETTER,
    DECIMAL,
    MICROTIME,
    TIMESTAMP,
    ZONEDTS,
    Envelope,
    Field,
    Mix,
    Stream,
    Table,
    write_file,
)

WHY = {
    "oltp_tail": "small batches on a large table: per-batch fixed cost dominates",
    "live_mixed": "open loop with DDL and bad envelopes on a composite-key table: replication lag",
}


@dataclass
class Plan:
    name: str
    tables: list[Table]
    seed_images: dict[str, list[dict]]
    files: list[tuple[str, list[Envelope]]]  # staged path, envelopes in order
    closed: bool
    # batches before measuring; warm-up files are fed one per batch, as in
    # a closed loop, so an open-loop schedule starts on a warm consumer
    warmup_batches: int = 0
    interval_s: float = 0.0      # open loop: one file per interval
    max_files_per_trigger: int | None = None


def _orders() -> Table:
    return Table(
        "orders",
        [Field("id", "int64"), Field("cust", "int64"), Field("status"), Field("amount", "float64")],
        ["id"],
    )


def _lines() -> Table:
    """Order lines: a composite key and a column of every Debezium logical
    type the consumer decodes."""
    return Table(
        "order_lines",
        [
            Field("order_id", "int64"),
            Field("line_no", "int64"),
            Field("qty", "int32"),
            Field("price", "bytes", DECIMAL, scale=2, precision=12),
            Field("ship_date", "int32", DATE),
            Field("created", "int64", TIMESTAMP),
            Field("cutoff", "int64", MICROTIME),
            Field("confirmed", "string", ZONEDTS),
            Field("gift", "boolean"),
            Field("sku"),
            Field("weight", "float64"),
        ],
        ["order_id", "line_no"],
        recent_span=2_000,
    )


def _stage(stream_files, staging: str, expected: str) -> list[tuple[str, list[Envelope]]]:
    return [
        (write_file(staging, expected, f"part-{i:05d}.parquet", envs), envs)
        for i, envs in enumerate(stream_files)
    ]


def oltp_tail(seed: int, seconds: int, staging: str, expected: str) -> Plan:
    t = _orders()
    s = Stream(seed, t, Mix(insert=0.25, delete=0.10))
    seed_images = {t.name: s.seed_rows(150_000)}
    warmup, per_file = 2, 2_000
    # enough files for a consumer four times faster than today's ~2.3 s batch
    n = warmup + math.ceil(seconds / 0.5) + 2

    def files():
        for i in range(n):
            if i == 1:
                # one schema change and one dead letter, inside the warm-up,
                # so the DDL path and the dead-letter writer run on every
                # workload without touching the measured window
                yield (s.file(per_file // 2)
                       + [s.add_column(Field("extra_0", "int64"), "BIGINT"),
                          s.schema_change("", DEAD_LETTER)]
                       + s.file(per_file - per_file // 2))
            else:
                yield s.file(per_file)

    return Plan("oltp_tail", [t], seed_images, _stage(files(), staging, expected), closed=True,
                warmup_batches=warmup, max_files_per_trigger=1)


def live_mixed(seed: int, seconds: int, staging: str, expected: str) -> Plan:
    t = _lines()
    s = Stream(seed, t, Mix(insert=0.3, delete=0.05, tombstone=0.02, malformed=0.01,
                            passthrough=0.005))
    seed_images = {t.name: s.seed_rows(10_000)}
    # 100 envelopes/s, well below what the consumer commits, so the backlog
    # and the lag stay bounded
    interval, warmup, per_file = 1.0, 2, 100
    n = math.ceil(seconds / interval)
    files = []
    for i in range(warmup + n):
        # files are in binlog order: DML, then any schema events, then DML
        # that already carries the columns those events added
        envs = s.file(per_file // 2)
        # schema events arrive in the warm-up: an ADD COLUMN rewrites the
        # whole table, and the measured window stays free of those outliers
        if i == 0:
            envs.append(s.add_column(Field("extra_0", "int64"), "BIGINT"))
            envs.append(s.schema_change("", DEAD_LETTER))
        if i == 1:
            envs.append(s.add_column(Field("extra_1"), "VARCHAR(32)"))
            envs.append(s.schema_change(f"DROP TABLE `shop`.`{t.name}`", BLOCKED_DDL))
            envs.append(s.schema_change(f"CREATE INDEX idx_sku ON {t.name} (sku)", DDL_SKIPPED))
            envs.append(s.schema_change("", DEAD_LETTER))
        files.append(envs + s.file(per_file - per_file // 2))
    staged = _stage(files, staging, expected)
    return Plan("live_mixed", [t], seed_images, staged, closed=False,
                warmup_batches=warmup, interval_s=interval)


BUILD = {"oltp_tail": oltp_tail, "live_mixed": live_mixed}


def build(name: str, seed: int, seconds: int, root: str) -> Plan:
    staging = os.path.join(root, "staging")
    expected = os.path.join(root, "expected")
    os.makedirs(staging)
    os.makedirs(expected)
    return BUILD[name](seed, seconds, staging, expected)
