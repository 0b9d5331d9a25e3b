"""Sink unit tests: republish frame (K3), dead-letter shaping (K2), state
store schema evolution (K1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_consumer_spark.sinks.dead_letter import dead_letter_rows
from etl_consumer_spark.sinks.republish import republish_frame
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore


def _headers(val: bytes | None):
    if val is None:
        return None
    return [("loop", bytearray(val))]


def test_republish_frame_gate_and_header(spark):
    df = spark.createDataFrame(
        [
            ("t1", bytearray(b"m1"), _headers(None)),   # no header -> attempt 1, retry
            ("t1", bytearray(b"m2"), _headers(b"1")),   # attempt 2, retry
            ("t1", bytearray(b"m3"), _headers(b"2")),   # attempt 3 -> at limit, dropped
            ("t1", bytearray(b"m4"), _headers(b"abc")), # unparseable -> attempt 1, retry
        ],
        "topic string, value binary, headers array<struct<key:string,value:binary>>",
    )
    out = republish_frame(df, limit=3).collect()
    got = {bytes(r["value"]): bytes(r["headers"][0]["value"]) for r in out}
    assert got == {b"m1": b"1", b"m2": b"2", b"m4": b"1"}
    assert all(r["headers"][0]["key"] == "loop" for r in out)


def test_dead_letter_rows_shape(spark):
    df = spark.createDataFrame([("payload",)], "value string").withColumn(
        "err", F.lit("Error 1062: Duplicate entry 'x'")
    )
    r = dead_letter_rows(df, "err", "batch_seq", "batch").collect()[0]
    assert (r["data"], r["table_name"], r["db_name"]) == ("payload", "batch_seq", "batch")
    assert r["error"] == "Error-1062-Duplicate-entry-x-"


def test_state_store_schema_evolution(spark, tmp_path):
    """The DDL loop closed on the parquet backend: translated ALTER
    statements evolve the state schema (reference main.go:88 equivalent)."""
    store = PartitionedParquetStateStore(spark, str(tmp_path / "evo"))
    store.init("t", spark.createDataFrame([(1, 10)], "id long, v long"), ["id"])
    store.evolve("t", "ALTER TABLE t ADD COLUMNS (note STRING)")
    assert store.read("t").columns == ["id", "v", "note"]
    assert store.read("t").collect()[0]["note"] is None
    store.evolve("t", "ALTER TABLE t RENAME COLUMN v TO val")
    assert store.read("t").columns == ["id", "val", "note"]
    store.evolve("t", "ALTER TABLE t ALTER COLUMN val TYPE DOUBLE")
    assert dict(store.read("t").dtypes)["val"] == "double"
    store.evolve("t", "ALTER TABLE t DROP COLUMN note")
    assert store.read("t").columns == ["id", "val"]
    assert [tuple(r) for r in store.read("t").collect()] == [(1, 10.0)]


def test_state_store_pk_rename_follows_quoted_identifiers(spark, tmp_path):
    """A pk RENAME in backtick-quoted, db-qualified form moves the
    persisted pk with it, so later upserts bucket on the renamed column."""
    store = PartitionedParquetStateStore(spark, str(tmp_path / "pk"), n_buckets=4)
    store.init("t", spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), ["id"])
    store.evolve("t", "ALTER TABLE `db`.`t` RENAME COLUMN `id` TO `key`")
    assert store._pk_cols("t") == ["key"]
    events = spark.createDataFrame(
        [((1, 10), (1, 11), 1, 0)],
        "before struct<key:long,v:long>, after struct<key:long,v:long>, pos long, ts_ms long",
    )
    store.upsert("t", events, ["key"])
    assert {tuple(r) for r in store.read("t").collect()} == {(1, 11), (2, 20)}


def test_republish_delay_header_and_split_due(spark):
    """E3: delay_ms stamps a not_before deadline; split_due defers not-yet-due
    messages verbatim (loop header untouched) and passes due ones."""
    import time as _time

    from etl_consumer_spark.sinks.republish import republish_frame, split_due

    df = spark.createDataFrame(
        [("t1", b"m1", None)],
        "topic string, value binary, headers array<struct<key:string,value:binary>>",
    )
    out = republish_frame(df, limit=3, delay_ms=60_000).collect()
    assert len(out) == 1
    headers = {bytes(h["key"], "utf8") if isinstance(h["key"], str) else h["key"]: bytes(h["value"]) for h in out[0]["headers"]}
    assert headers[b"loop"] == b"1"
    deadline = int(headers[b"not_before"])
    now_ms = int(_time.time() * 1000)
    assert now_ms + 30_000 < deadline <= now_ms + 90_000

    batch = spark.createDataFrame(out, schema=spark.createDataFrame(out).schema)
    due, deferred = split_due(batch, now_ms=deadline - 1)
    assert due.count() == 0 and deferred.count() == 1
    # deferral is verbatim: the loop header is NOT incremented
    d = deferred.collect()[0]
    dh = {h["key"]: bytes(h["value"]) for h in d["headers"]}
    assert dh["loop"] == b"1"
    due2, deferred2 = split_due(batch, now_ms=deadline)
    assert due2.count() == 1 and deferred2.count() == 0
    # messages without the header are immediately due
    due3, deferred3 = split_due(df, now_ms=0)
    assert due3.count() == 1 and deferred3.count() == 0
