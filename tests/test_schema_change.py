"""Schema changes through ``CDCPipeline.process_batch``: each MySQL DDL is
translated once, its column rebound to the decoder Debezium's wire value
needs, and the state store stays readable when one bucket is rewritten
after the change and another is not."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_consumer_spark.config import Config
from etl_consumer_spark.operators.ddl import translate_mysql_ddl
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import TIMESTAMP, WireField
from etl_consumer_spark.sources.kafka import TRANSPORT_SCHEMA
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
from tests.test_decoders import py_encode

SERVER, DB, TABLE = "srv", "shop", "orders"
TOPIC = f"{SERVER}.{DB}.{TABLE}"
FIELDS = [WireField("id", "int64"), WireField("amount", "float64")]


def dml(after: dict, pos: int) -> str:
    source = {"name": SERVER, "db": DB, "table": TABLE, "pos": pos, "row": 0, "query": None}
    return json.dumps({"payload": {"before": None, "after": after, "source": source,
                                   "op": "c", "ts_ms": 1}})


def ddl(statement: str, table: str = TABLE) -> str:
    return json.dumps({"payload": {"source": {"name": SERVER, "db": DB, "table": table},
                                   "databaseName": DB, "ddl": statement}})


def transport(spark, msgs):
    return spark.createDataFrame(
        [(t, None if v is None else v.encode(), None, None) for t, v in msgs], TRANSPORT_SCHEMA
    )


def keys_in_two_buckets(spark) -> tuple[int, int]:
    """A seeded key and a DML key that hash into different buckets of a
    2-bucket store, so the DML rewrites one bucket and leaves the other."""
    b = {r["id"]: r["b"] for r in spark.range(1, 9).select(
        "id", F.pmod(F.hash("id"), F.lit(2)).alias("b")).collect()}
    seeded = 1
    return seeded, next(k for k, v in b.items() if v != b[seeded])


def make_pipe(spark, tmp_path, seeded: int, **kw):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, [TABLE]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"), n_buckets=2)
    store.init(TABLE, spark.createDataFrame([(seeded, 1.0)], "id long, amount double"), ["id"])
    return CDCPipeline(spark, cfg, [TableSpec(TABLE, list(FIELDS), ["id"])], store,
                       dead_letter_path=str(tmp_path / "dead"),
                       republish_path=str(tmp_path / "republish"), **kw)


# (DDL, the new columns' wire values, the values read back as strings)
CASES = {
    "timestamp_is_zoned": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN ts TIMESTAMP",
        {"ts": "2022-01-02T03:04:05Z"}, {"ts": "2022-01-02 10:04:05"},  # +TIMEZONE (7 h)
    ),
    "time_is_microtime": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN tm TIME", {"tm": 3661000000}, {"tm": "1:1:1"},
    ),
    "decimal_keeps_state_type": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN px DECIMAL(10,2)",
        {"px": py_encode(12345)}, {"px": "123.45"},
    ),
    "after_clause": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN n INT AFTER id", {"n": 7}, {"n": "7"},
    ),
    "comment_clause": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN note VARCHAR(8) COMMENT 'x'",
        {"note": "hi"}, {"note": "hi"},
    ),
    "unquoted_db_qualifier": (
        "ALTER TABLE shop.orders ADD COLUMN q BIGINT", {"q": 9}, {"q": "9"},
    ),
    "bool_column": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN flag BOOLEAN", {"flag": True}, {"flag": "1"},
    ),
    "unsigned_int_widens": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN u INT UNSIGNED",
        {"u": 3_000_000_000}, {"u": "3000000000"},
    ),
    "multi_clause": (
        "ALTER TABLE `shop`.`orders` ADD COLUMN a INT, ADD COLUMN b VARCHAR(4)",
        {"a": 1, "b": "x"}, {"a": "1", "b": "x"},
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_schema_change_then_dml(spark, tmp_path, case):
    statement, wire, expected = CASES[case]
    seeded, touched = keys_in_two_buckets(spark)
    pipe = make_pipe(spark, tmp_path, seeded)

    first = pipe.process_batch(transport(spark, [(SERVER, ddl(statement))]), 0)
    assert first.ddl_skipped == [] and len(first.ddl_applied) == len(expected)
    result = pipe.process_batch(
        transport(spark, [(TOPIC, dml({"id": touched, "amount": 2.5, **wire}, 10))]), 1
    )

    assert result.dead_letters == 0 and result.applied == {TABLE: 1}
    state = pipe.store.read(TABLE)
    rows = {r["id"]: r for r in state.select(
        "id", *[F.col(c).cast("string").alias(c) for c in expected]).collect()}
    assert set(rows) == {seeded, touched}  # the whole table reads back
    assert {c: rows[touched][c] for c in expected} == expected
    assert all(rows[seeded][c] is None for c in expected)


def test_renaming_change_also_changes_the_type(spark, tmp_path):
    """CHANGE COLUMN with a new name and a new type renames the column, then
    changes its type and wire binding; the untouched bucket is cast too."""
    seeded, touched = keys_in_two_buckets(spark)
    pipe = make_pipe(spark, tmp_path, seeded)
    statement = "ALTER TABLE `shop`.`orders` CHANGE COLUMN amount price DECIMAL(10,2)"
    first = pipe.process_batch(transport(spark, [(SERVER, ddl(statement))]), 0)
    assert first.ddl_applied == [
        "ALTER TABLE orders RENAME COLUMN amount TO price",
        "ALTER TABLE orders ALTER COLUMN price TYPE DECIMAL(10,2)",
    ]
    result = pipe.process_batch(
        transport(spark, [(TOPIC, dml({"id": touched, "price": py_encode(12345)}, 10))]), 1
    )
    assert result.dead_letters == 0 and result.applied == {TABLE: 1}
    state = pipe.store.read(TABLE)
    assert dict(state.dtypes)["price"] == "decimal(10,2)"
    assert {r["id"]: str(r["price"]) for r in state.collect()} == {
        seeded: "1.00", touched: "123.45"
    }


def test_mysql_type_bindings():
    """The wire binding each MySQL type gets; a type the engine does not
    decode leaves the change skipped instead of misreading its values."""

    def binding(mysql_type):
        t = translate_mysql_ddl(f"ALTER TABLE t ADD COLUMN c {mysql_type}")[0]
        return t.field and (t.spark_type, t.field.type, t.field.logical)

    assert binding("DATETIME") == binding("DATETIME(3)") == ("TIMESTAMP", "int64", TIMESTAMP)
    # DATETIME(4)-(6) arrives as MicroTimestamp (microseconds), not Timestamp
    assert binding("DATETIME(6)") is None
    assert binding("BOOLEAN") == binding("bool") == binding("TINYINT(1)") == (
        "BOOLEAN", "boolean", None
    )
    assert binding("INT UNSIGNED") == ("BIGINT", "int64", None)
    assert binding("INT COMMENT 'unsigned'") == ("INT", "int32", None)
    assert binding("NUMERIC(8)")[:2] == ("DECIMAL(8,0)", "bytes")
    assert binding("GEOMETRY") is None


def test_benchmark_ddl_fates(spark, tmp_path):
    """The schema events the benchmark streams: qualified ADD COLUMNs apply,
    CREATE INDEX is skipped, DROP TABLE is blocked without a trace and
    empty DDL dead-letters."""
    seeded, touched = keys_in_two_buckets(spark)
    pipe = make_pipe(spark, tmp_path, seeded)
    result = pipe.process_batch(transport(spark, [
        (SERVER, ddl("ALTER TABLE `shop`.`orders` ADD COLUMN `extra_0` BIGINT")),
        (SERVER, ddl("ALTER TABLE `shop`.`orders` ADD COLUMN `extra_1` VARCHAR(32)")),
        (SERVER, ddl("DROP TABLE `shop`.`orders`")),
        (SERVER, ddl("CREATE INDEX idx_sku ON orders (sku)")),
        (SERVER, ddl("")),
    ]), 0)
    assert sorted(result.ddl_applied) == [
        "ALTER TABLE orders ADD COLUMNS (extra_0 BIGINT)",
        "ALTER TABLE orders ADD COLUMNS (extra_1 STRING)",
    ]
    assert len(result.ddl_skipped) == 1 and "CREATE INDEX" in result.ddl_skipped[0]
    assert result.dead_letters == 1
    assert spark.read.parquet(str(tmp_path / "dead")).first()["error"] == "unexpected-ddl"
    assert pipe.store.read(TABLE).columns == ["id", "amount", "extra_0", "extra_1"]


def test_unmanaged_table_ddl_is_reported_skipped(spark, tmp_path):
    """With the default executor, DDL for a table outside the TableSpecs
    (passed by REPLACE_ALL_SCHEME) changes nothing and says so; an injected
    executor still reports what it ran."""
    seeded, _ = keys_in_two_buckets(spark)
    msgs = [(SERVER, ddl("ALTER TABLE `shop`.`other` ADD COLUMN c INT", table="other"))]
    pipe = make_pipe(spark, tmp_path, seeded)
    assert pipe.cfg.replace_all_scheme
    result = pipe.process_batch(transport(spark, msgs), 0)
    assert result.ddl_applied == []
    assert result.ddl_skipped == [
        "ALTER TABLE other ADD COLUMNS (c INT): not a managed table: nothing to evolve"
    ]

    ran = []
    injected = make_pipe(spark, tmp_path / "injected", seeded, ddl_executor=ran.append)
    result = injected.process_batch(transport(spark, msgs), 0)
    assert ran == result.ddl_applied == ["ALTER TABLE other ADD COLUMNS (c INT)"]
    assert result.ddl_skipped == []
