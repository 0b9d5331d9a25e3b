"""End-to-end streaming pipeline test: Debezium-shaped JSON envelopes ride a
file transport (same columns as the Kafka source) through parse → route →
decode → apply into the parquet state store, via availableNow triggers.

Envelope shapes follow the reference fixtures (Readme.md:47-83 insert,
data/model.go:75-104) for a batch_seq-like table extended with one column
per logical type decoder (FIXTURES.md §1)."""

from __future__ import annotations

import base64
import json

import pytest

from etl_consumer_spark.client.debezium import DebeziumAPI
from etl_consumer_spark.config import Config
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.sources.kafka import file_envelope_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

SERVER, DB = "dbserver2", "batch"
TOPIC = f"{SERVER}.{DB}.batch_seq"

FIELDS = [
    WireField("id", "int64"),
    WireField("province_id", "int32"),
    WireField("seq", "int32"),
    WireField("amount", "string", logical="org.apache.kafka.connect.data.Decimal", scale=2),
    WireField("created_day", "int32", logical="io.debezium.time.Date"),
]
PK = ["id"]


def b64dec(n: int) -> str:
    nbytes = max(1, (n.bit_length() + 8) // 8)
    return base64.b64encode(n.to_bytes(nbytes, "big", signed=True)).decode()


def envelope(before, after, pos, ts_ms=1587202401764):
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {
                    "version": "1.1.1.Final",
                    "connector": "mysql",
                    "name": SERVER,
                    "snapshot": "false",
                    "db": DB,
                    "table": "batch_seq",
                    "file": "mysql-bin.000082",
                    "pos": pos,
                    "row": 0,
                    "query": None,
                },
                "op": "c",
                "ts_ms": ts_ms,
            }
        }
    )


def ddl_envelope(database, table, ddl):
    return json.dumps(
        {
            "payload": {
                "source": {"name": SERVER, "db": database, "table": table},
                "databaseName": database,
                "ddl": ddl,
            }
        }
    )


def row(id_, prov, seq, amount_unscaled, day):
    return {
        "id": id_,
        "province_id": prov,
        "seq": seq,
        "amount": b64dec(amount_unscaled),
        "created_day": day,
    }


@pytest.fixture()
def pipeline_env(spark, tmp_path):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    empty = spark.createDataFrame(
        [], "id long, province_id long, seq long, amount double, created_day date"
    )
    store.init("batch_seq", empty, PK)
    spec = TableSpec("batch_seq", FIELDS, PK)
    applied_ddl = []
    pipe = CDCPipeline(
        spark,
        cfg,
        [spec],
        store,
        dead_letter_path=str(tmp_path / "data_err"),
        ddl_executor=applied_ddl.append,
    )
    return cfg, store, pipe, applied_ddl, tmp_path


def make_transport(spark, rows, path):
    df = spark.createDataFrame(
        [(t, v.encode() if v is not None else None, None, None) for t, v in rows],
        "topic string, value binary, headers array<struct<key:string,value:binary>>, timestamp timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def run_stream(spark, pipe, path, checkpoint):
    q = pipe.start(
        file_envelope_stream(spark, path),
        checkpoint_dir=checkpoint,
        trigger_available_now=True,
    )
    q.awaitTermination(120)


def test_pipeline_end_to_end(spark, pipeline_env):
    cfg, store, pipe, applied_ddl, tmp = pipeline_env
    transport = str(tmp / "transport")
    msgs = [
        # inserts (before null)
        (TOPIC, envelope(None, row(1, 10, 0, 12345, 18993), pos=100)),
        (TOPIC, envelope(None, row(2, 20, 0, -5000, 18994), pos=101)),
        # update of id=1 (both images)
        (TOPIC, envelope(row(1, 10, 0, 12345, 18993), row(1, 11, 1, 20000, 18993), pos=102)),
        # delete of id=2
        (TOPIC, envelope(row(2, 20, 0, -5000, 18994), None, pos=103)),
        # tombstone (S7) and parse garbage (E4) must be dropped silently
        (TOPIC, ""),
        (TOPIC, "{not json"),
        # DDL event on the schema topic: applied (whitelisted, not blocked)
        (SERVER, ddl_envelope(DB, "batch_seq", "ALTER TABLE `batch`.`batch_seq` ADD COLUMN note VARCHAR(64)")),
        # blocked DDL (P5) and instance event (P4): silently dropped
        (SERVER, ddl_envelope(DB, "batch_seq", "DROP TABLE `batch`.`batch_seq`")),
        (SERVER, ddl_envelope("", "batch_seq", "ALTER TABLE x ADD COLUMN y INT")),
        # empty DDL -> dead letter (P6/E5)
        (SERVER, ddl_envelope(DB, "batch_seq", "")),
    ]
    make_transport(spark, msgs, transport)
    run_stream(spark, pipe, transport, str(tmp / "ckpt"))

    state = store.read("batch_seq").orderBy("id").collect()
    assert len(state) == 1
    r = state[0]
    assert (r["id"], r["province_id"], r["seq"]) == (1, 11, 1)
    assert r["amount"] == 200.00  # decimal decode: 20000 / 10^2
    assert str(r["created_day"]) == "2022-01-01"  # epoch-day decode

    # DDL: translated to Spark dialect, db qualifier stripped, blocklist applied
    assert applied_ddl == ["ALTER TABLE batch_seq ADD COLUMNS (note STRING)"]
    # dead letter for the empty DDL
    dead = spark.read.parquet(str(tmp / "data_err"))
    assert dead.count() == 1
    assert dead.collect()[0]["error"] == "unexpected-ddl"

    # second identical run (at-least-once replay) must be a state no-op
    before = {tuple(r) for r in store.read("batch_seq").collect()}
    make_transport(spark, msgs[:4], str(tmp / "transport2"))
    run_stream(spark, pipe, str(tmp / "transport2"), str(tmp / "ckpt2"))
    after = {tuple(r) for r in store.read("batch_seq").collect()}
    assert before == after


def test_pipeline_lww_within_batch(spark, pipeline_env):
    cfg, store, pipe, _, tmp = pipeline_env
    transport = str(tmp / "t2")
    msgs = [
        (TOPIC, envelope(None, row(5, 1, 0, 100, 18000), pos=200)),
        (TOPIC, envelope(row(5, 1, 0, 100, 18000), row(5, 1, 7, 700, 18000), pos=205)),
        (TOPIC, envelope(row(5, 1, 0, 100, 18000), row(5, 1, 3, 300, 18000), pos=203)),
    ]
    make_transport(spark, msgs, transport)
    run_stream(spark, pipe, transport, str(tmp / "ckpt3"))
    # upsert-compaction: the insert→update chain survives as the last
    # writer's after-image (pos=205, seq=7), not the stale pos=203 image
    state = store.read("batch_seq").collect()
    assert len(state) == 1
    assert (state[0]["id"], state[0]["seq"], state[0]["amount"]) == (5, 7, 7.00)


def test_debezium_client_pause_resume(spark, pipeline_env, monkeypatch):
    calls = []

    class FakeResp:
        status = 202

        def read(self):
            return b""

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_open(req, timeout=0):
        calls.append(req.full_url)
        return FakeResp()

    api = DebeziumAPI("localhost", "8083", "conn1", opener=fake_open)
    cfg, store, pipe, applied_ddl, tmp = pipeline_env
    pipe.api = api
    transport = str(tmp / "t3")
    make_transport(
        spark,
        [(SERVER, ddl_envelope(DB, "batch_seq", "ALTER TABLE `batch`.`batch_seq` ADD COLUMN c2 INT"))],
        transport,
    )
    run_stream(spark, pipe, transport, str(tmp / "ckpt4"))
    assert calls == [
        "http://localhost:8083/connectors/conn1/pause",
        "http://localhost:8083/connectors/conn1/resume",
    ]
    assert applied_ddl == ["ALTER TABLE batch_seq ADD COLUMNS (c2 INT)"]


def test_debezium_client_non_202_and_retry():
    attempts = []

    class Resp:
        def __init__(self, status):
            self.status = status

        def read(self):
            return b"conflict"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def flaky_open(req, timeout=0):
        attempts.append(1)
        return Resp(409 if len(attempts) < 3 else 202)

    api = DebeziumAPI("h", "1", "c", opener=flaky_open)
    with pytest.raises(RuntimeError):
        api.pause()
    attempts.clear()
    api.resume(max_attempts=5, backoff_s=0.0)
    assert len(attempts) == 3


def test_pipeline_passthrough_query(spark, pipeline_env):
    """P7: events with meaningful source.query bypass DML generation and go
    to the passthrough executor verbatim (reference main.go:357-359)."""
    import json as _json

    cfg, store, pipe, _, tmp = pipeline_env
    executed = []
    pipe.passthrough_executor = executed.append
    env = _json.dumps(
        {
            "payload": {
                "before": None,
                "after": row(9, 1, 0, 100, 18000),
                "source": {
                    "name": SERVER, "db": DB, "table": "batch_seq",
                    "pos": 500, "row": 0,
                    "query": "INSERT INTO batch_seq VALUES (9)",
                },
                "op": "c",
                "ts_ms": 1,
            }
        }
    )
    transport = str(tmp / "t_pass")
    make_transport(spark, [(TOPIC, env)], transport)
    run_stream(spark, pipe, transport, str(tmp / "ckpt_pass"))
    assert executed == ["INSERT INTO batch_seq VALUES (9)"]
    assert pipe.results[-1].passthrough == executed
    # the passthrough event must NOT also apply as a decoded insert
    assert store.read("batch_seq").filter("id = 9").count() == 0


def test_pipeline_multi_table(spark, tmp_path):
    """Two tables in one micro-batch route to their own state stores."""
    import json as _json

    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq", "other_t"]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    store.init("batch_seq", spark.createDataFrame([], "id long, province_id long, seq long, amount double, created_day date"), PK)
    store.init("other_t", spark.createDataFrame([], "id long, name string"), ["id"])
    specs = [
        TableSpec("batch_seq", FIELDS, PK),
        TableSpec("other_t", [WireField("id", "int64"), WireField("name", "string")], ["id"]),
    ]
    pipe = CDCPipeline(spark, cfg, specs, store)

    def env_for(table, after, pos):
        return _json.dumps(
            {"payload": {"before": None, "after": after,
                         "source": {"name": SERVER, "db": DB, "table": table, "pos": pos, "row": 0},
                         "op": "c", "ts_ms": pos}}
        )

    msgs = [
        (TOPIC, env_for("batch_seq", row(1, 5, 0, 777, 18000), 1)),
        (f"{SERVER}.{DB}.other_t", env_for("other_t", {"id": 42, "name": "x'y"}, 2)),
    ]
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))
    assert store.read("batch_seq").count() == 1
    other = store.read("other_t").collect()
    assert len(other) == 1
    assert other[0]["name"] == "xy"  # F7 quote strip on the default string branch


def test_pipeline_ddl_evolves_parquet_state(spark, tmp_path):
    """Default DDL executor: an ALTER on a managed table evolves the state
    store schema end-to-end through the streaming DDL path."""
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    store.init("batch_seq", spark.createDataFrame(
        [(1, 2, 3, 4.0, None)],
        "id long, province_id long, seq long, amount double, created_day date"), PK)
    pipe = CDCPipeline(spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store)
    make_transport(
        spark,
        [(SERVER, ddl_envelope(DB, "batch_seq", "ALTER TABLE `batch`.`batch_seq` ADD COLUMN note VARCHAR(32)"))],
        str(tmp_path / "t"),
    )
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))
    evolved = store.read("batch_seq")
    assert "note" in evolved.columns
    assert evolved.collect()[0]["note"] is None


def test_pipeline_multi_micro_batch_exactly_once(spark, pipeline_env):
    """Cross-batch incremental correctness: the same backlog processed as
    THREE sequential micro-batches (maxFilesPerTrigger=1, one state commit
    per batch) must land the identical final state as one big batch — the
    shape a large backfill takes in production, where the state written by
    batch N is the input state of batch N+1."""
    cfg, store, pipe, _, tmp = pipeline_env
    transport = str(tmp / "transport_mb")

    batch1 = [
        (TOPIC, envelope(None, row(1, 10, 0, 1000, 18993), pos=200)),
        (TOPIC, envelope(None, row(2, 20, 0, 2000, 18993), pos=201)),
        (TOPIC, envelope(None, row(3, 30, 0, 3000, 18993), pos=202)),
        (TOPIC, envelope(None, row(4, 40, 0, 4000, 18993), pos=203)),
    ]
    batch2 = [
        # update id=2 (both images), delete id=3
        (TOPIC, envelope(row(2, 20, 0, 2000, 18993), row(2, 21, 1, 2500, 18993), pos=204)),
        (TOPIC, envelope(row(3, 30, 0, 3000, 18993), None, pos=205)),
    ]
    batch3 = [
        # insert id=5, update id=1, and a REPLAY of batch2's update (dup skip)
        (TOPIC, envelope(None, row(5, 50, 0, 5000, 18993), pos=206)),
        (TOPIC, envelope(row(1, 10, 0, 1000, 18993), row(1, 11, 2, 1500, 18993), pos=207)),
        (TOPIC, envelope(row(2, 20, 0, 2000, 18993), row(2, 21, 1, 2500, 18993), pos=204)),
    ]
    # one parquet file per append -> one micro-batch per file
    for msgs in (batch1, batch2, batch3):
        make_transport(spark, msgs, transport)

    seen_epochs = []
    orig = pipe.process_batch
    pipe.process_batch = lambda df, epoch: (seen_epochs.append(epoch), orig(df, epoch))[1]
    q = pipe.start(
        file_envelope_stream(spark, transport, max_files_per_trigger=1),
        checkpoint_dir=str(tmp / "ckpt_mb"),
        trigger_available_now=True,
    )
    q.awaitTermination(180)
    pipe.process_batch = orig

    assert len(seen_epochs) >= 3, f"expected >=3 micro-batches, got {seen_epochs}"

    got = {
        r["id"]: (r["province_id"], r["seq"], r["amount"])
        for r in store.read("batch_seq").collect()
    }
    assert got == {
        1: (11, 2, 15.00),
        2: (21, 1, 25.00),
        4: (40, 0, 40.00),
        5: (50, 0, 50.00),
    }


def test_pipeline_checkpoint_restart_resumes_without_reprocessing(spark, pipeline_env):
    """Exactly-once across RESTARTS: after an availableNow run commits its
    offsets, a second run with the SAME checkpoint must process only files
    added since — the earlier events must not re-enter the pipeline, and
    the state must reflect both runs."""
    cfg, store, pipe, _, tmp = pipeline_env
    transport = str(tmp / "transport_ck")
    ckpt = str(tmp / "ckpt_resume")

    make_transport(
        spark,
        [
            (TOPIC, envelope(None, row(1, 10, 0, 1000, 18993), pos=400)),
            (TOPIC, envelope(None, row(2, 20, 0, 2000, 18993), pos=401)),
        ],
        transport,
    )
    run_stream(spark, pipe, transport, ckpt)
    assert {r["id"] for r in store.read("batch_seq").collect()} == {1, 2}

    # second run, same checkpoint: only the new file may reach the pipeline
    make_transport(
        spark,
        [
            (TOPIC, envelope(row(1, 10, 0, 1000, 18993), row(1, 11, 1, 1500, 18993), pos=402)),
            (TOPIC, envelope(None, row(3, 30, 0, 3000, 18993), pos=403)),
        ],
        transport,
    )
    seen_rows = []
    orig = pipe.process_batch
    def spy(df, epoch):
        seen_rows.extend(r["value"] for r in df.select("value").collect())
        return orig(df, epoch)
    pipe.process_batch = spy
    run_stream(spark, pipe, transport, ckpt)
    pipe.process_batch = orig

    # the restart saw exactly the two new envelopes, none of the old ones
    assert len(seen_rows) == 2, f"restart reprocessed old data: {len(seen_rows)} rows"
    got = {r["id"]: (r["province_id"], r["amount"]) for r in store.read("batch_seq").collect()}
    assert got == {1: (11, 15.00), 2: (20, 20.00), 3: (30, 30.00)}
