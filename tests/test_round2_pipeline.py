"""Round-2 hardening tests: DDL-then-DML schema re-bind, partitioned state
store as the pipeline default (delta upserts, emptied-table recovery,
untouched-bucket stability), passthrough flood bound, and exact range
bucketing for pks above 2^53.

Covers reference semantics main.go:70-121 (DDL before DML ordering) and
main.go:135 (K1 apply); the re-bind step has no reference counterpart
because the reference re-reads the per-message schema block every row
(data/model.go:56-73).
"""

from __future__ import annotations

import json
import os

from etl_consumer_spark.config import Config
from etl_consumer_spark.operators.apply import apply_cdc
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.sources.kafka import file_envelope_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

from tests.test_partitioned_state import hash_layout, range_layout
from tests.test_streaming import (
    DB,
    FIELDS,
    PK,
    SERVER,
    TOPIC,
    ddl_envelope,
    envelope,
    make_transport,
    row,
    run_stream,
)

STATE_DDL = "id long, province_id long, seq long, amount double, created_day date"


def _cfg():
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
    return cfg


def test_ddl_then_dml_rebinds_decoders(spark, tmp_path):
    """The high-severity round-1 bug: after the default executor evolves the
    state schema, DML for that table must decode with the REFRESHED field
    list — previously every post-DDL DML batch dead-lettered wholesale."""
    cfg = _cfg()
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    store.init(
        "batch_seq",
        spark.createDataFrame([(1, 10, 0, 1.0, None)], STATE_DDL),
        PK,
        layout=hash_layout(4),
    )
    spec = TableSpec("batch_seq", list(FIELDS), list(PK))
    pipe = CDCPipeline(
        spark, cfg, [spec], store, dead_letter_path=str(tmp_path / "dl")
    )

    def env_with_note(id_, note, pos):
        r = row(id_, 1, 1, 500, 18000)
        r["note"] = note
        return envelope(None, r, pos=pos)

    msgs = [
        (SERVER, ddl_envelope(DB, "batch_seq",
                              "ALTER TABLE `batch`.`batch_seq` ADD COLUMN note VARCHAR(64)")),
        (TOPIC, env_with_note(2, "hello", 101)),
        (TOPIC, env_with_note(3, "world", 102)),
    ]
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))

    state = {r["id"]: r for r in store.read("batch_seq").collect()}
    assert set(state) == {1, 2, 3}
    assert state[2]["note"] == "hello" and state[3]["note"] == "world"
    assert state[1]["note"] is None  # pre-DDL row backfills null
    # nothing dead-lettered: the batch applied, not FIELD_NOT_FOUND
    assert pipe.results[-1].dead_letters == 0
    assert spec.fields[-1].name == "note" and spec.fields[-1].type == "string"

    # a later rename keeps pk + decode in lockstep too
    msgs2 = [
        (SERVER, ddl_envelope(DB, "batch_seq",
                              "ALTER TABLE `batch`.`batch_seq` CHANGE COLUMN note remark VARCHAR(64)")),
        (TOPIC, envelope(None, {**row(4, 1, 1, 500, 18000), "remark": "renamed"}, pos=103)),
    ]
    make_transport(spark, msgs2, str(tmp_path / "t2"))
    run_stream(spark, pipe, str(tmp_path / "t2"), str(tmp_path / "ck2"))
    state = {r["id"]: r for r in store.read("batch_seq").collect()}
    assert state[4]["remark"] == "renamed"
    assert state[2]["remark"] == "hello"


def test_default_store_is_partitioned(spark, tmp_path):
    pipe = CDCPipeline(spark, _cfg(), [TableSpec("batch_seq", FIELDS, PK)],
                       state_path=str(tmp_path / "s"))
    assert isinstance(pipe.store, PartitionedParquetStateStore)


def test_partitioned_store_matches_apply_cdc(spark, tmp_path):
    """Same seed + same event batch: the bucketed store's upsert lands the
    state the whole-table reference apply (``apply_cdc``) computes."""
    seed = spark.createDataFrame(
        [(i, i % 7, 0, float(i), None) for i in range(1, 101)], STATE_DDL
    )
    # typed events in the decoded shape: update id=5, delete id=6, insert id=200
    from pyspark.sql import functions as F

    img = "struct<id:long,province_id:long,seq:long,amount:double,created_day:date>"
    ev = spark.createDataFrame(
        [
            (5, "upd"), (6, "del"), (200, "ins"),
        ],
        "k long, op string",
    ).select(
        F.when(F.col("op") != "ins",
               F.struct(F.col("k").alias("id"), F.lit(0).cast("long").alias("province_id"),
                        F.lit(0).cast("long").alias("seq"), F.lit(1.0).alias("amount"),
                        F.lit(None).cast("date").alias("created_day"))
               ).otherwise(F.lit(None).cast(img)).alias("before"),
        F.when(F.col("op") != "del",
               F.struct(F.col("k").alias("id"), F.lit(9).cast("long").alias("province_id"),
                        F.lit(9).cast("long").alias("seq"), F.lit(99.0).alias("amount"),
                        F.lit(None).cast("date").alias("created_day"))
               ).otherwise(F.lit(None).cast(img)).alias("after"),
        F.col("k").alias("pos"),
        F.lit(1).cast("long").alias("ts_ms"),
    )

    pstore = PartitionedParquetStateStore(spark, str(tmp_path / "p"))
    pstore.init("t", seed, ["id"], layout=hash_layout(8))
    pstore.upsert("t", ev, ["id"])

    a = {tuple(r) for r in apply_cdc(seed, ev, ["id"]).collect()}
    b = {tuple(r) for r in pstore.read("t").collect()}
    assert a == b
    assert len(a) == 100  # 100 - 1 delete + 1 insert


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """Partial-rewrite guarantee: a batch touching one bucket leaves every
    other bucket's files byte-identical (same content, same mtime)."""
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame(
        [(i, i % 7, 0, float(i), None) for i in range(1, 81)], STATE_DDL
    )
    store.init("t", seed, ["id"], layout=range_layout(10))

    def snapshot():
        out = {}
        base = str(tmp_path / "t")
        for d in os.listdir(base):
            if not d.startswith("_bucket="):
                continue
            for f in os.listdir(f"{base}/{d}"):
                p = f"{base}/{d}/{f}"
                st = os.stat(p)
                out[f"{d}/{f}"] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    from pyspark.sql import functions as F

    img = "struct<id:long,province_id:long,seq:long,amount:double,created_day:date>"
    ev = spark.range(1).select(
        F.lit(None).cast(img).alias("before"),
        F.expr(
            "named_struct('id', 15L, 'province_id', 1L, 'seq', 1L,"
            " 'amount', 5.0D, 'created_day', cast(null as date))"
        ).cast(img).alias("after"),
        F.lit(1).cast("long").alias("pos"),
        F.lit(1).cast("long").alias("ts_ms"),
    )
    n = store.upsert("t", ev, ["id"])
    assert n == 1  # only the id=15 bucket (range 1) rewritten
    after = snapshot()
    touched = {k for k in before if k.startswith("_bucket=1/")}
    for k, v in before.items():
        if k in touched:
            continue
        assert after[k] == v, f"untouched bucket file changed: {k}"
    assert store.read("t").filter("id = 15").collect()[0]["amount"] == 5.0
    # compact rewrite: the touched bucket holds exactly one parquet file
    b1 = [f for f in os.listdir(str(tmp_path / "t" / "_bucket=1")) if f.endswith(".parquet")]
    assert len(b1) == 1


def test_partitioned_store_survives_full_emptying(spark, tmp_path):
    """Delete every row (all buckets dropped), then insert again — upsert
    must fall back to the schema sidecar instead of crashing on a
    parquet-less directory."""
    from pyspark.sql import functions as F

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(1, 0, 0, 1.0, None)], STATE_DDL), ["id"],
               layout=hash_layout(4))
    img = "struct<id:long,province_id:long,seq:long,amount:double,created_day:date>"

    def ev(before_id, after_id):
        def side(i):
            if i is None:
                return f"cast(null as {img})"
            return (f"named_struct('id', {i}L, 'province_id', 0L, 'seq', 0L,"
                    f" 'amount', 1.0D, 'created_day', cast(null as date))")

        return spark.range(1).select(
            F.expr(side(before_id)).alias("before"),
            F.expr(side(after_id)).alias("after"),
            F.lit(1).cast("long").alias("pos"),
            F.lit(1).cast("long").alias("ts_ms"),
        )

    store.upsert("t", ev(1, None), ["id"])          # delete the only row
    assert store.read("t").count() == 0
    store.upsert("t", ev(None, 2), ["id"])          # insert into emptied table
    assert [r["id"] for r in store.read("t").collect()] == [2]


def test_passthrough_flood_is_bounded(spark, tmp_path):
    """P7 flood guard: only passthrough_limit statements execute per batch;
    the overflow dead-letters in K2 shape."""
    cfg = _cfg()
    cfg.passthrough_limit = 2
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    store.init("batch_seq", spark.createDataFrame([], STATE_DDL), PK, layout=hash_layout(4))
    executed = []
    pipe = CDCPipeline(
        spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store,
        dead_letter_path=str(tmp_path / "dl"),
        passthrough_executor=executed.append,
    )

    def pass_env(i):
        return json.dumps(
            {"payload": {"before": None, "after": row(i, 1, 0, 100, 18000),
                         "source": {"name": SERVER, "db": DB, "table": "batch_seq",
                                    "pos": i, "row": 0,
                                    "query": f"INSERT INTO batch_seq VALUES ({i})"},
                         "op": "c", "ts_ms": 1}}
        )

    msgs = [(TOPIC, pass_env(i)) for i in range(10, 15)]
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))

    assert len(executed) == 2
    assert pipe.results[-1].dead_letters == 3
    dead = spark.read.parquet(str(tmp_path / "dl"))
    assert dead.count() == 3
    assert dead.collect()[0]["error"].startswith("passthrough-limit-2-exceeded")


def test_results_ring_buffer(spark, tmp_path):
    cfg = _cfg()
    cfg.max_results = 3
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    store.init("batch_seq", spark.createDataFrame([], STATE_DDL), PK, layout=hash_layout(2))
    pipe = CDCPipeline(spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store)
    empty = spark.createDataFrame(
        [], "topic string, value binary, headers array<struct<key:string,value:binary>>, timestamp timestamp"
    )
    for epoch in range(7):
        pipe.process_batch(empty, epoch)
    assert len(pipe.results) == 3
    assert [r.epoch_id for r in pipe.results] == [4, 5, 6]


def test_range_bucket_exact_above_2_53(spark, tmp_path):
    """Range buckets must use integer division: double round-trips drift the
    boundary for pks above 2^53."""
    big = (1 << 55) + 3  # not representable exactly as double
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame([(big, 0, 0, 1.0, None)], STATE_DDL)
    store.init("t", seed, ["id"], layout=range_layout(10))
    expected = big // 10
    assert os.path.isdir(str(tmp_path / "t" / f"_bucket={expected}"))
    assert store.read("t").collect()[0]["id"] == big


def test_upsert_backfill_batch_larger_than_state(spark, tmp_path):
    """A backfill batch larger than the table (30 events, 20 rows, 10 keys
    in common) applies like any batch: the upsert never joins state."""
    from pyspark.sql import functions as F

    img = "struct<id:long,province_id:long,seq:long,amount:double,created_day:date>"
    seed = spark.createDataFrame([(i, 0, 0, 1.0, None) for i in range(1, 21)], STATE_DDL)
    events = spark.range(10, 40).select(
        F.expr(f"cast(null as {img})").alias("before"),
        F.expr(
            "named_struct('id', id + 1, 'province_id', 9L, 'seq', 1L,"
            " 'amount', 2.0D, 'created_day', cast(null as date))"
        ).cast(img).alias("after"),
        F.col("id").alias("pos"),
        F.lit(1).cast("long").alias("ts_ms"),
    )
    store = PartitionedParquetStateStore(spark, str(tmp_path / "p"))
    store.init("t", seed, ["id"])
    store.upsert("t", events, ["id"])
    out = {r["id"]: r["amount"] for r in store.read("t").collect()}
    assert len(out) == 40  # 20 seed + 20 new (ids 21..40); 11..20 upserted
    assert out[15] == 2.0 and out[5] == 1.0 and out[40] == 2.0


def test_metrics_sink_rows(spark, tmp_path):
    """metrics_path appends one queryable row per applied table per batch."""
    cfg = _cfg()
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    store.init("batch_seq", spark.createDataFrame([], STATE_DDL), PK, layout=hash_layout(2))
    pipe = CDCPipeline(
        spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store,
        metrics_path=str(tmp_path / "metrics"),
    )
    msgs = [(TOPIC, envelope(None, row(1, 1, 0, 100, 18000), pos=1))]
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))
    m = spark.read.parquet(str(tmp_path / "metrics")).collect()
    applied = [r for r in m if r["table"] == "batch_seq"]
    assert len(applied) >= 1
    assert applied[0]["dead_letters"] == 0 and applied[0]["version"] >= 1
