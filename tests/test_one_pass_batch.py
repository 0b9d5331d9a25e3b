"""One pass per micro-batch: the transport is read once, every envelope's
fate is counted, a table's work sits inside its dead-letter boundary (K2),
and nothing stays cached after a batch."""

from __future__ import annotations

import json

from etl_consumer_spark.config import Config
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.sources.kafka import TRANSPORT_SCHEMA, file_envelope_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
from tests.test_partitioned_state import hash_layout

SERVER, DB, TABLE = "srv", "shop", "orders"
TOPIC = f"{SERVER}.{DB}.{TABLE}"


def dml(id_, amount, pos):
    source = {"name": SERVER, "db": DB, "table": TABLE, "pos": pos, "row": 0, "query": None}
    after = {"id": id_, "amount": amount}
    return json.dumps({"payload": {"before": None, "after": after, "source": source,
                                   "op": "c", "ts_ms": 1}})


def ddl(statement):
    return json.dumps({"payload": {"source": {"name": SERVER, "db": DB, "table": TABLE},
                                   "databaseName": DB, "ddl": statement}})


def transport(spark, msgs):
    return spark.createDataFrame(
        [(t, None if v is None else v.encode(), None, None) for t, v in msgs], TRANSPORT_SCHEMA
    )


def make_pipe(spark, tmp_path):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, [TABLE]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    store.init(TABLE, spark.createDataFrame([(1, 1.0)], "id long, amount double"), ["id"],
               layout=hash_layout(2))
    return CDCPipeline(
        spark, cfg, [TableSpec(TABLE, [WireField("id", "int64"), WireField("amount", "float64")], ["id"])],
        store,
        dead_letter_path=str(tmp_path / "dead"),
        republish_path=str(tmp_path / "republish"),
    )


def cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bad_non_key_value_dead_letters_the_table_slice(spark, tmp_path):
    """An ANSI cast error in a non-key column (``"amount":"abc"`` in a
    float64 column) dead-letters and spills the table's slice; the batch
    returns and the state is unchanged."""
    spark.catalog.clearCache()
    pipe = make_pipe(spark, tmp_path)
    before = sorted(map(tuple, pipe.store.read(TABLE).collect()))

    result = pipe.process_batch(transport(spark, [(TOPIC, dml(2, 2.5, 10)),
                                                  (TOPIC, dml(3, "abc", 11))]), 0)

    assert result.dead_letters == 2 and result.republish == 2
    assert TABLE not in result.applied
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    assert len(dead) == 2 and {r["table_name"] for r in dead} == {TABLE}
    assert pipe.pending_republish().count() == 2
    assert sorted(map(tuple, pipe.store.read(TABLE).collect())) == before
    assert cache_is_empty(spark)


def test_stream_reads_each_envelope_once_and_counts_fates(spark, tmp_path):
    """An availableNow file-transport stream reads each envelope once
    (``numInputRows`` sums to the envelope count), the batch result counts
    tombstones and parse errors, and no batch leaves a frame cached."""
    spark.catalog.clearCache()
    pipe = make_pipe(spark, tmp_path)
    path = str(tmp_path / "transport")
    mixed = [
        (TOPIC, dml(2, 2.0, 1)),
        (TOPIC, dml(3, 3.0, 2)),
        (TOPIC, dml(1, 1.5, 3)),
        (TOPIC, ""),
        (TOPIC, None),
        (TOPIC, "{not json"),
        (SERVER, ddl("ALTER TABLE `shop`.`orders` ADD COLUMN note VARCHAR(8)")),
    ]
    ddl_only = [(SERVER, ddl("ALTER TABLE `shop`.`orders` ADD COLUMN code VARCHAR(8)"))]
    for msgs in (mixed, ddl_only):  # one file, so one micro-batch, each
        transport(spark, msgs).coalesce(1).write.mode("append").parquet(path)

    cached_after = []
    run = pipe.process_batch
    pipe.process_batch = lambda df, epoch: (run(df, epoch), cached_after.append(not cache_is_empty(spark)))[0]
    q = pipe.start(file_envelope_stream(spark, path, max_files_per_trigger=1),
                   checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True)
    assert q.awaitTermination(180)

    assert sum(p["numInputRows"] for p in q.recentProgress) == len(mixed) + len(ddl_only)
    assert cached_after == [False, False]
    fates = sorted((r.tombstones, r.parse_errors, len(r.ddl_applied)) for r in pipe.results)
    assert fates == [(0, 0, 1), (2, 1, 1)]
    assert {r["id"]: r["amount"] for r in pipe.store.read(TABLE).collect()} == {1: 1.5, 2: 2.0, 3: 3.0}
