"""K3 retry-buffer spill tests (VERDICT r8 #2): the failure path must
never materialize O(batch) rows on the driver — failed slices spill to an
epoch-keyed parquet buffer via a distributed write, and requeue back into
the transport as a distributed append.

Envelope shapes follow tests/test_streaming.py (reference Readme.md:47-83).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_consumer_spark.config import Config
from etl_consumer_spark.operators.retry import loop_count_from_headers
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.sources.kafka import file_envelope_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

SERVER, DB = "dbserver2", "batch"
TOPIC = f"{SERVER}.{DB}.batch_seq"
FIELDS = [WireField("id", "int64"), WireField("seq", "int32")]
PK = ["id"]

# one-line envelope template, ids/pos substituted by format_string IN PLAN —
# the 100k-row poison batch is generated distributively, never on the driver
_ENV_TMPL = json.dumps(
    {
        "payload": {
            "before": None,
            "after": {"id": "%IDHOLE%", "seq": 1},
            "source": {"name": SERVER, "db": DB, "table": "batch_seq",
                        "file": "mysql-bin.000082", "pos": "%IDHOLE%", "row": 0,
                        "query": None},
            "op": "c",
            "ts_ms": 1587202401764,
        }
    }
).replace('"%IDHOLE%"', "%s")


class PoisonStore:
    """Raises on the first ``fail_times`` upserts, then delegates."""

    def __init__(self, inner, fail_times: int):
        self.inner = inner
        self.fail_times = fail_times
        self.calls = 0

    def upsert(self, *a, **kw):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise RuntimeError("poison: target down")
        return self.inner.upsert(*a, **kw)

    def __getattr__(self, item):
        return getattr(self.inner, item)


def _mk_pipe(spark, tmp_path, store, republish_limit=3):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
    cfg.republish_limit = republish_limit
    return CDCPipeline(
        spark,
        cfg,
        [TableSpec("batch_seq", FIELDS, PK)],
        store,
        dead_letter_path=str(tmp_path / "data_err"),
        republish_path=str(tmp_path / "republish"),
    )


def _run(spark, pipe, transport, ckpt):
    q = pipe.start(
        file_envelope_stream(spark, transport),
        checkpoint_dir=ckpt,
        trigger_available_now=True,
    )
    q.awaitTermination(180)


def test_poison_flood_spills_distributed_never_collects(spark, tmp_path):
    """A 100k-row poison batch: every row dead-letters AND spills to the
    retry buffer, the BatchResult carries only a COUNT (no row objects on
    the driver), and the spill is a real epoch-keyed parquet directory."""
    n = 100_000
    transport = str(tmp_path / "transport")
    (
        spark.range(n)
        .select(
            F.lit(TOPIC).alias("topic"),
            F.encode(F.format_string(_ENV_TMPL, F.col("id"), F.col("id")), "utf-8").alias("value"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.lit(None).cast("timestamp").alias("timestamp"),
        )
        .write.mode("overwrite")
        .parquet(transport)
    )
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)
    pipe = _mk_pipe(spark, tmp_path, PoisonStore(inner, fail_times=10**9))
    _run(spark, pipe, transport, str(tmp_path / "ckpt"))

    total = sum(r.republish for r in pipe.results)
    assert total == n
    # the observability record holds an int, never row payloads
    assert all(isinstance(r.republish, int) for r in pipe.results)
    # epoch-keyed spill directories exist and hold exactly the batch rows
    assert os.path.isdir(pipe.republish_path)
    epochs = [d for d in os.listdir(pipe.republish_path) if d.startswith("epoch=")]
    assert epochs
    pending = pipe.pending_republish()
    assert pending.count() == n
    # first retry attempt: loop header incremented to 1 on every spilled row
    lcs = (
        pending.select(loop_count_from_headers("headers").alias("lc"))
        .groupBy("lc")
        .count()
        .collect()
    )
    assert {(r["lc"], r["count"]) for r in lcs} == {(1, n)}


def test_requeue_retry_converges_and_gate_exhausts(spark, tmp_path):
    """Fail → spill → requeue → succeed: the replayed slice applies cleanly
    on the retry pass (reference loop protocol, main.go:174-203). A store
    that keeps failing exhausts the E2 gate: after republish_limit passes
    the buffer stops growing and poison rows stay dead-lettered only."""
    transport = str(tmp_path / "t1")
    (
        spark.range(10)
        .select(
            F.lit(TOPIC).alias("topic"),
            F.encode(F.format_string(_ENV_TMPL, F.col("id"), F.col("id")), "utf-8").alias("value"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.lit(None).cast("timestamp").alias("timestamp"),
        )
        .write.mode("overwrite")
        .parquet(transport)
    )
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)
    store = PoisonStore(inner, fail_times=1)  # first batch fails, retry works
    pipe = _mk_pipe(spark, tmp_path, store)
    _run(spark, pipe, transport, str(tmp_path / "ck1"))
    assert inner.read("batch_seq").count() == 0  # poison pass applied nothing

    retry_transport = str(tmp_path / "t2")
    assert pipe.requeue_republish(retry_transport) == 10
    assert pipe.pending_republish() is None  # buffer drained
    _run(spark, pipe, retry_transport, str(tmp_path / "ck2"))
    assert inner.read("batch_seq").count() == 10  # retry pass converged

    # always-failing store: the loop header climbs each pass until the E2
    # gate (next_attempt < limit, reference main.go:111-114) drops
    # everything — the spill must eventually come up EMPTY
    always = PoisonStore(inner, fail_times=10**9)
    pipe2 = _mk_pipe(spark, tmp_path / "p2", always, republish_limit=3)
    src = transport
    for attempt in range(5):
        _run(spark, pipe2, src, str(tmp_path / f"p2ck{attempt}"))
        nxt = str(tmp_path / f"p2t{attempt}")
        n = pipe2.requeue_republish(nxt)
        if n == 0:
            break
        src = nxt
    # attempts 1 and 2 republish; attempt 3 would reach the limit -> gated
    assert [r.republish for r in pipe2.results] == [10, 10, 0]


def test_default_spill_roots_bind_to_stream_checkpoints(spark, tmp_path):
    """Review r9 finding #1: two pipelines built WITHOUT an explicit
    republish_path must not share a spill root — the buffer binds to each
    stream's actual checkpoint dir at start()."""
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)

    def mk():
        cfg = Config()
        cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
        return CDCPipeline(
            spark, cfg, [TableSpec("batch_seq", FIELDS, PK)],
            PoisonStore(inner, fail_times=10**9),
            dead_letter_path=str(tmp_path / "dl"),
        )

    transport = str(tmp_path / "t")
    (
        spark.range(4)
        .select(
            F.lit(TOPIC).alias("topic"),
            F.encode(F.format_string(_ENV_TMPL, F.col("id"), F.col("id")), "utf-8").alias("value"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.lit(None).cast("timestamp").alias("timestamp"),
        )
        .write.mode("overwrite")
        .parquet(transport)
    )
    pa, pb = mk(), mk()
    assert pa.republish_path is None and pb.republish_path is None
    _run(spark, pa, transport, str(tmp_path / "ck_a"))
    _run(spark, pb, transport, str(tmp_path / "ck_b"))
    assert pa.republish_path != pb.republish_path
    assert pa.republish_path.startswith(str(tmp_path / "ck_a"))
    assert pb.republish_path.startswith(str(tmp_path / "ck_b"))
    # both buffers intact — neither stream clobbered the other's epoch 0
    assert pa.pending_republish().count() == 4
    assert pb.pending_republish().count() == 4


def test_replay_success_clears_stale_epoch_spill(spark, tmp_path):
    """Review r9 finding #2: a spill from a crashed epoch whose upsert
    SUCCEEDS on replay must be cleared — otherwise a later requeue
    re-delivers already-committed old events."""
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)
    store = PoisonStore(inner, fail_times=1)
    pipe = _mk_pipe(spark, tmp_path, store)
    batch = spark.createDataFrame(
        [(TOPIC, _ENV_TMPL.replace("%s", "7", 2).encode(), None, None)],
        "topic string, value binary, "
        "headers array<struct<key:string,value:binary>>, timestamp timestamp",
    )
    # first delivery of epoch 0 fails -> spill
    pipe.process_batch(batch, 0)
    assert pipe.pending_republish().count() == 1
    # replay of the SAME epoch succeeds -> spill for (0, table) cleared
    pipe.process_batch(batch, 0)
    assert inner.read("batch_seq").count() == 1
    assert pipe.pending_republish() is None


def test_requeue_drains_only_its_snapshot(spark, tmp_path, monkeypatch):
    """Review r9 finding #3: a slice spilled concurrently with a drain
    must survive for the next drain — requeue removes exactly the
    directories in its snapshot."""
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)
    pipe = _mk_pipe(spark, tmp_path, PoisonStore(inner, fail_times=10**9))
    batch = spark.createDataFrame(
        [(TOPIC, _ENV_TMPL.replace("%s", "7", 2).encode(), None, None)],
        "topic string, value binary, "
        "headers array<struct<key:string,value:binary>>, timestamp timestamp",
    )
    pipe.process_batch(batch, 0)
    pipe.process_batch(batch, 1)  # the "concurrent" spill
    slices = pipe._republish_slices()
    assert len(slices) == 2
    # the drain's snapshot sees only epoch 0 (simulating a spill that
    # landed after the snapshot was taken)
    monkeypatch.setattr(
        CDCPipeline, "_republish_slices", lambda self: [s for s in slices if "epoch=0" in s]
    )
    n = pipe.requeue_republish(str(tmp_path / "retry_t"))
    monkeypatch.undo()
    assert n == 1
    # epoch 1's spill survived and is still pending
    remaining = pipe.pending_republish()
    assert remaining is not None and remaining.count() == 1
    assert [s for s in pipe._republish_slices() if "epoch=1" in s]


def test_closed_loop_retry_self_heals(spark, tmp_path):
    """K3 closed-loop mode (reference main.go:174-203, the automatic
    re-produce): with retry_transport_path pointing at the SAME directory
    the stream reads, a transiently-failing sink self-heals — failed
    slices spill, requeue into the transport at batch end, defer past
    their E3 not_before deadline, and apply once the sink recovers. No
    manual drain anywhere."""
    import time

    transport = str(tmp_path / "transport")
    (
        spark.range(10)
        .select(
            F.lit(TOPIC).alias("topic"),
            F.encode(F.format_string(_ENV_TMPL, F.col("id"), F.col("id")), "utf-8").alias("value"),
            F.lit(None).cast("array<struct<key:string,value:binary>>").alias("headers"),
            F.lit(None).cast("timestamp").alias("timestamp"),
        )
        .write.mode("overwrite")
        .parquet(transport)
    )
    inner = PartitionedParquetStateStore(spark, str(tmp_path / "state"))
    inner.init("batch_seq", spark.createDataFrame([], "id long, seq long"), PK)
    store = PoisonStore(inner, fail_times=2)  # two failing batches, then ok
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, ["batch_seq"]
    cfg.republish_limit = 5
    pipe = CDCPipeline(
        spark,
        cfg,
        [TableSpec("batch_seq", FIELDS, PK)],
        store,
        dead_letter_path=str(tmp_path / "dl"),
        retry_transport_path=transport,
    )
    q = pipe.start(
        file_envelope_stream(spark, transport),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        deadline = time.time() + 150
        # poll the batch results, not the store: a store read runs crash
        # recovery, which discards the staging of an upsert still in flight
        while time.time() < deadline:
            if any(r.applied for r in pipe.results):
                break
            time.sleep(2)
    finally:
        q.stop()
    assert inner.read("batch_seq").count() == 10, "closed loop failed to converge"
    # at least one batch requeued automatically, and the buffer is drained
    assert any(r.requeued > 0 for r in pipe.results)
    assert pipe.pending_republish() is None
