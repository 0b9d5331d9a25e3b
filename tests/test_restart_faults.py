"""Effective exactly-once across a crash: kill the stream at each layer
boundary of a micro-batch, restart from the same checkpoint with a fresh
pipeline and a fresh store instance, and check that the base state and its
SCD2 history equal a serial apply of the same envelopes.

The four kill points, in the order a batch reaches them:

1. ``staged``   — after the staged bucket write, before the manifest
   publish (``_post_stage_hook``); recovery must roll the batch back;
2. ``manifest`` — after the manifest publish, between two bucket swaps
   (``_swap_bucket``); recovery must roll the batch forward;
3. ``history``  — after the SCD2 history upsert;
4. ``offsets``  — after the whole batch, before Structured Streaming
   commits its offsets.

In every case the offset log replays the killed epoch, and the idempotent
apply (last-writer-wins + the history's closing guard) must converge.
Grounding: exactly-once from an offset log plus an idempotent sink
(Structured Streaming, SIGMOD 2018).
"""

from __future__ import annotations

import pytest

from etl_consumer_spark.config import Config
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.sources.kafka import file_envelope_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
from etl_consumer_spark.streaming.scd2 import SCD2StreamMaintainer

from tests.test_streaming import DB, SERVER, TOPIC, envelope, make_transport

TABLE = "batch_seq"
FIELDS = [WireField("id", "int64"), WireField("seq", "int32"), WireField("name", "string")]
PK = ["id"]
KILLED_EPOCH = 1


class Crash(BaseException):
    """A process kill: derives from BaseException so the pipeline's
    ``except Exception`` dead-letter and SCD2-error channels cannot absorb
    it; the guard in ``_run`` turns it into a failed micro-batch."""


def _img(id_, seq):
    return {"id": id_, "seq": seq, "name": f"n{id_}_{seq}"}


def _batches():
    """Three micro-batches of (before, after, pos) events on keys 1..9:
    inserts, then updates plus a delete, then an update, a re-insert of the
    deleted key, a new key and a second delete."""
    b0 = [(None, _img(i, 0), 100 + i) for i in range(1, 9)]
    b1 = [(_img(i, 0), _img(i, 1), 200 + i) for i in range(1, 9)]
    b1.append((_img(3, 1), None, 300))
    b2 = [
        (_img(1, 1), _img(1, 2), 400),
        (None, _img(3, 5), 401),
        (None, _img(9, 0), 402),
        (_img(5, 1), None, 403),
    ]
    return [b0, b1, b2]


def _serial_apply(batches):
    """Pure-Python fold of the event log in binlog order: the last image
    per key (absent when its last event is a delete), and the Type-2
    history — every image opens a version that the key's next event
    closes; deletes open nothing."""
    per_key: dict[int, list] = {}
    for before, after, pos in sorted((e for b in batches for e in b), key=lambda e: e[2]):
        key = (after or before)["id"]
        per_key.setdefault(key, []).append((pos, after))
    state, history = set(), set()
    for key, events in per_key.items():
        last = events[-1][1]
        if last is not None:
            state.add((key, last["seq"], last["name"]))
        for i, (pos, after) in enumerate(events):
            if after is None:
                continue
            valid_to = events[i + 1][0] if i + 1 < len(events) else None
            history.add((key, after["seq"], after["name"], pos, valid_to, valid_to is None))
    return state, history


def _pipeline(spark, root):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, [TABLE]
    store = PartitionedParquetStateStore(spark, f"{root}/state")
    if not store.exists(TABLE):
        store.init(TABLE, spark.createDataFrame([], "id long, seq long, name string"), PK)
    return CDCPipeline(
        spark, cfg, [TableSpec(TABLE, list(FIELDS), PK)], store,
        dead_letter_path=f"{root}/dead_letters", scd2_tables={TABLE},
    )


def _run(spark, pipe, root, epochs: list[int]):
    run_batch = pipe.process_batch

    def guarded(df, epoch_id):
        epochs.append(epoch_id)
        try:
            return run_batch(df, epoch_id)
        except Crash as exc:
            raise RuntimeError(f"killed at {exc}") from None

    pipe.process_batch = guarded
    query = pipe.start(
        file_envelope_stream(spark, f"{root}/transport", max_files_per_trigger=1),
        checkpoint_dir=f"{root}/ckpt",
        trigger_available_now=True,
    )
    try:
        query.awaitTermination(300)
    finally:
        query.stop()


def _install_fault(point, pipe, monkeypatch, fired):
    """Arm one kill point; it fires once, in the killed epoch."""
    store = pipe.store
    upserts = {"n": 0}

    def killed_epoch(table):
        # the base table's upserts run one per epoch, in epoch order
        return table == TABLE and upserts["n"] == KILLED_EPOCH + 1 and not fired

    real_upsert = store.upsert

    def counting_upsert(table, *a, **kw):
        if table == TABLE:
            upserts["n"] += 1
        return real_upsert(table, *a, **kw)

    store.upsert = counting_upsert

    if point == "staged":
        def after_stage(table):
            if killed_epoch(table):
                fired.append(point)
                raise Crash(point)

        store._post_stage_hook = after_stage
    elif point == "manifest":
        real_swap = PartitionedParquetStateStore._swap_bucket
        swaps = {"n": 0}

        def swap(self, table, bucket_dir):
            if killed_epoch(table):
                swaps["n"] += 1
                if swaps["n"] == 2:  # one bucket swapped, the rest pending
                    fired.append(point)
                    raise Crash(point)
            return real_swap(self, table, bucket_dir)

        monkeypatch.setattr(PartitionedParquetStateStore, "_swap_bucket", swap)
    elif point == "history":
        real_apply = SCD2StreamMaintainer.apply_batch

        def apply_batch(self, batch_df, batch_id):
            real_apply(self, batch_df, batch_id)
            if batch_id == KILLED_EPOCH and not fired:
                fired.append(point)
                raise Crash(point)

        monkeypatch.setattr(SCD2StreamMaintainer, "apply_batch", apply_batch)
    elif point == "offsets":
        real_batch = pipe.process_batch

        def process_batch(df, epoch_id):
            result = real_batch(df, epoch_id)
            if epoch_id == KILLED_EPOCH and not fired:
                fired.append(point)
                raise RuntimeError(f"killed at {point}")
            return result

        pipe.process_batch = process_batch


@pytest.mark.parametrize("point", ["staged", "manifest", "history", "offsets"])
def test_kill_and_restart_equals_serial_apply(spark, tmp_path, monkeypatch, point):
    root = str(tmp_path)
    batches = _batches()
    for batch in batches:
        make_transport(
            spark, [(TOPIC, envelope(b, a, pos=p)) for b, a, p in batch], f"{root}/transport"
        )

    crashed = _pipeline(spark, root)
    fired: list[str] = []
    _install_fault(point, crashed, monkeypatch, fired)
    first: list[int] = []
    with pytest.raises(Exception, match=f"killed at {point}"):
        _run(spark, crashed, root, first)
    monkeypatch.undo()
    assert fired == [point]
    assert first == [0, KILLED_EPOCH]

    restarted = _pipeline(spark, root)
    replayed: list[int] = []
    _run(spark, restarted, root, replayed)
    # the offset log re-delivers the killed epoch, then the stream moves on
    assert replayed == [KILLED_EPOCH, 2]
    assert not any(r.dead_letters or r.scd2_errors for r in restarted.results)

    state, history = _serial_apply(batches)
    store = restarted.store
    assert {tuple(r) for r in store.read(TABLE).select("id", "seq", "name").collect()} == state
    got_history = {
        tuple(r)
        for r in store.read(f"{TABLE}__history")
        .select("id", "seq", "name", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert got_history == history
