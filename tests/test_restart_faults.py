"""Effective exactly-once across a crash: kill the stream at each layer
boundary of a micro-batch, restart from the same checkpoint with a fresh
pipeline and a fresh store instance, and check that the base state and its
SCD2 history equal a serial apply of the same envelopes.

The kill points, in the order a batch reaches them:

1. ``evolve_staged``   — an ``ADD COLUMN`` rides in the killed epoch; the
   base table's evolve is killed after its staged rewrite, before its
   manifest publish (``_post_stage_hook``): recovery rolls it back;
2. ``evolve_manifest`` — the same DDL, killed after the evolve's manifest
   publish, between two bucket swaps (``_swap_bucket``): recovery rolls
   the new schema forward;
3. ``staged``   — after the batch's staged delta write, before the manifest
   publish (``_post_stage_hook``); recovery must roll the batch back;
4. ``manifest`` — after the manifest publish, between two bucket moves
   (``_swap_bucket``); recovery must roll the batch forward;
5. ``delta_staged``, 6. ``delta_manifest`` — the same two points on a
   table seeded large enough that no compaction runs, so the restart
   reads base ∪ deltas of several commits, the rolled-back or rolled-forward
   one among them;
7. ``compaction`` — between two bucket folds of the compaction that
   follows the killed batch's delta commit (``_swap_bucket`` moving a
   snapshot); recovery must roll the compaction forward;
8. ``history``  — after the SCD2 history upsert;
9. ``offsets``  — after the whole batch, before Structured Streaming
   commits its offsets.

Points 1-4 and 7 run on a table seeded empty: every bucket's deltas pass
the compaction fraction of its (small) base, so every batch compacts.

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

from tests.test_streaming import DB, SERVER, TOPIC, ddl_envelope, envelope, make_transport

TABLE = "batch_seq"
FIELDS = [WireField("id", "int64"), WireField("seq", "int32"), WireField("name", "string")]
PK = ["id"]
KILLED_EPOCH = 1
# seed rows of the delta_* points: 25 per bucket, so the 22 events of the
# three batches never bring a bucket's deltas to the compaction fraction
SEED = [(i, 0, f"s{i}") for i in range(100, 300)]
ADD_COLUMN = f"ALTER TABLE `{DB}`.`{TABLE}` ADD COLUMN note VARCHAR(8)"


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


def _pipeline(spark, root, seed=()):
    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, [TABLE]
    store = PartitionedParquetStateStore(spark, f"{root}/state")
    if not store.exists(TABLE):
        store.init(TABLE, spark.createDataFrame(list(seed), "id long, seq long, name string"), PK)
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
    evolving: list[str] = []

    def killed_epoch(table):
        if fired or table != TABLE:
            return False
        if point.startswith("evolve_"):
            # the one DDL rides in the killed epoch
            return evolving == [TABLE]
        # the base table's upserts run one per epoch, in epoch order
        return upserts["n"] == KILLED_EPOCH + 1

    real_upsert = store.upsert

    def counting_upsert(table, *a, **kw):
        if table == TABLE:
            upserts["n"] += 1
        return real_upsert(table, *a, **kw)

    store.upsert = counting_upsert
    real_evolve = store.evolve

    def flagged_evolve(table, *a, **kw):
        evolving.append(table)
        try:
            return real_evolve(table, *a, **kw)
        finally:
            evolving.remove(table)

    store.evolve = flagged_evolve

    if point in ("staged", "evolve_staged", "delta_staged"):
        def after_stage(table):
            if killed_epoch(table):
                fired.append(point)
                raise Crash(point)

        store._post_stage_hook = after_stage
    elif point in ("manifest", "evolve_manifest", "delta_manifest", "compaction"):
        real_swap = PartitionedParquetStateStore._swap_bucket
        swaps = {"n": 0}

        def swap(self, table, staged, live):
            # a compaction moves snapshots, a batch moves deltas
            if killed_epoch(table) and (point != "compaction" or live.endswith("-snapshot")):
                swaps["n"] += 1
                if swaps["n"] == 2:  # one directory moved, the rest pending
                    fired.append(point)
                    raise Crash(point)
            return real_swap(self, table, staged, live)

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


@pytest.mark.parametrize(
    "point",
    ["evolve_staged", "evolve_manifest", "staged", "manifest", "delta_staged",
     "delta_manifest", "compaction", "history", "offsets"],
)
def test_kill_and_restart_equals_serial_apply(spark, tmp_path, monkeypatch, point):
    import os

    root = str(tmp_path)
    batches = _batches()
    seed = SEED if point.startswith("delta_") else ()
    ddl = point.startswith("evolve_")
    for epoch, batch in enumerate(batches):
        msgs = [(TOPIC, envelope(b, a, pos=p)) for b, a, p in batch]
        if ddl and epoch == KILLED_EPOCH:
            msgs.insert(0, (SERVER, ddl_envelope(DB, TABLE, ADD_COLUMN)))
        make_transport(spark, msgs, f"{root}/transport")

    crashed = _pipeline(spark, root, seed)
    fired: list[str] = []
    _install_fault(point, crashed, monkeypatch, fired)
    first: list[int] = []
    with pytest.raises(Exception, match=f"killed at {point}"):
        _run(spark, crashed, root, first)
    monkeypatch.undo()
    assert fired == [point]
    assert first == [0, KILLED_EPOCH]

    restarted = _pipeline(spark, root, seed)
    replayed: list[int] = []
    _run(spark, restarted, root, replayed)
    # the offset log re-delivers the killed epoch, then the stream moves on
    assert replayed == [KILLED_EPOCH, 2]
    assert not any(r.dead_letters or r.scd2_errors for r in restarted.results)

    state, history = _serial_apply(batches)
    store = restarted.store
    assert {tuple(r) for r in store.read(TABLE).select("id", "seq", "name").collect()} == (
        state | set(seed)
    )
    if seed:
        # no compaction ran: the state above was resolved from the deltas
        table_dir = f"{root}/state/{TABLE}"
        assert any(os.path.isdir(f"{table_dir}/{d}/_delta") for d in os.listdir(table_dir))
    got_history = {
        tuple(r)
        for r in store.read(f"{TABLE}__history")
        .select("id", "seq", "name", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert got_history == history
    if ddl:
        # the column was added once, in both tables, and no image carries it
        for t in (TABLE, f"{TABLE}__history"):
            assert store.read(t).filter("note IS NOT NULL").count() == 0


def test_a_failed_fold_does_not_fail_its_committed_batch(spark, tmp_path, monkeypatch):
    """A fold that raises an ordinary exception after its batch's delta
    committed (here once its snapshots are staged, before their manifest)
    leaves the batch applied: no dead letter, no spill, the SCD2 history
    written, and state and history equal to the serial fold. The next
    batch's upsert discards the fold's staging."""
    import os

    root = str(tmp_path)
    batches = _batches()
    for batch in batches:
        make_transport(spark, [(TOPIC, envelope(b, a, pos=p)) for b, a, p in batch], f"{root}/transport")
    pipe = _pipeline(spark, root)
    real_compact = PartitionedParquetStateStore._compact
    folds = {"n": 0}
    failed: list[str] = []

    def fail(table):
        failed.append(table)
        raise RuntimeError("fold failed")

    def compact(self, table, *args):
        if table == TABLE:
            folds["n"] += 1
            if folds["n"] == KILLED_EPOCH + 1:
                self._post_stage_hook = fail
        try:
            return real_compact(self, table, *args)
        finally:
            self._post_stage_hook = None

    monkeypatch.setattr(PartitionedParquetStateStore, "_compact", compact)
    epochs: list[int] = []
    _run(spark, pipe, root, epochs)
    monkeypatch.undo()

    assert failed == [TABLE] and epochs == [0, 1, 2]
    assert not any(r.dead_letters or r.scd2_errors for r in pipe.results)
    spill = pipe._republish_base()
    assert not os.path.isdir(spill) or not os.listdir(spill)
    assert not os.path.isdir(f"{root}/state/{TABLE}/_staging")
    state, history = _serial_apply(batches)
    store = pipe.store
    assert {tuple(r) for r in store.read(TABLE).select("id", "seq", "name").collect()} == state
    got_history = {
        tuple(r)
        for r in store.read(f"{TABLE}__history")
        .select("id", "seq", "name", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert got_history == history
