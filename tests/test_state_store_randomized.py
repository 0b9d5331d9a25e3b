"""Seeded multi-batch upsert sequences through the state store, checked
after every batch against a pure-Python last-writer-wins fold: ``read()``
must equal the fold, and ``read_keys()`` its rows for a sample of keys
(present, deleted and never seen).

Each sequence mixes inserts, updates and deletes, deletes a key and
re-inserts it in a later batch, updates one hot key in every batch, and
runs past compaction boundaries: small buckets reach the compaction
fraction within a few batches, so the table is read both with deltas
pending and right after a fold."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import Row

from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from tests.test_partitioned_state import _delta_dirs, ev_rows, hash_layout, range_layout

KEYS = range(60)
HOT, REBORN = 7, 3
BATCHES = 6


def _batch(rng: random.Random, view: dict, pos: int, b: int) -> tuple[list, int]:
    """One batch of (before, after, pos, ts) events, in binlog order, over
    ``view`` (the stream's own state, updated in place)."""
    keys = [rng.choice(KEYS) for _ in range(rng.randint(4, 14))] + [HOT]
    if b == 1:
        keys.append(REBORN)  # deleted below if present, else inserted
    events = []
    for k in keys:
        pos += 1
        before = Row(id=k, v=view[k]) if k in view else None
        if before is not None and (rng.random() < 0.3 or (b == 1 and k == REBORN)):
            events.append((before, None, pos, 0))
            del view[k]
            continue
        view[k] = pos
        events.append((before, Row(id=k, v=pos), pos, 0))
    if b == 3:  # re-insert the key deleted in batch 1
        pos += 1
        before = Row(id=REBORN, v=view[REBORN]) if REBORN in view else None
        view[REBORN] = pos
        events.append((before, Row(id=REBORN, v=pos), pos, 0))
    return events, pos


@pytest.mark.parametrize("layout", [hash_layout(4), range_layout(10)], ids=["hash", "range"])
@pytest.mark.parametrize("seed", [1, 2])
def test_upsert_sequences_match_a_last_writer_wins_fold(spark, tmp_path, layout, seed):
    rng = random.Random(seed)
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    view = {k: -k for k in range(0, 60, 2)}
    store.init("t", spark.createDataFrame(list(view.items()), "id long, v long"), ["id"], layout=layout)
    pos, deltas = 0, []
    for b in range(BATCHES):
        events, pos = _batch(rng, view, pos, b)
        # a batch may hold several events per key: shuffle the rows, the
        # store orders them by pos
        rng.shuffle(events)
        store.upsert("t", ev_rows(spark, events), ["id"])
        assert {(r["id"], r["v"]) for r in store.read("t").collect()} == set(view.items()), b
        sample = rng.sample(list(KEYS), 12) + [HOT, REBORN, 1000]
        keys = spark.createDataFrame([(k,) for k in sample], "id long")
        got = {(r["id"], r["v"]) for r in store.read_keys("t", keys).collect()}
        assert got == {(k, v) for k, v in view.items() if k in sample}, b
        deltas.append(len(_delta_dirs(tmp_path)))
    # both sides of a compaction boundary were read: deltas pending after
    # some batch, and fewer after a later one (a fold)
    assert max(deltas) > 0
    assert any(later < earlier for earlier, later in zip(deltas, deltas[1:])), deltas
    assert not os.path.exists(tmp_path / "t" / "_staging")
