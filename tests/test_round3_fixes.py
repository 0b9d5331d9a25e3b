"""Round-3 hardening tests (VERDICT/ADVICE follow-ups): floor-preserving
range bucketing for negative keys, pk-order validation in read_keys,
connected-components
non-convergence detection plus the large-star/small-star scale path,
bloom k>4 position derivation, and the plan-bound passthrough cap with
overflow retention when no dead-letter sink is configured.
"""

from __future__ import annotations

import json
import os

import pytest

from etl_consumer_spark.extensions.dedup import (
    connected_components,
    connected_components_star,
)
from etl_consumer_spark.extensions.sketches import (
    bloom_bits,
    bloom_might_contain,
    bloom_positions,
)
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

from tests.test_partitioned_state import hash_layout, range_layout
from tests.test_round2_pipeline import STATE_DDL, _cfg
from tests.test_streaming import (
    DB,
    FIELDS,
    PK,
    SERVER,
    TOPIC,
    make_transport,
    row,
    run_stream,
)
from pyspark.sql import functions as F


# -- range bucketing: floor semantics for negative keys (ADVICE #1) --------


def test_range_bucket_floor_division_negative_keys(spark, tmp_path):
    """Range bucket ids must use FLOOR division (SQL div truncates toward
    zero): -5 div 10 would be 0 (colliding with key 5's bucket and breaking
    tables persisted by floor-based layouts); floor(-5/10) = -1."""
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame(
        [(-15, "a"), (-5, "b"), (5, "c"), (15, "d")], "id long, v string"
    )
    store.init("t", seed, ["id"], layout=range_layout(10))
    dirs = {d for d in os.listdir(str(tmp_path / "t")) if d.startswith("_bucket=")}
    assert dirs == {"_bucket=-2", "_bucket=-1", "_bucket=0", "_bucket=1"}
    # lookups agree with the persisted layout
    keys = spark.createDataFrame([(-15,), (-5,), (5,)], "id long")
    out = {r["id"]: r["v"] for r in store.read_keys("t", keys).collect()}
    assert out == {-15: "a", -5: "b", 5: "c"}
    # exact-multiple negatives have zero remainder: -20/10 = -2 exactly
    store.init("t2", spark.createDataFrame([(-20, "x")], "id long, v string"), ["id"],
               layout=range_layout(10))
    assert os.path.isdir(str(tmp_path / "t2" / "_bucket=-2"))


def test_range_bucket_upsert_negative_keys(spark, tmp_path):
    from pyspark.sql import Row

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(-5, 1)], "id long, v long"), ["id"],
               layout=range_layout(10))
    events = spark.createDataFrame(
        [(Row(id=-5, v=1), Row(id=-5, v=2), 1, 0)],
        "before struct<id:long,v:long>, after struct<id:long,v:long>, pos long, ts_ms long",
    )
    store.upsert("t", events, ["id"])
    # the update must land in the SAME bucket as the seeded row (no
    # duplicate pk split across a floor bucket and a div bucket)
    assert [(r["id"], r["v"]) for r in store.read("t").collect()] == [(-5, 2)]


# -- read_keys pk-order validation (ADVICE #5) ------------------------------


def test_read_keys_rejects_reordered_pk(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame([(1, 2, 3)], "a long, b long, v long")
    store.init("t", seed, ["a", "b"], layout=hash_layout(8))
    with pytest.raises(ValueError, match="not a leading prefix of its pk"):
        store.read_keys("t", spark.createDataFrame([(2, 1)], "b long, a long"))
    # matching order still works
    assert store.read_keys("t", spark.createDataFrame([(1, 2)], "a long, b long")).count() == 1


# -- atomic staged commit: crash injection (VERDICT next #2) ----------------


def _seeded_store(spark, tmp_path, n=200):
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame([(i, i) for i in range(n)], "id long, v long")
    store.init("t", seed, ["id"], layout=hash_layout(16))
    return store, {(i, i) for i in range(n)}


def _update_events(spark, ids):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [(Row(id=i, v=i), Row(id=i, v=i + 1000), p + 1, 0) for p, i in enumerate(ids)],
        "before struct<id:long,v:long>, after struct<id:long,v:long>, pos long, ts_ms long",
    )


def test_crash_between_bucket_swaps_rolls_forward(spark, tmp_path, monkeypatch):
    """Interrupt the commit BETWEEN two bucket swaps (after the manifest —
    the commit point): reopening the store must roll the batch forward to
    exactly the post-batch state, never a mix."""
    store, _ = _seeded_store(spark, tmp_path)
    ids = list(range(0, 40))        # touches many of the 16 buckets
    post = {(i, i + 1000) for i in ids} | {(i, i) for i in range(40, 200)}

    calls = {"n": 0}
    orig = PartitionedParquetStateStore._swap_bucket

    def crashing_swap(self, table, staged, live):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash between bucket swaps")
        return orig(self, table, staged, live)

    monkeypatch.setattr(PartitionedParquetStateStore, "_swap_bucket", crashing_swap)
    with pytest.raises(OSError, match="injected crash"):
        store.upsert("t", _update_events(spark, ids), ["id"])
    monkeypatch.setattr(PartitionedParquetStateStore, "_swap_bucket", orig)

    # disk is mid-swap now; a FRESH store instance must recover on open
    assert os.path.exists(str(tmp_path / "t" / "_commit.json"))
    reopened = PartitionedParquetStateStore(spark, str(tmp_path))
    got = {(r["id"], r["v"]) for r in reopened.read("t").collect()}
    assert got == post
    assert not os.path.exists(str(tmp_path / "t" / "_commit.json"))
    assert not os.path.isdir(str(tmp_path / "t" / "_staging"))


def test_crash_before_manifest_rolls_back(spark, tmp_path, monkeypatch):
    """Interrupt AFTER the staging write but BEFORE the manifest publish:
    the batch never committed, so reopening must yield exactly the
    pre-batch state. A read leaves the orphaned staging alone (it could be
    a live writer's); the next write discards it."""
    store, pre = _seeded_store(spark, tmp_path)

    def no_publish(path_tmp, path_final):
        raise OSError("injected crash before manifest publish")

    monkeypatch.setattr(os, "replace", no_publish)
    with pytest.raises(OSError, match="injected crash"):
        store.upsert("t", _update_events(spark, range(40)), ["id"])
    monkeypatch.undo()

    assert os.path.isdir(str(tmp_path / "t" / "_staging"))
    assert not os.path.exists(str(tmp_path / "t" / "_commit.json"))
    reopened = PartitionedParquetStateStore(spark, str(tmp_path))
    got = {(r["id"], r["v"]) for r in reopened.read("t").collect()}
    assert got == pre
    assert os.path.isdir(str(tmp_path / "t" / "_staging"))
    reopened.upsert("t", _update_events(spark, [0]), ["id"])
    assert not os.path.isdir(str(tmp_path / "t" / "_staging"))


def test_commit_handles_emptied_buckets(spark, tmp_path):
    """A touched bucket whose rows were all deleted must be removed by the
    commit (it writes no staging directory)."""
    from pyspark.sql import Row

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"), ["id"],
               layout=hash_layout(4))
    events = spark.createDataFrame(
        [(Row(id=1, v=10), None, 1, 0)],
        "before struct<id:long,v:long>, after struct<id:long,v:long>, pos long, ts_ms long",
    )
    store.upsert("t", events, ["id"])
    assert {(r["id"], r["v"]) for r in store.read("t").collect()} == {(2, 20)}
    assert not os.path.exists(str(tmp_path / "t" / "_commit.json"))
    assert not os.path.isdir(str(tmp_path / "t" / "_staging"))


# -- broadcast decision folded into the bucket job (VERDICT next #6) --------


def test_upsert_broadcast_decision_without_count_job(spark, tmp_path, monkeypatch):
    """An upsert into an existing table runs no standalone
    DataFrame.count() action (the broadcast-vs-sort-merge decision it once
    sized is gone with the merge)."""
    store, _ = _seeded_store(spark, tmp_path, n=50)
    df_cls = type(spark.range(1))
    orig_count = df_cls.count
    count_calls = []

    def spy_count(self):
        count_calls.append(self.columns)
        return orig_count(self)

    monkeypatch.setattr(df_cls, "count", spy_count)
    store.upsert("t", _update_events(spark, range(10)), ["id"])
    assert count_calls == []
    monkeypatch.undo()
    got = {r["v"] for r in store.read("t").filter("id < 10").collect()}
    assert got == {i + 1000 for i in range(10)}


# -- connected components: convergence + large-star/small-star --------------


def _chain(spark, n):
    """Path graph 0-1-2-...-n-1: diameter n-1 — the adversarial case for
    min-label propagation."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    verts = spark.range(n).withColumnRenamed("id", "doc_id")
    return pairs, verts


def test_connected_components_raises_on_non_convergence(spark):
    pairs, verts = _chain(spark, 12)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, verts, max_iter=3)


def test_star_converges_on_long_chain_in_few_rounds(spark):
    """A 96-node chain (diameter 95) must converge within 15 alternating
    rounds — the O(log^2 n) bound in rounds, ≪ diameter (label propagation
    would need ~95 rounds and raise here)."""
    pairs, verts = _chain(spark, 96)
    labels = connected_components_star(pairs, verts, max_iter=15)
    got = {(r["doc_id"], r["component"]) for r in labels.collect()}
    assert got == {(i, 0) for i in range(96)}


def test_star_matches_label_propagation(spark):
    """Identical labels on a multi-component graph with isolated vertices."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21)], "a long, b long"
    )
    verts = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 10, 11, 12, 20, 21, 99]], "doc_id long"
    )
    lp = {(r["doc_id"], r["component"]) for r in connected_components(pairs, verts).collect()}
    star = {
        (r["doc_id"], r["component"])
        for r in connected_components_star(pairs, verts).collect()
    }
    assert star == lp
    assert (99, 99) in star  # isolated vertex labels itself


# -- bloom k > 4 (ADVICE #4) ------------------------------------------------


def test_bloom_k6_positions_and_probe(spark):
    """k=6 derives positions 5-6 from a chained digest instead of slicing
    past the end of one md5 (which silently yielded nulls / ValueError)."""
    keys = spark.createDataFrame([(f"key{i}",) for i in range(50)], "key string")
    pos = keys.select(bloom_positions(F.col("key"), k=6).alias("p")).collect()
    for r in pos:
        assert len(r["p"]) == 6
        assert all(p is not None and 0 <= p < 1024 for p in r["p"])
    bits = {
        r["word_idx"]: r["bits"] for r in bloom_bits(keys, "key", k=6).collect()
    }
    # no false negatives at k=6: Spark-built filter vs driver-side probe
    for i in range(50):
        assert bloom_might_contain(bits, f"key{i}", k=6)
    # k<=4 positions are unchanged by the chaining (oracle stability)
    one = keys.limit(1).select(
        bloom_positions(F.col("key"), k=4).alias("p4"),
        bloom_positions(F.col("key"), k=6).alias("p6"),
    ).collect()[0]
    assert one["p6"][:4] == one["p4"]


# -- passthrough cap binds in the plan + overflow retention (VERDICT #3) ----


def _pass_env(i):
    return json.dumps(
        {
            "payload": {
                "before": None,
                "after": row(i, 1, 0, 100, 18000),
                "source": {
                    "name": SERVER,
                    "db": DB,
                    "table": "batch_seq",
                    "pos": i,
                    "row": 0,
                    "query": f"INSERT INTO batch_seq VALUES ({i})",
                },
                "op": "c",
                "ts_ms": 1,
            }
        }
    )


def test_passthrough_collect_is_plan_bounded(spark, tmp_path, monkeypatch):
    """The flood guard must bind in the PLAN: no single collect() during the
    batch may ship more than limit+1 passthrough rows to the driver."""
    cfg = _cfg()
    cfg.passthrough_limit = 2
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    store.init("batch_seq", spark.createDataFrame([], STATE_DDL), PK, layout=hash_layout(4))
    executed = []
    pipe = CDCPipeline(
        spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store,
        dead_letter_path=str(tmp_path / "dl"),
        passthrough_executor=executed.append,
    )
    collected_sizes = []
    # patch the CONCRETE DataFrame class (pyspark 4 routes collect through
    # the classic/connect subclass, not the pyspark.sql.DataFrame base)
    df_cls = type(spark.range(1))
    orig_collect = df_cls.collect

    def spy_collect(self):
        rows = orig_collect(self)
        if rows and "passthrough" in self.columns:
            collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy_collect)
    msgs = [(TOPIC, _pass_env(i)) for i in range(10, 22)]   # 12 statements
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))

    assert len(executed) == 2
    assert pipe.results[-1].dead_letters == 10
    assert spark.read.parquet(str(tmp_path / "dl")).count() == 10
    assert collected_sizes and max(collected_sizes) <= cfg.passthrough_limit + 1


def test_passthrough_overflow_retained_without_dead_letter_sink(spark, tmp_path):
    """ADVICE #3: with no dead-letter path, overflow statements stay
    replayable in BatchResult instead of being silently dropped."""
    cfg = _cfg()
    cfg.passthrough_limit = 2
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    store.init("batch_seq", spark.createDataFrame([], STATE_DDL), PK, layout=hash_layout(4))
    executed = []
    pipe = CDCPipeline(
        spark, cfg, [TableSpec("batch_seq", FIELDS, PK)], store,
        passthrough_executor=executed.append,
    )
    msgs = [(TOPIC, _pass_env(i)) for i in range(10, 14)]   # 4 statements
    make_transport(spark, msgs, str(tmp_path / "t"))
    run_stream(spark, pipe, str(tmp_path / "t"), str(tmp_path / "ck"))

    res = pipe.results[-1]
    assert len(executed) == 2 and res.dead_letters == 2
    assert len(res.passthrough_overflow) == 2
    # executed + retained = the full statement set, no loss, no overlap
    all_stmts = {f"INSERT INTO batch_seq VALUES ({i})" for i in range(10, 14)}
    assert set(executed) | set(res.passthrough_overflow) == all_stmts
    assert not set(executed) & set(res.passthrough_overflow)
