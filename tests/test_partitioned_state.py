"""Partitioned state store: partial rewrite correctness incl. the
empty-bucket deletion edge, concurrent-writer interleavings, and the
local-path guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore


def ev_rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "before struct<id:long,v:long>, after struct<id:long,v:long>, pos long, ts_ms long",
    )


def test_partitioned_upsert_matrix(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    store.init("t", state, ["id"])
    events = ev_rows(
        spark,
        [
            (None, Row(id=100, v=1), 1, 0),              # insert
            (Row(id=2, v=20), Row(id=2, v=21), 2, 0),    # update
            (Row(id=3, v=30), None, 3, 0),               # delete
        ],
    )
    n = store.upsert("t", events, ["id"])
    assert 1 <= n <= 8
    got = {(r["id"], r["v"]) for r in store.read("t").collect()}
    expect = {(i, i * 10) for i in range(1, 9) if i not in (2, 3)} | {(2, 21), (100, 1)}
    assert got == expect


def test_partitioned_untouched_buckets_not_rewritten(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=16)
    state = spark.createDataFrame([(i, i) for i in range(200)], "id long, v long")
    store.init("t", state, ["id"])
    mtimes_before = {
        d: os.path.getmtime(os.path.join(str(tmp_path), "t", d))
        for d in os.listdir(str(tmp_path / "t"))
        if d.startswith("_bucket=")
    }
    events = ev_rows(spark, [(Row(id=5, v=5), Row(id=5, v=99), 1, 0)])
    store.upsert("t", events, ["id"])
    mtimes_after = {
        d: os.path.getmtime(os.path.join(str(tmp_path), "t", d))
        for d in os.listdir(str(tmp_path / "t"))
        if d.startswith("_bucket=")
    }
    changed = [d for d in mtimes_before if mtimes_after.get(d) != mtimes_before[d]]
    assert len(changed) == 1  # only the bucket containing id=5
    assert {r["v"] for r in store.read("t").filter("id = 5").collect()} == {99}


def test_partitioned_delete_empties_bucket(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=4)
    state = spark.createDataFrame([(1, 10)], "id long, v long")
    store.init("t", state, ["id"])
    events = ev_rows(spark, [(Row(id=1, v=10), None, 1, 0)])
    store.upsert("t", events, ["id"])
    assert store.read("t").count() == 0


def test_evolve_preserves_persisted_layout(spark, tmp_path):
    """evolve() must keep the table's persisted bucket layout even when the
    acting store instance was constructed with different settings."""
    import json

    from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore

    writer = PartitionedParquetStateStore(
        spark, str(tmp_path), bucket_mode="range", range_size=10
    )
    writer.init("t", spark.createDataFrame([(15, "a")], "id long, v string"), ["id"])
    # a differently-configured instance evolves the same table
    other = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=4)
    other.evolve("t", "ALTER TABLE t ADD COLUMNS (extra INT)")
    with open(f"{tmp_path}/t/_layout.json") as fh:
        layout = json.loads(fh.read())
    assert layout["bucket_mode"] == "range" and layout["range_size"] == 10
    assert "extra" in other.read("t").columns
    # rows still live in their range bucket (15 div 10 = 1)
    import os

    assert os.path.isdir(str(tmp_path / "t" / "_bucket=1"))


def test_read_keys_pruned_lookup(spark, tmp_path):
    """read_keys returns exactly the requested rows and its plan prunes to
    the keys' bucket partitions."""
    from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore

    store = PartitionedParquetStateStore(
        spark, str(tmp_path), bucket_mode="range", range_size=10
    )
    seed = spark.createDataFrame([(i, f"v{i}") for i in range(1, 101)], "id long, v string")
    store.init("t", seed, ["id"])
    out = store.read_keys("t", [15, 16, 55])
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {15: "v15", 16: "v16", 55: "v55"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert store.read_keys("t", []).count() == 0


def test_read_keys_composite_pk(spark, tmp_path):
    from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore

    store = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    seed = spark.createDataFrame(
        [(i, j, i * 100 + j) for i in range(10) for j in range(5)],
        "a long, b long, v long",
    )
    store.init("t", seed, ["a", "b"])
    out = store.read_keys("t", [(3, 1), (7, 4)])
    assert {(r["a"], r["b"], r["v"]) for r in out.collect()} == {(3, 1, 301), (7, 4, 704)}


# -- concurrent-writer semantics (VERDICT r7 #6) ---------------------------
# The staged-manifest protocol gives SINGLE-WRITER atomicity per table: the
# staging directory and manifest are per-table, not per-writer, so the
# protocol serializes through them. These tests document exactly what a
# second writer does to an in-flight batch — the one semantic gap vs a real
# Delta/Iceberg MERGE, whose log arbitrates concurrent committers
# (COVERAGE.md §K1 carries the limits note).


def test_two_writers_serialized_disjoint_buckets(spark, tmp_path):
    """SERIALIZED batches from two distinct store instances are safe in any
    bucket pattern: the persisted _layout.json sidecar makes both agree on
    the bucketing, so each upsert is an independent atomic commit."""
    a = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    b = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    a.init("t", state, ["id"])
    a.upsert("t", ev_rows(spark, [(None, Row(id=100, v=1), 1, 0)]), ["id"])
    b.upsert("t", ev_rows(spark, [(None, Row(id=200, v=2), 2, 0)]), ["id"])
    got = {(r["id"], r["v"]) for r in a.read("t").collect()}
    assert got == {(i, i * 10) for i in range(1, 9)} | {(100, 1), (200, 2)}


def _interleave(spark, tmp_path, ids_a, ids_b):
    """Writer A stages its merge; before A publishes its manifest, writer B
    runs a FULL upsert on the same table; then A resumes."""
    a = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    b = PartitionedParquetStateStore(spark, str(tmp_path), n_buckets=8)
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    a.init("t", state, ["id"])
    batch_a = ev_rows(spark, [(None, Row(id=i, v=1), i, 0) for i in ids_a])
    batch_b = ev_rows(spark, [(None, Row(id=i, v=2), i, 0) for i in ids_b])

    def b_interleaves(table):
        b.upsert("t", batch_b, ["id"])

    a._post_stage_hook = b_interleaves
    # B's pre-write recovery finds A's staging with NO manifest — A never
    # reached its commit point — and rolls it back (the crash-recovery rule
    # applied to a live writer). A then fails LOUDLY on resume: its staging
    # directory is gone, so it cannot publish a bogus manifest.
    with pytest.raises((FileNotFoundError, OSError)):
        a.upsert("t", batch_a, ["id"])
    a._post_stage_hook = None
    return a, {(r["id"], r["v"]) for r in a.read("t").collect()}


def test_interleaved_writers_disjoint_buckets_lose_uncommitted_batch(spark, tmp_path):
    """Disjoint key sets: B's batch commits, A's uncommitted batch is
    discarded and A raises — never a torn or mixed table. Fail-loud lost
    work, not corruption; retrying A's batch afterwards converges."""
    a, got = _interleave(spark, tmp_path, ids_a=[100], ids_b=[200])
    base = {(i, i * 10) for i in range(1, 9)}
    assert got == base | {(200, 2)}  # B's commit only; A's never published
    # A's batch retried after the failure applies cleanly (idempotent replay)
    a.upsert("t", ev_rows(spark, [(None, Row(id=100, v=1), 100, 0)]), ["id"])
    got2 = {(r["id"], r["v"]) for r in a.read("t").collect()}
    assert got2 == base | {(200, 2), (100, 1)}


def test_interleaved_writers_overlapping_buckets_same_contract(spark, tmp_path):
    """Same key (maximal overlap): identical contract — B's value commits,
    A raises before publishing, no half-applied bucket ever visible."""
    _, got = _interleave(spark, tmp_path, ids_a=[300], ids_b=[300])
    assert got == {(i, i * 10) for i in range(1, 9)} | {(300, 2)}


def test_two_pipelines_partitioned_store_interleave_fails_loud_retry_converges(
    spark, tmp_path
):
    """VERDICT r9 #5: the DEFAULT backend's documented two-writer
    degradation, driven through two FULL CDCPipeline instances (no store
    unit seams beyond the documented staging hook). Writer B commits a complete stream while A sits
    between staging and publish; B's pre-write recovery rolls back A's
    staging, A's upsert fails LOUDLY into the K2/K3 channel (dead-letter
    + distributed republish spill — never a silent drop, never a torn
    bucket), and requeue + re-run converges A's batch. Final state =
    serial apply of both streams."""
    import json as _json
    import threading

    from etl_consumer_spark.config import Config
    from etl_consumer_spark.sources.envelope import WireField
    from etl_consumer_spark.sources.kafka import file_envelope_stream
    from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec

    server, db, tbl = "dbserver2", "batch", "batch_seq"
    topic = f"{server}.{db}.{tbl}"
    store_root = str(tmp_path / "state")
    store_a = PartitionedParquetStateStore(spark, store_root, n_buckets=4)
    store_b = PartitionedParquetStateStore(spark, store_root, n_buckets=4)
    store_a.init(
        tbl, spark.createDataFrame([(0, 0)], "id long, seq long"), ["id"]
    )

    def envelope(id_):
        return _json.dumps(
            {
                "payload": {
                    "before": None,
                    "after": {"id": id_, "seq": id_ % 97},
                    "source": {"name": server, "db": db, "table": tbl,
                                "file": "mysql-bin.000082", "pos": id_, "row": 0,
                                "query": None},
                    "op": "c",
                    "ts_ms": 1587202401764,
                }
            }
        )

    def write_transport(path, ids):
        spark.createDataFrame(
            [(topic, envelope(i).encode(), None, None) for i in ids],
            "topic string, value binary, "
            "headers array<struct<key:string,value:binary>>, timestamp timestamp",
        ).coalesce(1).write.mode("append").parquet(path)

    ids_a = list(range(1000, 1010))
    ids_b = list(range(2000, 2010))
    ta, tb = str(tmp_path / "ta"), str(tmp_path / "tb")
    write_transport(ta, ids_a)
    write_transport(tb, ids_b)

    def mk_pipe(name, store):
        cfg = Config()
        cfg.server, cfg.db_name, cfg.tables = server, db, [tbl]
        return CDCPipeline(
            spark,
            cfg,
            [TableSpec(tbl, [WireField("id", "int64"), WireField("seq", "int32")], ["id"])],
            store,
            dead_letter_path=str(tmp_path / f"dl_{name}"),
            republish_path=str(tmp_path / f"rp_{name}"),
        )

    # deterministic collision: while A sits staged-but-unpublished, B runs
    # its ENTIRE stream to completion (B's pre-write recovery discards A's
    # staging — the documented crash-recovery rule applied to a live writer)
    b_done = threading.Event()
    errs: list[str] = []

    def run_b():
        try:
            pipe_b = mk_pipe("b", store_b)
            q = pipe_b.start(
                file_envelope_stream(spark, tb),
                checkpoint_dir=str(tmp_path / "ck_b"),
                trigger_available_now=True,
            )
            q.awaitTermination(300)
            if any(r.dead_letters for r in pipe_b.results):
                errs.append("b: dead letters on a clean stream")
        except Exception as exc:  # noqa: BLE001
            errs.append(f"b: {exc}")
        finally:
            b_done.set()

    fired = {"done": False}

    def a_staged(table):
        if fired["done"]:
            return
        fired["done"] = True
        threading.Thread(target=run_b).start()
        assert b_done.wait(timeout=300), "B never finished"

    store_a._post_stage_hook = a_staged
    pipe_a = mk_pipe("a", store_a)
    q = pipe_a.start(
        file_envelope_stream(spark, ta),
        checkpoint_dir=str(tmp_path / "ck_a"),
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    store_a._post_stage_hook = None
    assert not errs, errs

    # loud failure: A's slice was dead-lettered AND spilled for retry —
    # nothing silently dropped, and the table is never torn: B's batch is
    # fully visible, A's not at all
    assert sum(r.dead_letters for r in pipe_a.results) == len(ids_a)
    assert sum(r.republish for r in pipe_a.results) == len(ids_a)
    mid = {(r["id"], r["seq"]) for r in store_a.read(tbl).collect()}
    assert mid == {(0, 0)} | {(i, i % 97) for i in ids_b}

    # clean retry convergence: drain A's spill into a retry transport and
    # re-run — the replayed slice applies, final state = serial union
    retry_t = str(tmp_path / "ta_retry")
    assert pipe_a.requeue_republish(retry_t) == len(ids_a)
    q2 = pipe_a.start(
        file_envelope_stream(spark, retry_t),
        checkpoint_dir=str(tmp_path / "ck_a2"),
        trigger_available_now=True,
    )
    q2.awaitTermination(300)
    got = {(r["id"], r["seq"]) for r in store_a.read(tbl).collect()}
    assert got == {(0, 0)} | {(i, i % 97) for i in ids_a + ids_b}


@pytest.mark.parametrize("scheme", ["file://", "s3a://bucket", "hdfs://nn:8020"])
def test_uri_base_path_rejected_before_any_write(spark, tmp_path, scheme):
    """The commit protocol's renames are atomic only on a local filesystem:
    a base path with a URI scheme must fail in the constructor, before a
    Spark write could leave bucket data without its sidecars."""
    path = f"{scheme}{tmp_path}/state"
    with pytest.raises(ValueError, match="Delta MERGE") as exc:
        PartitionedParquetStateStore(spark, path)
    assert path in str(exc.value)
    assert os.listdir(tmp_path) == []
