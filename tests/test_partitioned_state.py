"""Partitioned state store: upsert correctness incl. the empty-bucket
deletion edge, delta appends and their compaction, readers beside writers,
concurrent-writer interleavings, and the local-path guard."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore


def hash_layout(n_buckets: int) -> dict:
    return {"bucket_mode": "hash", "n_buckets": n_buckets}


def range_layout(range_size: int) -> dict:
    return {"bucket_mode": "range", "range_size": range_size}


def ev_rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "before struct<id:long,v:long>, after struct<id:long,v:long>, pos long, ts_ms long",
    )


def test_partitioned_upsert_matrix(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    store.init("t", state, ["id"], layout=hash_layout(8))
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
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    state = spark.createDataFrame([(i, i) for i in range(200)], "id long, v long")
    store.init("t", state, ["id"], layout=hash_layout(16))
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
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    state = spark.createDataFrame([(1, 10)], "id long, v long")
    store.init("t", state, ["id"], layout=hash_layout(4))
    events = ev_rows(spark, [(Row(id=1, v=10), None, 1, 0)])
    store.upsert("t", events, ["id"])
    assert store.read("t").count() == 0


def test_evolve_preserves_persisted_layout(spark, tmp_path):
    """evolve() must keep the table's persisted bucket layout, also when
    another store instance than the one that created the table evolves it."""
    import json

    writer = PartitionedParquetStateStore(spark, str(tmp_path))
    writer.init("t", spark.createDataFrame([(15, "a")], "id long, v string"), ["id"],
                layout=range_layout(10))
    # another instance evolves the same table
    other = PartitionedParquetStateStore(spark, str(tmp_path))
    other.evolve("t", "ALTER TABLE t ADD COLUMNS (extra INT)")
    with open(f"{tmp_path}/t/_layout.json") as fh:
        layout = json.loads(fh.read())
    assert layout["bucket_mode"] == "range" and layout["range_size"] == 10
    assert "extra" in other.read("t").columns
    # rows still live in their range bucket (15 div 10 = 1)
    import os

    assert os.path.isdir(str(tmp_path / "t" / "_bucket=1"))


class Killed(BaseException):
    """A process kill inside the store, past any ``except Exception``."""


@pytest.mark.parametrize("point", ["staged", "published"])
def test_killed_evolve_keeps_table_layout_and_unique_keys(spark, tmp_path, point):
    """Kill an ADD COLUMN evolve after its staged rewrite (before the
    manifest publish) or right after the publish (before any sidecar or
    bucket moves). A fresh store must still see the table, bucket it with
    the persisted layout (8 buckets), keep every pk unique across an update,
    and find the evolve rolled back or forward — never a half-written
    table or a sibling copy of it."""
    import json

    seeded = PartitionedParquetStateStore(spark, str(tmp_path))
    seeded.init("t", spark.range(200).selectExpr("id", "id * 10 AS v"), ["id"])
    with open(f"{tmp_path}/t/_layout.json") as fh:
        layout = json.loads(fh.read())
    assert layout["n_buckets"] == 8

    def kill(*_):
        raise Killed(point)

    if point == "staged":
        seeded._post_stage_hook = kill
    else:
        seeded._apply_commit = kill
    with pytest.raises(Killed):
        seeded.evolve("t", "ALTER TABLE t ADD COLUMNS (note STRING)")

    fresh = PartitionedParquetStateStore(spark, str(tmp_path))
    assert fresh.exists("t")
    with open(f"{tmp_path}/t/_layout.json") as fh:
        assert json.loads(fh.read()) == layout
    rolled_forward = point == "published"
    assert ("note" in fresh.read("t").columns) == rolled_forward
    img = "struct<id:long,v:long" + (",note:string>" if rolled_forward else ">")
    old, new = ((5, 50, None), (5, 51, None)) if rolled_forward else ((5, 50), (5, 51))
    fresh.upsert("t", spark.createDataFrame(
        [(old, new, 1, 0)], f"before {img}, after {img}, pos long, ts_ms long"
    ), ["id"])
    state = fresh.read("t")
    assert state.count() == 200 and state.select("id").distinct().count() == 200
    assert state.filter("id = 5").first()["v"] == 51
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert {d for d in os.listdir(tmp_path / "t") if not d.startswith("_bucket=")} == {
        "_layout.json", "_pk.json", "_schema.json"
    }


def test_read_keys_pruned_lookup(spark, tmp_path):
    """read_keys returns exactly the requested rows and its plan prunes to
    the keys' bucket partitions."""
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame([(i, f"v{i}") for i in range(1, 101)], "id long, v string")
    store.init("t", seed, ["id"], layout=range_layout(10))
    out = store.read_keys("t", spark.createDataFrame([(15,), (16,), (55,)], "id long"))
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {15: "v15", 16: "v16", 55: "v55"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert store.read_keys("t", spark.createDataFrame([], "id long")).count() == 0


def test_read_keys_composite_pk(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame(
        [(i, j, i * 100 + j) for i in range(10) for j in range(5)],
        "a long, b long, v long",
    )
    store.init("t", seed, ["a", "b"], layout=hash_layout(8))
    out = store.read_keys("t", spark.createDataFrame([(3, 1), (7, 4)], "a long, b long"))
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
    a = PartitionedParquetStateStore(spark, str(tmp_path))
    b = PartitionedParquetStateStore(spark, str(tmp_path))
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    a.init("t", state, ["id"], layout=hash_layout(8))
    a.upsert("t", ev_rows(spark, [(None, Row(id=100, v=1), 1, 0)]), ["id"])
    b.upsert("t", ev_rows(spark, [(None, Row(id=200, v=2), 2, 0)]), ["id"])
    got = {(r["id"], r["v"]) for r in a.read("t").collect()}
    assert got == {(i, i * 10) for i in range(1, 9)} | {(100, 1), (200, 2)}


def _interleave(spark, tmp_path, ids_a, ids_b):
    """Writer A stages its merge; before A publishes its manifest, writer B
    runs a FULL upsert on the same table; then A resumes."""
    a = PartitionedParquetStateStore(spark, str(tmp_path))
    b = PartitionedParquetStateStore(spark, str(tmp_path))
    state = spark.createDataFrame([(i, i * 10) for i in range(1, 9)], "id long, v long")
    a.init("t", state, ["id"], layout=hash_layout(8))
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
    store_a = PartitionedParquetStateStore(spark, store_root)
    store_b = PartitionedParquetStateStore(spark, store_root)
    store_a.init(
        tbl, spark.createDataFrame([(0, 0)], "id long, seq long"), ["id"], layout=hash_layout(4)
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


def test_int_pk_update_with_long_key_keeps_one_row_per_id(spark, tmp_path):
    """A decoded key is a long whatever the pk column's type. Bucketing it
    uncast sends an update of an INT pk to another bucket than the stored
    row, and writing it uncast puts an INT64 file into an INT32 table, which
    the next read rejects."""
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(i, i * 10) for i in range(40)], "id int, v long"),
               ["id"])
    store.upsert("t", ev_rows(spark, [(Row(id=5, v=50), Row(id=5, v=51), 1, 0)]), ["id"])
    state = store.read("t")
    assert dict(state.dtypes)["id"] == "int"
    rows = state.collect()
    assert len(rows) == 40 and len({r["id"] for r in rows}) == 40
    assert [r["v"] for r in rows if r["id"] == 5] == [51]


def test_first_upsert_creates_table_with_sidecars_in_its_manifest(spark, tmp_path):
    """An upsert into a table the store has never committed creates it
    through the same commit: its manifest carries the schema (the after
    image's), pk and default hash layout sidecars beside the staged rows,
    so a kill after the publish rolls the whole table forward."""
    import json

    class Killed(BaseException):
        pass

    def kill(*_):
        raise Killed()

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store._apply_commit = kill
    events = ev_rows(spark, [
        (None, Row(id=1, v=10), 1, 0),
        (None, Row(id=2, v=20), 2, 0),
        (Row(id=1, v=10), Row(id=1, v=11), 3, 0),
        (Row(id=2, v=20), None, 4, 0),
    ])
    with pytest.raises(Killed):
        store.upsert("t", events, ["id"])
    with open(f"{tmp_path}/t/_commit.json") as fh:
        manifest = json.loads(fh.read())
    assert set(manifest["sidecars"]) == {"_schema.json", "_pk.json", "_layout.json"}
    assert json.loads(manifest["sidecars"]["_layout.json"]) == hash_layout(8)
    assert manifest["moves"] and os.path.isdir(f"{tmp_path}/t/_staging")

    fresh = PartitionedParquetStateStore(spark, str(tmp_path))
    assert fresh.exists("t") and fresh._pk_cols("t") == ["id"]
    assert fresh.read("t").dtypes == [("id", "bigint"), ("v", "bigint")]
    assert [tuple(r) for r in fresh.read("t").collect()] == [(1, 11)]
    assert fresh.upsert("t", ev_rows(spark, [(None, Row(id=3, v=30), 5, 0)]), ["id"]) == 1
    assert {tuple(r) for r in fresh.read("t").collect()} == {(1, 11), (3, 30)}


@pytest.mark.parametrize("layout,columns", [
    (hash_layout(8), "a long"),
    (range_layout(10), "b long"),
    (range_layout(10), "b long, a long"),
    (hash_layout(8), "a long, b long, v long"),
], ids=["partial_key_under_hash", "not_a_prefix", "pk_out_of_order", "wider_than_pk"])
def test_read_keys_rejects_keys_that_do_not_fix_the_bucket(spark, tmp_path, layout, columns):
    """Key columns that are not the pk prefix fixing the bucket raise
    ValueError before any Spark job runs."""
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    seed = spark.createDataFrame([(1, 2, 3)], "a long, b long, v long")
    store.init("t", seed, ["a", "b"], layout=layout)
    keys = spark.createDataFrame([tuple(range(len(columns.split(","))))], columns)
    sc = spark.sparkContext
    sc.setJobGroup("read_keys_probe", "read_keys input check")
    try:
        with pytest.raises(ValueError, match="not a leading prefix"):
            store.read_keys("t", keys)
        assert list(sc.statusTracker().getJobIdsForGroup("read_keys_probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_init_rejects_unknown_bucket_mode_before_writing(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path))
    with pytest.raises(ValueError, match="bucket_mode must be 'hash' or 'range'"):
        store.init("t", spark.createDataFrame([(1, 2)], "id long, v long"), ["id"],
                   layout={"bucket_mode": "ranged", "range_size": 10})
    assert os.listdir(tmp_path) == []


# -- merge on read: deltas, compaction, readers that never delete ------------


def _delta_entries(root, table="t") -> dict[str, list[str]]:
    path = f"{root}/{table}"
    return {
        d: os.listdir(f"{path}/{d}/_delta")
        for d in os.listdir(path)
        if d.startswith("_bucket=") and os.path.isdir(f"{path}/{d}/_delta")
    }


def _delta_dirs(root, table="t") -> list[str]:
    """The live deltas: each bucket's deltas above its latest snapshot."""
    return sorted(
        f"{d}/_delta/{n}"
        for d, names in _delta_entries(root, table).items()
        for n in PartitionedParquetStateStore._view(names)[1]
    )


def test_upsert_appends_a_delta_without_reading_the_table_in_at_most_three_jobs(
    spark, tmp_path, monkeypatch
):
    """An upsert into an existing table with no compaction due writes one
    delta directory per touched bucket, opens no file of the table with
    Spark (row counts come from footers) and runs at most three jobs."""
    from pyspark.sql.readwriter import DataFrameReader

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(i, i * 10) for i in range(400)], "id long, v long"),
               ["id"], layout=hash_layout(4))
    events = ev_rows(spark, [
        (Row(id=5, v=50), Row(id=5, v=51), 1, 0),
        (None, Row(id=1000, v=1), 2, 0),
        (Row(id=7, v=70), None, 3, 0),
    ])
    reads: list = []
    real_parquet = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet",
                        lambda self, *paths, **kw: reads.append(paths) or real_parquet(self, *paths, **kw))
    sc = spark.sparkContext
    sc.setJobGroup("upsert_probe", "one upsert")
    try:
        n = store.upsert("t", events, ["id"])
        jobs = list(sc.statusTracker().getJobIdsForGroup("upsert_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    monkeypatch.undo()
    assert reads == []
    assert 1 <= len(jobs) <= 3, jobs
    assert 1 <= n <= 3 and len(_delta_dirs(tmp_path)) == n
    got = {(r["id"], r["v"]) for r in store.read("t").collect()}
    assert got == {(i, i * 10) for i in range(400) if i not in (5, 7)} | {(5, 51), (1000, 1)}


def test_deltas_fold_into_a_snapshot_past_the_compaction_fraction(spark, tmp_path):
    """Each batch adds a delta until the bucket's delta rows pass
    COMPACT_FRACTION of its base rows; that commit folds them into a
    one-file snapshot and no delta is live after it. The fold retires
    nothing (a read planned before it still finds its files); the next
    fold drops what the previous snapshot superseded: the base, and the
    deltas and snapshots up to it."""
    from etl_consumer_spark.sinks.partitioned_state import COMPACT_FRACTION

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(i, 0) for i in range(40)], "id long, v long"), ["id"],
               layout=hash_layout(1))
    bucket = tmp_path / "t" / "_bucket=0"
    base_files = sorted(os.listdir(bucket))
    expected = {i: 0 for i in range(40)}
    pending, folds = 0, []
    for k in range(1, 7):
        ids = [(8 * k + j) % 40 for j in range(8)]
        planned = store.read("t")
        store.upsert("t", ev_rows(spark, [(Row(id=i, v=expected[i]), Row(id=i, v=k), k * 100 + i, 0)
                                           for i in ids]), ["id"])
        # a read planned before this commit runs after it, on its own view
        assert {(r["id"], r["v"]) for r in planned.collect()} == set(expected.items())
        expected.update((i, k) for i in ids)
        pending += 8
        if pending > COMPACT_FRACTION * 40:
            pending = 0
            folds.append(k)
        entries = _delta_entries(tmp_path)["_bucket=0"]
        snapshots = sorted(n for n in entries if n.endswith("-snapshot"))
        assert snapshots == [f"{f}-40-snapshot" for f in folds[-2:]]
        assert len(_delta_dirs(tmp_path)) == pending // 8
        if folds:
            assert len([f for f in os.listdir(bucket / "_delta" / snapshots[-1])
                        if f.endswith(".parquet")]) == 1
        # retired only by the second fold: the base, and entries up to the
        # previous snapshot
        assert sorted(os.listdir(bucket)) == (["_delta"] if len(folds) > 1 else sorted([*base_files, "_delta"]))
        if len(folds) > 1:
            assert min(PartitionedParquetStateStore._entry(n)[0] for n in entries) == folds[-2]
        assert {(r["id"], r["v"]) for r in store.read("t").collect()} == set(expected.items())
    assert folds == [3, 6]


def test_readers_leave_a_live_writers_staging_alone(spark, tmp_path):
    """While a writer sits between its staged delta and its manifest
    publish, a second store instance reads the table (``read``,
    ``read_keys``, ``exists``): the reads see the pre-batch state, and the
    writer then commits its batch. A read used to run crash recovery, which
    deleted the live staging and failed the writer."""
    writer = PartitionedParquetStateStore(spark, str(tmp_path))
    writer.init("t", spark.createDataFrame([(i, i) for i in range(400)], "id long, v long"), ["id"],
                layout=hash_layout(4))
    reader = PartitionedParquetStateStore(spark, str(tmp_path))
    seen: dict = {}

    def reads(table):
        if seen:
            return
        seen["rows"] = reader.read("t").count()
        seen["key"] = reader.read_keys("t", spark.createDataFrame([(1000,)], "id long")).count()
        seen["exists"] = reader.exists("t")

    writer._post_stage_hook = reads
    assert writer.upsert("t", ev_rows(spark, [(None, Row(id=1000, v=1), 1, 0)]), ["id"]) == 1
    writer._post_stage_hook = None
    assert seen == {"rows": 400, "key": 0, "exists": True}
    assert {tuple(r) for r in reader.read_keys("t", spark.createDataFrame([(1000,)], "id long"))
            .collect()} == {(1000, 1)}
    assert reader.read("t").count() == 401


def test_readers_and_a_writer_roll_one_manifest_forward_at_once(spark, tmp_path, monkeypatch):
    """A delta commit killed after its manifest publish is finished by the
    next caller. Five readers and a writer (more threads than cores, with
    a short switch interval) arriving together take turns on the
    manifest's lock: none fails, the killed batch lands once, and the
    writer's own batch follows it."""
    import sys
    import threading
    import time

    store = PartitionedParquetStateStore(spark, str(tmp_path))
    store.init("t", spark.createDataFrame([(i, i) for i in range(400)], "id long, v long"), ["id"],
               layout=hash_layout(4))

    def kill(*_):
        raise Killed("published")

    store._apply_commit = kill
    with pytest.raises(Killed):
        store.upsert("t", ev_rows(spark, [(Row(id=i, v=i), Row(id=i, v=-i), i, 0)
                                          for i in range(1, 9)]), ["id"])
    assert os.path.exists(f"{tmp_path}/t/_commit.json")

    real_swap = PartitionedParquetStateStore._swap_bucket

    def slow_swap(self, table, staged, live):
        time.sleep(0.2)  # every caller is inside the roll-forward window
        return real_swap(self, table, staged, live)

    monkeypatch.setattr(PartitionedParquetStateStore, "_swap_bucket", slow_swap)
    errors: list = []

    def run(fn):
        try:
            fn(PartitionedParquetStateStore(spark, str(tmp_path)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def write(s):
        s.upsert("t", ev_rows(spark, [(Row(id=1, v=-1), Row(id=1, v=100), 50, 0)]), ["id"])

    threads = [threading.Thread(target=run, args=(lambda s: s.read("t").collect(),))
               for _ in range(5)]
    threads.append(threading.Thread(target=run, args=(write,)))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(180)
    finally:
        sys.setswitchinterval(interval)
    monkeypatch.undo()
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = {r["id"]: r["v"] for r in store.read("t").collect()}
    assert len(got) == 400
    assert got[1] == 100 and all(got[i] == -i for i in range(2, 9)) and got[9] == 9


def test_reads_polled_during_a_live_stream_never_fail(spark, tmp_path):
    """A second thread polls ``store.read()`` from its own store instance
    while a file-transport stream commits one batch after another: no read
    fails, no batch dead-letters, and the final state equals a serial
    last-writer-wins fold of the stream. The seed is small, so most
    batches fold buckets into snapshots, and some buckets fold twice (the
    second fold drops the files the first superseded)."""
    import threading

    from etl_consumer_spark.config import Config
    from etl_consumer_spark.sources.envelope import WireField
    from etl_consumer_spark.sources.kafka import file_envelope_stream
    from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
    from tests.test_streaming import DB, SERVER, TOPIC, envelope, make_transport

    table = "batch_seq"
    root = str(tmp_path / "state")
    seed = {i: i for i in range(1000, 1016)}  # two rows a bucket: a batch's deltas pass the fraction
    store = PartitionedParquetStateStore(spark, root)
    store.init(table, spark.createDataFrame(list(seed.items()), "id long, seq long"), ["id"],
               layout=hash_layout(8))
    expected, pos = dict(seed), 0
    for b in range(8):
        msgs = []
        for k in range(8):
            key, pos = (b * 3 + k) % 12, pos + 1
            if key in expected and k % 3 == 2:
                before, after = {"id": key, "seq": expected.pop(key)}, None
            else:
                before = {"id": key, "seq": expected[key]} if key in expected else None
                after = {"id": key, "seq": pos}
                expected[key] = pos
            msgs.append((TOPIC, envelope(before, after, pos=pos)))
        make_transport(spark, msgs, str(tmp_path / "transport"))

    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = SERVER, DB, [table]
    pipe = CDCPipeline(spark, cfg, [TableSpec(table, [WireField("id", "int64"), WireField("seq", "int64")],
                                              ["id"])],
                       store, dead_letter_path=str(tmp_path / "dl"))
    reader = PartitionedParquetStateStore(spark, root)
    done = threading.Event()
    polls: list = []
    errors: list = []

    def poll():
        while not done.is_set():
            try:
                polls.append(len(reader.read(table).collect()))
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        q = pipe.start(file_envelope_stream(spark, str(tmp_path / "transport"), max_files_per_trigger=1),
                       checkpoint_dir=str(tmp_path / "ckpt"), trigger_available_now=True)
        q.awaitTermination(300)
    finally:
        done.set()
        poller.join(120)
    assert errors == [] and len(polls) >= 2
    assert len(pipe.results) == 8 and not any(r.dead_letters for r in pipe.results)
    assert {(r["id"], r["seq"]) for r in store.read(table).collect()} == set(expected.items())
    # folds ran under the polls, and some bucket's base was retired by its
    # second fold
    entries = _delta_entries(root, table)
    assert any(n.endswith("-snapshot") for names in entries.values() for n in names)
    assert any(os.listdir(f"{root}/{table}/{d}") == ["_delta"] for d in entries)
