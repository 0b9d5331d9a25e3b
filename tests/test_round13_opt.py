"""Round-13 optimization regressions: the changed operator internals.

Each optimization that altered HOW an operator computes (never WHAT it
computes) gets a focused probe here: staged-write file layout under the
clamped repartition, the adaptive SCD2 bucket sizing, compact_events'
aggregate compaction semantics, and the WireField rename-sharing fix.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_consumer_spark.operators.apply import compact_events
from etl_consumer_spark.operators.ddl import translate_mysql_ddl
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
from etl_consumer_spark.streaming.scd2 import SCD2StreamMaintainer


def _events(spark, rows):
    """rows: (key, before_val, after_val, pos) with None for null images."""
    img = "struct<k:long,v:long>"
    data = [
        (
            {"k": k, "v": bv} if bv is not None else None,
            {"k": k, "v": av} if av is not None else None,
            pos,
        )
        for k, bv, av, pos in rows
    ]
    return spark.createDataFrame(
        data, f"before {img}, after {img}, pos long"
    ).withColumn("ts_ms", F.lit(0).cast("long"))


def test_compact_events_keeps_latest_per_key(spark):
    """The max(struct) compaction must keep the highest-(pos, ts) event per
    key — including when replays duplicate events — exactly like the old
    row_number window."""
    ev = _events(
        spark,
        [
            (1, None, 10, 1), (1, 10, 11, 2), (1, 11, 12, 3),   # chain: last wins
            (2, None, 20, 1), (2, None, 20, 1),                 # replay duplicate
            (3, 30, None, 5), (3, 30, 31, 4),                   # delete is latest
        ],
    )
    out = {r["k"]: r for r in compact_events(ev, ["k"]).collect()}
    assert out[1]["_after"]["v"] == 12 and out[1]["_op"] == "update"
    assert out[2]["_after"]["v"] == 20 and out[2]["_op"] == "insert"
    assert out[3]["_after"] is None and out[3]["_op"] == "delete"
    assert all(len([r for r in compact_events(ev, ["k"]).collect() if r["k"] == k]) == 1
               for k in (1, 2, 3))


def test_upsert_staged_write_one_file_per_bucket_under_clamp(spark, tmp_path):
    """repartition(min(touched, parallelism), "_bucket") must still land each
    bucket in exactly ONE parquet file — the clamp bounds tasks, not the
    one-file-per-bucket layout (hash clustering keeps a bucket whole)."""
    n_buckets = 64  # far above local parallelism -> the clamp binds
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"), n_buckets=n_buckets)
    seed = spark.createDataFrame([(i, i) for i in range(2000)], "k long, v long")
    store.init("t", seed, ["k"])
    img = F.struct(F.col("k"), (F.col("v") + 1).alias("v"))
    events = seed.select(
        img.alias("before"),
        img.alias("after"),
        F.col("k").alias("pos"),
        F.lit(0).cast("long").alias("ts_ms"),
    )
    touched = store.upsert("t", events, ["k"])
    assert touched == n_buckets  # a corpus-wide batch touches every bucket
    for d in os.listdir(str(tmp_path / "s" / "t")):
        if d.startswith("_bucket="):
            files = [
                f for f in os.listdir(str(tmp_path / "s" / "t" / d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d} has {len(files)} files"
    assert store.read("t").count() == 2000


def test_scd2_adaptive_range_size_from_seed_stats(spark, tmp_path):
    """key_range_size=None derives the bucket width from the seed batch's
    span/density (target 65536 rows/bucket) and persists it in the layout;
    explicit ints still pin the layout."""
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    m = SCD2StreamMaintainer(store, "hist", "k", "ts", ["val"])
    # 1000 rows spanning keys 0..3996 (span 3997): range_size =
    # floor(65536 * span / n) = floor(65536 * 3997 / 1000) = 261947
    batch = spark.createDataFrame(
        [(i * 4, i, float(i)) for i in range(1000)], "k long, ts long, val double"
    )
    m.seed(batch)
    with open(str(tmp_path / "s" / "hist" / "_layout.json")) as fh:
        layout = json.loads(fh.read())
    assert layout["bucket_mode"] == "range"
    assert layout["range_size"] == int(65536 * 3997 / 1000) == 261947
    m.apply_batch(batch.withColumn("deleted", F.lit(False)).drop("deleted"), 0)
    hist = store.read("hist")
    assert hist.count() == 1000 and hist.filter("is_current").count() == 1000

    pinned = SCD2StreamMaintainer(store, "hist2", "k", "ts", ["val"], key_range_size=7)
    pinned.seed(batch)
    with open(str(tmp_path / "s" / "hist2" / "_layout.json")) as fh:
        assert json.loads(fh.read())["range_size"] == 7


def test_scd2_adaptive_range_size_empty_seed_falls_back(spark, tmp_path):
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"))
    m = SCD2StreamMaintainer(store, "hist", "k", "ts", ["val"])
    m.seed(spark.createDataFrame([], "k long, ts long, val double"))
    with open(str(tmp_path / "s" / "hist" / "_layout.json")) as fh:
        assert json.loads(fh.read())["range_size"] == 1024


def test_rename_does_not_mutate_shared_wirefields(spark, tmp_path):
    """RENAME COLUMN must rebuild the field list, not mutate the shared
    WireField objects — two pipelines built from one module-level field
    list must not see each other's renames (the round-13 ordering bug)."""
    shared = [WireField("id", "int64"), WireField("v", "int64")]
    store = PartitionedParquetStateStore(spark, str(tmp_path / "s"), n_buckets=2)
    store.init("t", spark.createDataFrame([(1, 2)], "id long, v long"), ["id"])
    from etl_consumer_spark.config import Config

    cfg = Config()
    cfg.server, cfg.db_name, cfg.tables = "srv", "db0", ["t"]
    pipe_a = CDCPipeline(spark, cfg, [TableSpec("t", shared, ["id"])], store)
    spec_b = TableSpec("t", shared, ["id"])
    pipe_a._refresh_fields(translate_mysql_ddl("ALTER TABLE t CHANGE COLUMN v w BIGINT")[0])
    assert [f.name for f in pipe_a.tables["t"].fields] == ["id", "w"]
    assert [f.name for f in spec_b.fields] == ["id", "v"], (
        "rename leaked into the shared WireField objects"
    )
