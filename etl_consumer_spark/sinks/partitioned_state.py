"""K1 — the engine's state store: materialized current-state tables (the
reference's MySQL target, main.go:135), bucket-partitioned with
partial-partition rewrite.

Rewriting the whole table every batch costs O(state) I/O per batch. This
store partitions state by ``bucket = pmod(hash(pk), n_buckets)`` and each
upsert:

1. derives the micro-batch's touched buckets (a tiny distinct list),
2. reads ONLY those partitions (directory-partition pruning — verify with
   ``.explain``: the scan's PartitionFilters carry the bucket list),
3. applies the CDC merge to that slice,
4. rewrites only those partitions via dynamic partition overwrite.

Per-batch I/O is O(touched partitions), independent of total state size —
the property that makes per-batch upserts viable at 100 TB. Measured on a
1.2M-row state with a 4k hot-tail batch: 1 of 143 range partitions
rewritten; at local toy scale wall-time is constant-dominated, the win is
the I/O asymptotics.

Bucket count is data-dependent by default (``n_buckets=None`` → about
``rows / target_bucket_rows`` at init, clamped to [8, 4096]) and persisted
in a per-table ``_layout.json`` sidecar, so every later reader/writer —
including a fresh store instance — agrees on the layout. A fixed k would
either over-partition small tables (small-file storm, constant-dominated
batches) or under-partition huge ones (per-bucket rewrite approaches
O(state) again).

Batches commit atomically via a staged-manifest protocol (the reference
got per-statement atomicity for free from its SQL target, main.go:135;
Delta's transaction log is the full-featured equivalent — this is the
dependency-free version with the same pipeline protocol above it):

1. the merged slice is written to a ``_staging`` directory (never the
   live table), partitioned by bucket;
2. a ``_commit.json`` manifest (touched + surviving buckets) is published
   with an atomic rename — THE commit point;
3. bucket directories are swapped into the table one rename at a time,
   then staging and manifest are removed.

A crash before step 2 rolls BACK on the next open (staging discarded,
table untouched = pre-batch state); a crash after step 2 rolls FORWARD
(the swap is re-applied idempotently = post-batch state). Readers never
observe a mix: every public entry point runs recovery first. Staging
also means the merge plan reads files the write never touches, so no
cache-pinning dance and one fewer collect() job per batch.

One writer per table, on a local filesystem: the protocol's commit point
is an ``os.replace`` and each bucket swap an ``os.rename``, which are
atomic only on a POSIX filesystem. Base paths with a URI scheme
(``s3a://``, ``hdfs://``, ``file://``) are rejected. Multi-writer tables
and object-store state take a deploy-time Delta ``MERGE`` above the same
apply protocol (``operators.apply``).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_consumer_spark.operators.apply import apply_cdc
from etl_consumer_spark.sinks.state import evolve_frame, parse_rename_column


class PartitionedParquetStateStore:
    """``bucket_mode='hash'`` spreads keys uniformly — it bounds rewrite I/O
    only while distinct batch keys ≪ n_buckets (a large uniform batch
    touches every bucket: coupon collector). ``bucket_mode='range'``
    (bucket = pk div range_size) exploits key locality instead: CDC
    batches that cluster on recent/hot keys (the common case — inserts at
    the key tail, updates to recent rows) touch only the few ranges they
    live in, independent of batch size."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        n_buckets: int | None = None,
        bucket_mode: str = "hash",
        range_size: int = 1_000_000,
        range_sizes: list[int] | None = None,
        target_bucket_rows: int = 65536,
    ):
        if bucket_mode not in ("hash", "range"):
            raise ValueError(f"bucket_mode must be 'hash' or 'range', got {bucket_mode!r}")
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", base_path):
            raise ValueError(
                f"state path {base_path!r} carries a URI scheme: the state store "
                "commits with local renames and needs a local filesystem path; "
                "state on an object store or HDFS needs a deploy-time Delta MERGE"
            )
        self.spark = spark
        self.base = base_path.rstrip("/")
        self.n_buckets = n_buckets
        self.bucket_mode = bucket_mode
        self.range_size = range_size
        self.range_sizes = range_sizes
        self.target_bucket_rows = target_bucket_rows

    # test seam (like _swap_bucket's crash seam): when set on an instance,
    # called after the staged merge is materialized and before the manifest
    # publish — the window the concurrent-writer tests interleave into
    _post_stage_hook = None

    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    # -- per-table layout (persisted so re-instantiated stores agree) ------

    def _layout(self, table: str) -> dict:
        try:
            with open(f"{self._path(table)}/_layout.json") as fh:
                return json.loads(fh.read())
        except FileNotFoundError:
            return {
                "bucket_mode": self.bucket_mode,
                "n_buckets": self.n_buckets or 64,
                "range_size": self.range_size,
            }

    @staticmethod
    def _floor_div(col, divisor: int):
        # exact FLOOR division on longs at any magnitude: SQL `div`
        # truncates toward zero, so adjust negatives with a remainder —
        # floor semantics keep bucket ids stable for negative keys and
        # match tables persisted by earlier floor-based layouts (a plain
        # `/` would round-trip through double and drift past 2^53)
        c = col.cast("long")
        q = F.call_function("div", c, F.lit(divisor))
        return F.when((c % divisor != 0) & (c < 0), q - 1).otherwise(q)

    def _bucket_of(self, cols: list, layout: dict):
        if layout["bucket_mode"] == "range":
            sizes = layout.get("range_sizes") or [layout["range_size"]]
            if len(sizes) > 1:
                # composite-pk range layout: one range id per pk column,
                # concatenated into a single partition value — lookups on
                # the full composite key still prune to one directory
                parts = [
                    self._floor_div(c, s).cast("string")
                    for c, s in zip(cols, sizes)
                ]
                return F.concat_ws("_", *parts)
            return self._floor_div(cols[0], sizes[0])
        return F.pmod(F.hash(*cols), F.lit(layout["n_buckets"]))

    def _bucket(self, pk_cols: list[str], layout: dict):
        return self._bucket_of([F.col(c) for c in pk_cols], layout)

    def init(self, table: str, df: DataFrame, pk_cols: list[str], layout: dict | None = None) -> None:
        if layout is None:
            k = self.n_buckets
            if k is None and self.bucket_mode == "hash":
                # data-dependent bucket count: one count() per table lifetime
                k = max(8, min(4096, -(-df.count() // self.target_bucket_rows)))
            layout = {
                "bucket_mode": self.bucket_mode,
                "n_buckets": k or 64,
                "range_size": self.range_size,
            }
            if self.bucket_mode == "range" and (self.range_sizes or len(pk_cols) > 1):
                # composite-pk range spec: one range size per pk column,
                # persisted so every later reader agrees on the layout
                sizes = self.range_sizes or [self.range_size] * len(pk_cols)
                if len(sizes) != len(pk_cols):
                    raise ValueError(
                        f"range_sizes width {len(sizes)} != pk width {len(pk_cols)}"
                    )
                layout["range_sizes"] = list(sizes)
        (
            df.withColumn("_bucket", self._bucket(pk_cols, layout))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._path(table))
        )
        # sidecars: read() must survive a fully-emptied table (no parquet
        # files left to infer schema from), and every writer must agree on
        # the bucket layout and pk
        with open(f"{self._path(table)}/_schema.json", "w") as fh:
            fh.write(df.schema.json())
        with open(f"{self._path(table)}/_pk.json", "w") as fh:
            fh.write(json.dumps(pk_cols))
        with open(f"{self._path(table)}/_layout.json", "w") as fh:
            fh.write(json.dumps(layout))

    # -- staged-commit protocol (atomic multi-bucket batches) --------------

    def _staging(self, table: str) -> str:
        # leading underscore: Spark/Hadoop readers ignore it, like _SUCCESS
        return f"{self._path(table)}/_staging"

    def _manifest(self, table: str) -> str:
        return f"{self._path(table)}/_commit.json"

    def _swap_bucket(self, table: str, bucket_dir: str) -> None:
        """Move one staged bucket directory into the live table (atomic per
        bucket: same-filesystem rename). Separated out so crash-injection
        tests can fail between two swaps."""
        dst = f"{self._path(table)}/{bucket_dir}"
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(f"{self._staging(table)}/{bucket_dir}", dst)

    def _apply_commit(self, table: str) -> None:
        """Roll a published manifest forward. Idempotent: a bucket already
        swapped is absent from staging and skipped; dead-bucket removal
        re-runs harmlessly."""
        with open(self._manifest(table)) as fh:
            manifest = json.loads(fh.read())
        staging = self._staging(table)
        for b in manifest["touched"]:
            bucket_dir = f"_bucket={b}"
            if b in manifest["surviving"]:
                if os.path.isdir(f"{staging}/{bucket_dir}"):
                    self._swap_bucket(table, bucket_dir)
            else:
                # a touched bucket whose rows were ALL deleted: drop the
                # stale live directory
                shutil.rmtree(f"{self._path(table)}/{bucket_dir}", ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        os.remove(self._manifest(table))

    def _recover(self, table: str) -> None:
        """Crash recovery, run before every read/write: a published manifest
        rolls forward (post-batch state); orphaned staging with no manifest
        rolls back (pre-batch state — the commit point was never reached)."""
        if not os.path.isdir(self._path(table)):
            return
        if os.path.exists(self._manifest(table)):
            self._apply_commit(table)
        elif os.path.isdir(self._staging(table)):
            shutil.rmtree(self._staging(table), ignore_errors=True)

    def _has_parts(self, table: str) -> bool:
        return any(d.startswith("_bucket=") for d in os.listdir(self._path(table)))

    def _empty(self, table: str) -> DataFrame:
        with open(f"{self._path(table)}/_schema.json") as fh:
            schema = T.StructType.fromJson(json.loads(fh.read()))
        return self.spark.createDataFrame([], schema)

    def exists(self, table: str) -> bool:
        """Whether the table has ever been initialized (sidecars present) —
        lets restart-safe callers seed-if-absent instead of wiping state."""
        return os.path.exists(f"{self._path(table)}/_schema.json")

    def read(self, table: str) -> DataFrame:
        self._recover(table)
        if not self._has_parts(table):
            return self._empty(table)
        return self.spark.read.parquet(self._path(table)).drop("_bucket")

    def read_keys(self, table: str, keys: list, pk_cols: list[str] | None = None) -> DataFrame:
        """Point/batch lookup: read ONLY the buckets the requested primary
        keys hash into (directory-partition pruning — the scan's
        PartitionFilters carry the bucket list), then filter exactly.
        O(|keys|/n_buckets · state) I/O instead of a full scan — the
        equivalent of the reference target's indexed SELECT.

        ``keys``: list of values for a single-column pk, or list of tuples
        for a composite pk. Hash layouts bucket on the full key; range
        layouts bucket on per-column range ids when the layout carries a
        ``range_sizes`` spec (composite), else on the leading column."""
        self._recover(table)
        persisted = self._pk_cols(table)
        pk = pk_cols or persisted
        if not pk:
            raise ValueError("unknown primary key; pass pk_cols")
        if pk_cols and persisted and list(pk_cols) != list(persisted):
            # order matters: composite keys hash/bucket tuples positionally,
            # so a reordered pk list would silently return empty results
            raise ValueError(
                f"pk_cols {list(pk_cols)} do not match persisted pk {persisted} "
                f"for table {table!r} (names and order must agree)"
            )
        if not keys:
            return self._empty(table)
        key_rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        if len(key_rows[0]) != len(pk):
            raise ValueError(f"key width {len(key_rows[0])} != pk width {len(pk)}")
        layout = self._layout(table)
        state = self._empty(table)
        key_df = self.spark.createDataFrame(
            key_rows,
            T.StructType([state.schema[c] for c in pk]),
        )
        buckets = {
            r["_b"]
            for r in key_df.select(self._bucket(pk, layout).alias("_b")).distinct().collect()
        }
        if not self._has_parts(table):
            return self._empty(table)
        return (
            self.spark.read.parquet(self._path(table))
            .filter(F.col("_bucket").isin(list(buckets)))
            .drop("_bucket")
            .join(F.broadcast(key_df), pk, "left_semi")
        )

    def read_leading_range(self, table: str, leading_values: list) -> DataFrame:
        """Bucket-pruned read of every row whose LEADING pk column takes one
        of ``leading_values`` — the prefix lookup ``read_keys`` cannot do
        (it needs full composite keys). Only valid for single-size range
        layouts, where the bucket id is determined by the leading column
        alone; raises otherwise rather than silently full-scanning.

        This is the history-table access path: an SCD2 store keyed by
        (business_key, valid_from) and range-bucketed on business_key reads
        a key's whole version chain from exactly one bucket directory.

        ``leading_values`` is a list of values, or a one-column DataFrame —
        the DataFrame form keeps the keys DISTRIBUTED: only the DISTINCT
        TOUCHED bucket ids reach the driver. In range mode bucket id is
        key div range_size, so that count is bounded by the key spread of
        the batch (one id per range_size-wide span the batch touches), not
        by the layout's n_buckets hint — a batch touching k distinct spans
        collects k ids."""
        self._recover(table)
        layout = self._layout(table)
        if layout["bucket_mode"] != "range" or layout.get("range_sizes"):
            raise ValueError(
                "read_leading_range requires a single-size range layout "
                "(bucket determined by the leading pk column)"
            )
        if not self._has_parts(table):
            return self._empty(table)
        size = layout["range_size"]
        pk = self._pk_cols(table)
        lead = pk[0]
        if isinstance(leading_values, DataFrame):
            key_df = leading_values.toDF(lead)
            buckets = sorted(
                r["_b"]
                for r in key_df.select(
                    self._floor_div(F.col(lead), size).alias("_b")
                ).distinct().collect()
            )
        else:
            if not leading_values:
                return self._empty(table)
            buckets = sorted({int(v) // size for v in leading_values})
            key_df = self.spark.createDataFrame(
                [(v,) for v in leading_values],
                T.StructType([self._empty(table).schema[lead]]),
            )
        if not buckets:
            return self._empty(table)
        return (
            self.spark.read.parquet(self._path(table))
            .filter(F.col("_bucket").isin(buckets))
            .drop("_bucket")
            .join(F.broadcast(key_df.distinct()), lead, "left_semi")
        )

    def _pk_cols(self, table: str) -> list[str]:
        try:
            with open(f"{self._path(table)}/_pk.json") as fh:
                return json.loads(fh.read())
        except FileNotFoundError:
            return []

    def evolve(self, table: str, statement: str) -> None:
        """Apply one translated DDL statement (operators.ddl output) by
        rewriting the table with the evolved schema. DDL is rare (the
        reference pauses the connector around it, main.go:70-121), so a
        full rewrite here is acceptable; per-batch DML stays partial."""
        df = evolve_frame(self.read(table), statement)
        pk = self._pk_cols(table) or [df.columns[0]]
        renamed = parse_rename_column(statement)
        if renamed:
            _, old, new = renamed
            pk = [new if c == old else c for c in pk]
        # the table's PERSISTED layout survives evolution — a store instance
        # constructed with different bucket settings must not silently
        # re-bucket someone else's table
        layout = self._layout(table)
        # stage to a sibling dir first: init() overwrites the path the
        # evolved plan still reads from
        tmp = f"{self._path(table)}__evolving"
        df.write.mode("overwrite").parquet(tmp)
        try:
            staged = self.spark.read.parquet(tmp)
        except Exception:  # noqa: BLE001 — zero-row stage leaves no files to infer from
            staged = self.spark.createDataFrame([], df.schema)
        self.init(table, staged, pk, layout=layout)
        shutil.rmtree(tmp, ignore_errors=True)

    def upsert(
        self,
        table: str,
        events: DataFrame,
        pk_cols: list[str],
        missing_update: str = "upsert",
        broadcast_threshold: int | None = 2_000_000,
    ) -> int:
        """Apply one micro-batch; returns the number of rewritten buckets.

        Batches above ``broadcast_threshold`` rows use the sort-merge apply
        (a backfill flood must not be broadcast); None skips the count.

        Commit is atomic via the staged-manifest protocol (module
        docstring): merge → write staging → publish manifest (the commit
        point) → swap bucket dirs → clean up."""
        self._recover(table)
        layout = self._layout(table)
        key_cols = [
            F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")) for k in pk_cols
        ]
        # ONE job yields both the touched-bucket list and the batch size
        # (per-bucket counts sum to the total) — the broadcast-vs-sort-merge
        # decision used to cost a second count() job per batch per table
        bucket_counts = (
            events.groupBy(self._bucket_of(key_cols, layout).alias("_bucket"))
            .count()
            .collect()
        )
        touched = [r["_bucket"] for r in bucket_counts]
        if not touched:
            return 0
        if self._has_parts(table):
            full = self.spark.read.parquet(self._path(table))
            state_slice = full.filter(F.col("_bucket").isin(touched)).drop("_bucket")
        else:
            # fully-emptied (or never-seeded) table: only the sidecar is left
            state_slice = self._empty(table)
        broadcast = True
        if broadcast_threshold is not None:
            batch_rows = sum(r["count"] for r in bucket_counts)
            broadcast = batch_rows <= broadcast_threshold
        handle: list = []
        new_slice = apply_cdc(
            state_slice, events, pk_cols, missing_update=missing_update,
            broadcast_batch=broadcast, cache_handle=handle,
        )
        staging = self._staging(table)
        # hash-cluster on the bucket before the write: repartition(k,
        # "_bucket") puts ALL rows of a bucket in one task for ANY k, so
        # each touched bucket still lands in exactly ONE file per rewrite
        # (vs tasks x buckets small files — CDC batches are small, so
        # compact files beat intra-bucket parallelism). The task count is
        # clamped to the session's parallelism: a corpus-wide batch that
        # touches thousands of buckets must not schedule thousands of
        # near-empty write tasks (r12 sweep: 1465 sub-second tasks per
        # SCD2 staged write at sf1.0 — pure scheduler overhead; guide
        # §2.2/§6 — fewer, larger tasks). The merge plan reads only LIVE
        # table files, never staging, so no cache pinning is needed
        # around this write.
        width = max(1, min(len(touched), self.spark.sparkContext.defaultParallelism))
        (
            new_slice.withColumn("_bucket", self._bucket(pk_cols, layout))
            .repartition(width, "_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(staging)
        )
        for df in handle:
            df.unpersist()
        if self._post_stage_hook is not None:
            self._post_stage_hook(table)
        # surviving buckets come from the staging directory listing — no
        # extra Spark job (a touched bucket whose rows were ALL deleted
        # writes no partition directory)
        surviving = sorted(
            d.split("=", 1)[1] for d in os.listdir(staging) if d.startswith("_bucket=")
        )
        # publish the manifest with an atomic rename — THE commit point;
        # bucket values are stored as their directory-name strings
        manifest = {"touched": sorted(str(b) for b in touched), "surviving": surviving}
        tmp = f"{self._manifest(table)}.tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(manifest))
        os.replace(tmp, self._manifest(table))
        self._apply_commit(table)
        return len(touched)
