"""K1 — the engine's state store: materialized current-state tables (the
reference's MySQL target, main.go:135), bucket-partitioned and merged on
read.

An upsert reads no state. In upsert mode a key's outcome depends only on
the batch's latest event for it (``operators.apply``: a delete removes the
row, any other event writes its after-image), so each upsert appends one
DELTA per touched bucket: the resolved rows with a ``_deleted`` flag and
the commit sequence ``_seq``. Write I/O per batch is O(batch), as the
reference's one keyed statement per event is. Readers (``read``,
``read_keys``, and so ``evolve`` and the SCD2 maintainer) resolve base ∪
deltas per pk: the highest ``_seq`` wins and a deleted winner drops the
key. Once a bucket's delta rows pass ``COMPACT_FRACTION`` of its base
rows, the writer's commit folds them into a SNAPSHOT of the bucket (no
background thread), at most a ``1/FOLD_SPREAD`` share of the table's
buckets per commit — the design of Spark's own streaming state store,
per-version deltas folded into snapshots (Structured Streaming, SIGMOD
2018). On disk::

    <table>/_schema.json, _pk.json, _layout.json                       sidecars
    <table>/_bucket=<b>/part-*.parquet                                 base
    <table>/_bucket=<b>/_delta/<seq>-<rows>/part-*.parquet             delta
    <table>/_bucket=<b>/_delta/<seq>-<rows>-snapshot/part-*.parquet    snapshot

A bucket's rows are its latest snapshot (or, before its first, its base)
plus the deltas with a higher sequence. Spark's partition discovery skips
a directory named ``_…`` without ``=``, so a plain scan reads only the
base; an entry's name carries its sequence and row count, so neither the
next sequence nor the compaction check needs a Spark job.

A table's layout is fixed by the commit that creates it (``init``, or the
first ``upsert`` into a table never committed) and read from its
``_layout.json`` ever after; the store has no layout setting. The default
hashes the pk into about ``rows / TARGET_BUCKET_ROWS`` buckets at the
first commit, clamped to [8, 4096]; ``init(layout=...)`` may pick a range
layout on the leading pk column (the SCD2 history does). One rule,
``_bucket_of``, maps keys cast to the persisted pk types to buckets.

Every write commits through one staged-manifest protocol (the reference
got per-statement atomicity from its SQL target, main.go:88,135):

1. stage: the new files are written to ``_staging``, partitioned by bucket;
2. publish: a ``_commit.json`` manifest, renamed into place atomically, is
   THE commit point. It maps each staged bucket directory to its place: a
   delta or a snapshot goes to its ``_bucket=<b>/_delta/`` entry; a full
   rewrite (``init``, ``evolve``, a table's first upsert) replaces whole
   bucket directories, deltas and snapshots included, drops rewritten
   buckets that staged no rows, and carries the new sidecars;
3. roll forward: sidecars replaced atomically, directories moved one
   rename at a time, the manifest's ``drop`` paths removed, staging and
   manifest removed.

A writer (``init``, ``evolve``, ``upsert``) first rolls a published
manifest forward and discards staging left without one (the commit point
was never reached). A reader (``read``, ``read_keys``, ``exists``) never
rolls back: at most it finishes a published commit. A roll-forward holds
an exclusive lock on the manifest file, so callers finishing the same
commit take turns and the later one finds it done.

A read plans its files from the bucket entries it lists. A delta commit
only adds files; a snapshot commit adds the snapshot and drops only what
the bucket's PREVIOUS snapshot superseded (the base, older snapshots and
the deltas that one folded), never what the new one supersedes. So a read
fails loudly on a missing file only if two folds of one of its buckets,
or a full rewrite (``init``, ``evolve``), land between its plan and its
run. A fold is housekeeping: if
it fails after the delta's commit, the upsert still returns (deltas left
unfolded are valid state) and the next writer discards its staging or
rolls its manifest forward.

One writer per table, on a local filesystem: ``os.replace`` and
``os.rename`` are atomic only there, and URI base paths are rejected.
Multi-writer tables and object-store state take a deploy-time Delta
``MERGE`` above the same apply protocol.
"""

from __future__ import annotations

import fcntl
import json
import logging
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_consumer_spark.operators.apply import compact_events, image_column
from etl_consumer_spark.operators.ddl import parse_statement, state_type


def evolve_frame(df: DataFrame, statement: str) -> DataFrame:
    """Apply one translated DDL statement (``operators.ddl`` output) to a
    state DataFrame — the parquet equivalent of the reference's
    db.Exec(ddl) (main.go:88). ADD COLUMNS (null for existing rows), DROP
    COLUMN, RENAME COLUMN and ALTER COLUMN TYPE; a column takes the
    :func:`operators.ddl.state_type` of the statement's type."""
    change = parse_statement(statement)
    if change is None:
        raise ValueError(f"unsupported evolved DDL: {statement}")
    col = change.column
    if change.op == "drop":
        return df.drop(col)
    if change.op == "rename":
        return df.withColumnRenamed(col, change.new_name)
    typed = F.lit(None) if change.op == "add" else F.col(col)
    return df.withColumn(col, typed.cast(state_type(change.spark_type)))


#: rows-per-bucket target of the adaptive layouts (the hash layout's bucket
#: count at a table's first commit, the SCD2 history's range width at seed):
#: a compaction rewrites a bounded bucket, while corpus-wide batches touch
#: O(rows/65536) buckets instead of many near-empty ones
TARGET_BUCKET_ROWS = 65536

#: a bucket's deltas are folded into a snapshot once their rows pass this
#: fraction of its base (or latest snapshot) rows. Amortized, an applied
#: row then costs its delta row plus 1/COMPACT_FRACTION rows of compaction,
#: and a read of a bucket scans about (1 + COMPACT_FRACTION) times its base
#: rows
COMPACT_FRACTION = 0.5

#: a commit folds at most 1/FOLD_SPREAD of the table's buckets, the most
#: overdue first. A uniform table's buckets all come due within a few
#: batches; folded together they would rewrite the whole table in one
#: batch, spread they rewrite a share of it in each of FOLD_SPREAD batches
FOLD_SPREAD = 4


class PartitionedParquetStateStore:
    """A table's layout is fixed by the commit that creates it and read from
    its ``_layout.json`` ever after:

    - ``{"bucket_mode": "hash", "n_buckets": k}`` (the default) spreads keys
      uniformly; a batch touches up to k buckets, one delta file each.
    - ``{"bucket_mode": "range", "range_size": s}`` (bucket = leading pk
      div s) exploits key locality instead: CDC batches that cluster on
      recent/hot keys touch only the few ranges they live in, and a keyed
      read of a leading key's rows (the SCD2 history's version chain)
      opens one bucket."""

    def __init__(self, spark: SparkSession, base_path: str):
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", base_path):
            raise ValueError(
                f"state path {base_path!r} carries a URI scheme: the state store "
                "commits with local renames and needs a local filesystem path; "
                "state on an object store or HDFS needs a deploy-time Delta MERGE"
            )
        self.spark = spark
        self.base = base_path.rstrip("/")

    # test seam (like _swap_bucket's crash seam): when set on an instance,
    # called after a commit's staged write and before its manifest publish
    # (a delta, a snapshot, init and evolve alike) — the window the
    # concurrent-writer and crash tests interleave into
    _post_stage_hook = None

    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    # -- the table's sidecars, written only by the commit that publishes them

    def _sidecar(self, table: str, name: str):
        with open(f"{self._path(table)}/_{name}.json") as fh:
            return json.loads(fh.read())

    def _layout(self, table: str) -> dict:
        return self._sidecar(table, "layout")

    def _pk_cols(self, table: str) -> list[str]:
        return self._sidecar(table, "pk")

    def _schema(self, table: str) -> T.StructType:
        return T.StructType.fromJson(self._sidecar(table, "schema"))

    @staticmethod
    def _hash_layout(rows: int) -> dict:
        # the default layout (module docstring), sized by the first commit
        return {"bucket_mode": "hash", "n_buckets": max(8, min(4096, -(-rows // TARGET_BUCKET_ROWS)))}

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

    @classmethod
    def _bucket_of(cls, keys: list, types: list, layout: dict):
        """THE key-to-bucket rule, for every staged write and ``read_keys``
        alike. ``keys`` are the leading pk columns (all of them under hash,
        at least the first under range), each cast to its persisted pk type
        first: a decoded ``long`` key of an ``INT`` pk column must hash like
        the stored int."""
        typed = [k.cast(t) for k, t in zip(keys, types)]
        if layout["bucket_mode"] == "range":
            return cls._floor_div(typed[0], layout["range_size"])
        return F.pmod(F.hash(*typed), F.lit(layout["n_buckets"]))

    def init(self, table: str, df: DataFrame, pk_cols: list[str], layout: dict | None = None) -> None:
        """Seed (or replace) a table: a full rewrite whose commit also
        publishes the schema (read() of an emptied table), pk and layout
        sidecars every later writer agrees on. ``layout`` defaults to the
        hash layout sized by one ``count()`` of ``df``."""
        if layout is None:
            layout = self._hash_layout(df.count())
        elif layout.get("bucket_mode") not in ("hash", "range"):
            raise ValueError(f"bucket_mode must be 'hash' or 'range', got {layout!r}")
        self._recover(table)
        self._rewrite(table, df, pk_cols, layout)

    # -- staged-commit protocol (atomic multi-bucket commits) --------------

    def _staging(self, table: str) -> str:
        # leading underscore: Spark/Hadoop readers ignore it, like _SUCCESS
        return f"{self._path(table)}/_staging"

    def _manifest(self, table: str) -> str:
        return f"{self._path(table)}/_commit.json"

    def _swap_bucket(self, table: str, staged: str, live: str) -> None:
        """Move one staged bucket directory to ``live`` (relative to the
        table), replacing what is there: a same-filesystem rename, atomic
        per directory. Separated out so crash-injection tests can fail
        between two moves."""
        dst = f"{self._path(table)}/{live}"
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(f"{self._staging(table)}/{staged}", dst)

    @staticmethod
    def _write_atomic(path: str, text: str) -> None:
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)

    @staticmethod
    def _bucket_dirs(path: str) -> list[str]:
        # bucket values as their directory-name strings
        return sorted(d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("_bucket="))

    @staticmethod
    def _rows(path: str) -> int:
        # row count from the parquet footers of the files directly in path
        return sum(
            pq.read_metadata(f"{path}/{f}").num_rows for f in os.listdir(path) if f.endswith(".parquet")
        )

    def _bucketed(self, frame: DataFrame, pk_cols: list[str], layout: dict, width: int) -> DataFrame:
        """``frame`` (its pk columns carry the table's pk types) with its
        ``_bucket``, hash-partitioned on it. repartition(k, "_bucket") puts
        ALL rows of a bucket in one task for ANY k: one file per bucket, not
        tasks x buckets small files; k is ``width`` clamped to the session's
        parallelism (r12 sweep: 1465 near-empty write tasks per SCD2 staged
        write at sf1.0)."""
        bucket = self._bucket_of(
            [F.col(c) for c in pk_cols], [frame.schema[c].dataType for c in pk_cols], layout
        )
        width = max(1, min(width, self.spark.sparkContext.defaultParallelism))
        return frame.withColumn("_bucket", bucket).repartition(width, "_bucket")

    def _stage(self, table: str, frame: DataFrame) -> list[str]:
        """Write ``frame`` to staging partitioned by its ``_bucket`` column
        (the caller hash-partitions it on ``_bucket`` first, so each bucket
        is one file); returns the staged buckets from the directory
        listing — no extra Spark job."""
        staging = self._staging(table)
        frame.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
        if self._post_stage_hook is not None:
            self._post_stage_hook(table)
        return self._bucket_dirs(staging)

    def _publish(self, table: str, manifest: dict) -> None:
        # an atomic rename publishes the manifest — THE commit point
        self._write_atomic(self._manifest(table), json.dumps(manifest))
        self._apply_commit(table)

    def _rewrite(self, table: str, frame: DataFrame, pk_cols: list[str], layout: dict) -> int:
        """A full rewrite (init, evolve, a table's first upsert): every live
        and every staged bucket directory is replaced with ``frame``'s rows,
        and the manifest carries ``frame``'s schema, ``pk_cols`` and
        ``layout`` as the table's new sidecars; returns the number of
        rewritten buckets. The plan reads only LIVE files, never staging."""
        width = self.spark.sparkContext.defaultParallelism
        staged = self._stage(table, self._bucketed(frame, pk_cols, layout, width))
        touched = sorted({*self._bucket_dirs(self._path(table)), *staged})
        self._publish(table, {
            "moves": {f"_bucket={b}": f"_bucket={b}" for b in staged},
            "sidecars": {
                "_schema.json": frame.schema.json(),
                "_pk.json": json.dumps(pk_cols),
                "_layout.json": json.dumps(layout),
            },
            # a rewritten bucket whose rows were ALL deleted stages no
            # directory: its live one is dropped
            "drop": [f"_bucket={b}" for b in touched if b not in staged],
        })
        return len(touched)

    def _apply_commit(self, table: str) -> None:
        """Roll a published manifest forward. Idempotent: sidecars are
        rewritten whole, a directory already moved is absent from staging
        and skipped, and drops (directories or files) re-run harmlessly.
        The exclusive lock on the manifest file lets one caller at a time
        roll it forward; a caller that gets the lock after the manifest was
        removed (or replaced by the next commit's) has nothing left to do."""
        path = self._manifest(table)
        try:
            fh = open(path)
        except FileNotFoundError:
            return
        with fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                if os.stat(path).st_ino != os.fstat(fh.fileno()).st_ino:
                    return
            except FileNotFoundError:
                return
            manifest = json.loads(fh.read())
            for name, text in manifest.get("sidecars", {}).items():
                self._write_atomic(f"{self._path(table)}/{name}", text)
            staging = self._staging(table)
            for staged, live in manifest["moves"].items():
                if os.path.isdir(f"{staging}/{staged}"):
                    self._swap_bucket(table, staged, live)
            for d in manifest.get("drop", []):
                dropped = f"{self._path(table)}/{d}"
                if os.path.isdir(dropped):
                    shutil.rmtree(dropped, ignore_errors=True)
                elif os.path.exists(dropped):
                    os.remove(dropped)
            shutil.rmtree(staging, ignore_errors=True)
            os.remove(path)

    def _roll_forward(self, table: str) -> None:
        """Reader-side recovery: finish a published commit (post-commit
        state); never touch staging, which may be a live writer's."""
        if os.path.exists(self._manifest(table)):
            self._apply_commit(table)

    def _recover(self, table: str) -> None:
        """Writer-side recovery, run before every write: a published
        manifest rolls forward; staging left without one rolls back (the
        commit point was never reached)."""
        self._roll_forward(table)
        shutil.rmtree(self._staging(table), ignore_errors=True)

    # -- merge on read -------------------------------------------------------

    @staticmethod
    def _entry(name: str) -> tuple[int, int, bool]:
        """A ``_delta`` entry's sequence, row count and whether it is a
        snapshot, from its name: ``<seq>-<rows>[-snapshot]``."""
        seq, rows, *snapshot = name.split("-")
        return int(seq), int(rows), bool(snapshot)

    def _logs(self, table: str, buckets: list[str] | None = None) -> dict[str, list[str]]:
        """Each bucket's ``_delta`` entry names, for every bucket or only
        ``buckets``, from the directory listing; buckets with none are
        left out."""
        path = self._path(table)
        out = {}
        for b in self._bucket_dirs(path) if buckets is None else buckets:
            try:
                names = os.listdir(f"{path}/_bucket={b}/_delta")
            except FileNotFoundError:
                continue
            if names:
                out[b] = names
        return out

    @classmethod
    def _view(cls, names: list[str]) -> tuple[str | None, list[str]]:
        """A bucket's live entries: its latest snapshot (None: the base
        files directly under the bucket) and the deltas above it."""
        entries = {n: cls._entry(n) for n in names}
        snapshot = max((n for n, e in entries.items() if e[2]), key=lambda n: entries[n][0], default=None)
        floor = entries[snapshot][0] if snapshot else 0
        return snapshot, [n for n, (seq, _, snap) in entries.items() if not snap and seq > floor]

    def _scan(self, table: str, buckets: list | None = None) -> DataFrame:
        """The table's rows, or only those of ``buckets``: each bucket's
        base (the scan's PartitionFilters carry the bucket list: directory
        pruning) or latest snapshot, and each pk's latest delta row above
        it, if any, replaces its row or, when deleted, removes it."""
        schema, path = self._schema(table), self._path(table)
        names = None if buckets is None else [str(b) for b in buckets]
        views = {b: self._view(ns) for b, ns in self._logs(table, names).items()}
        snapshots = {b: s for b, (s, _) in views.items() if s}
        # the sidecar schema needs no inference job and reads a table whose
        # buckets hold no base file (emptied, or deltas only) as empty
        base = self.spark.read.schema(
            T.StructType([*schema.fields, T.StructField("_bucket", T.LongType())])
        ).parquet(path)
        if names is not None:
            base = base.filter(F.col("_bucket").isin([int(b) for b in names if b not in snapshots]))
        elif snapshots:
            base = base.filter(~F.col("_bucket").isin([int(b) for b in snapshots]))
        base = base.drop("_bucket")
        if snapshots:
            base = base.unionByName(self.spark.read.schema(schema).parquet(
                *[f"{path}/_bucket={b}/_delta/{s}" for b, s in snapshots.items()]
            ))
        deltas = [f"{path}/_bucket={b}/_delta/{n}" for b, (_, ns) in views.items() for n in ns]
        if not deltas:
            return base
        pk = self._pk_cols(table)
        delta_schema = T.StructType([
            *schema.fields, T.StructField("_deleted", T.BooleanType()), T.StructField("_seq", T.LongType()),
        ])
        rows = self.spark.read.schema(delta_schema).parquet(*deltas)
        values = [c for c in schema.names if c not in pk]
        latest = rows.groupBy(*pk).agg(
            F.max_by(F.struct(*values, "_deleted"), "_seq").alias("_r")
        ).select(*pk, *[F.col(f"_r.{c}").alias(c) for c in [*values, "_deleted"]])
        return base.join(latest.select(*pk), pk, "left_anti").unionByName(
            latest.filter(~F.col("_deleted")).select(*schema.names)
        )

    def _compact(self, table: str, pk_cols: list[str], layout: dict, buckets: list[str], seq: int) -> None:
        """Fold the deltas of the touched ``buckets`` whose delta rows pass
        ``COMPACT_FRACTION`` of their base (or snapshot) rows, at most
        ``1/FOLD_SPREAD`` of the table's buckets, into snapshots at
        sequence ``seq`` (the delta just committed). Each snapshot's commit
        drops what the bucket's previous snapshot superseded. Row counts
        come from entry names and base footers, not from a Spark job."""
        path = self._path(table)
        logs = self._logs(table, buckets)
        overdue = {}
        for b, names in logs.items():
            snapshot, deltas = self._view(names)
            base = self._entry(snapshot)[1] if snapshot else self._rows(f"{path}/_bucket={b}")
            pending = sum(self._entry(n)[1] for n in deltas)
            if pending > COMPACT_FRACTION * base:
                overdue[b] = pending / max(base, 1)
        n_buckets = layout["n_buckets"] if layout["bucket_mode"] == "hash" else len(self._bucket_dirs(path))
        due = sorted(overdue, key=lambda b: -overdue[b])[: -(-n_buckets // FOLD_SPREAD)]
        if not due:
            return
        staged = self._stage(table, self._bucketed(self._scan(table, due), pk_cols, layout, len(due)))
        staging = self._staging(table)
        moves, drop = {}, []
        for b in due:
            if b not in staged:  # every row deleted: an empty snapshot
                os.makedirs(f"{staging}/_bucket={b}")
            moves[f"_bucket={b}"] = f"_bucket={b}/_delta/{seq}-{self._rows(f'{staging}/_bucket={b}')}-snapshot"
            previous, _ = self._view(logs[b])
            if previous:
                floor = self._entry(previous)[0]
                drop += [f"_bucket={b}/{f}" for f in os.listdir(f"{path}/_bucket={b}") if f != "_delta"]
                drop += [f"_bucket={b}/_delta/{n}" for n in logs[b] if self._entry(n)[0] <= floor and n != previous]
        self._publish(table, {"moves": moves, "drop": drop})

    # -- public entry points -----------------------------------------------

    def exists(self, table: str) -> bool:
        """Whether the table has ever been committed (sidecars present) —
        lets restart-safe callers seed-if-absent instead of wiping state."""
        self._roll_forward(table)
        return os.path.exists(f"{self._path(table)}/_schema.json")

    def read(self, table: str) -> DataFrame:
        self._roll_forward(table)
        return self._scan(table)

    def read_keys(self, table: str, keys: DataFrame) -> DataFrame:
        """Keyed read, the equivalent of the reference target's indexed
        SELECT: every row whose leading pk columns take one of the value
        tuples in ``keys``, reading ONLY the buckets those keys map to.

        ``keys``' columns must be the leading pk columns that fix the
        bucket, in pk order: the full pk under hash, the leading column or
        more under range (the SCD2 history reads a business key's whole
        version chain this way). Any other column set raises ValueError
        before any Spark job runs, rather than silently full-scanning. The
        keys stay distributed: only their distinct bucket ids reach the
        driver, at most one per range span or hash bucket they touch."""
        self._roll_forward(table)
        pk, layout, schema = self._pk_cols(table), self._layout(table), self._schema(table)
        cols = keys.columns
        fixed = len(pk) if layout["bucket_mode"] == "hash" else 1
        if not fixed <= len(cols) <= len(pk) or cols != pk[: len(cols)]:
            raise ValueError(
                f"key columns {cols} of table {table!r} are not a leading prefix of its "
                f"pk {pk} that fixes the {layout['bucket_mode']} bucket (first {fixed})"
            )
        typed = keys.select(*[F.col(c).cast(schema[c].dataType) for c in cols]).distinct()
        buckets = typed.select(
            self._bucket_of([F.col(c) for c in cols], [schema[c].dataType for c in cols], layout)
        ).distinct().collect()
        return self._scan(table, sorted(r[0] for r in buckets)).join(
            F.broadcast(typed), cols, "left_semi"
        )

    def evolve(self, table: str, statement: str) -> None:
        """Apply one translated DDL statement (operators.ddl output) by
        rewriting the table with the evolved schema through the commit
        step, deltas folded in. DDL is rare (the reference pauses the
        connector around it, main.go:70-121), so a full rewrite here is
        acceptable. The table keeps its persisted layout."""
        self._recover(table)
        current = self._scan(table)
        df = evolve_frame(current, statement)
        if df.schema == current.schema:
            # nothing to rewrite: a type change to the column's current
            # type, or a change replayed after a restart
            return
        change = parse_statement(statement)
        pk = [
            change.new_name if change.op == "rename" and c == change.column else c
            for c in self._pk_cols(table)
        ]
        self._rewrite(table, df, pk, self._layout(table))

    def upsert(self, table: str, events: DataFrame, pk_cols: list[str]) -> int:
        """Apply one micro-batch in upsert mode (``operators.apply``: the
        latest event's after-image wins, a latest delete removes the key);
        returns the number of buckets written.

        Into an existing table: one staged write of the batch's resolved
        rows as a delta per touched bucket (``compact_events`` over the
        batch, images cast to the state schema; no read of the table), the
        commit, then a fold of the touched buckets whose deltas are due
        into snapshots (module docstring), which cannot fail the batch.

        A table the store has never committed is created by this upsert: a
        full commit of the batch's surviving images with the hash layout
        sized by the batch, whose sidecars take the after-image schema."""
        self._recover(table)
        new = not os.path.exists(f"{self._path(table)}/_schema.json")
        if new:
            layout, schema = self._hash_layout(events.count()), events.schema["after"].dataType
        else:
            layout, schema = self._layout(table), self._schema(table)
        keys = [F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")) for k in pk_cols]
        bucket = self._bucket_of(keys, [schema[k].dataType for k in pk_cols], layout)
        # one shuffle: hash-partitioned on the bucket, the per-key compaction
        # needs no second exchange and each bucket's delta is one file
        width = self.spark.sparkContext.defaultParallelism
        if layout["bucket_mode"] == "hash":
            width = min(width, layout["n_buckets"])
        latest = compact_events(
            events.withColumn("_bucket", bucket).repartition(width, "_bucket"), pk_cols, by=("_bucket",)
        )
        images = [image_column(latest.schema, c, schema[c].dataType, pk_cols).alias(c) for c in schema.names]
        if new:
            rows = latest.filter(F.col("_after").isNotNull()).select(*images)
            return self._rewrite(table, rows, pk_cols, layout)
        # above every entry's sequence: within a bucket, later wins
        seq = 1 + max((self._entry(n)[0] for ns in self._logs(table).values() for n in ns), default=0)
        delta = latest.select(
            *images,
            F.col("_after").isNull().alias("_deleted"),
            F.lit(seq).cast("long").alias("_seq"),
            "_bucket",
        )
        staged = self._stage(table, delta)
        staging = self._staging(table)
        self._publish(table, {"moves": {
            f"_bucket={b}": f"_bucket={b}/_delta/{seq}-{self._rows(f'{staging}/_bucket={b}')}"
            for b in staged
        }})
        # the batch has committed: a failed fold must not fail it (the
        # caller would dead-letter and requeue a slice the table holds).
        # Unfolded deltas are valid state; the next writer discards the
        # fold's staging or rolls its manifest forward
        try:
            self._compact(table, pk_cols, layout, staged, seq)
        except Exception:  # noqa: BLE001
            logging.getLogger(__name__).warning("fold of %s failed after its batch committed", table,
                                                exc_info=True)
        return len(staged)
