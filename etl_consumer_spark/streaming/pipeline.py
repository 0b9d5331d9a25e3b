"""The end-to-end CDC streaming pipeline: transport → parse → route →
decode → apply, inside ``foreachBatch``.

Maps the reference's main loop (main.go:63-169), which reads each message
once and decides its fate in one loop body, onto micro-batches that read
the transport once:

1. one projection classifies every envelope — schema-topic DDL (P1),
   tombstone (S7), parse error (E4, counted and dropped) or DML for a
   table — and parses it (S5). The result is cached, and one global
   aggregate fills the cache and yields the fate counts and each table's
   row and passthrough counts. Every later step reads the cached frame
   and runs only when its count is non-zero;
2. the DDL path runs FIRST (the reference pauses the connector and
   applies DDL synchronously before more DML flows — cross-batch ordering
   per SURVEY §4): filter chain P3-P6, pause (X1), translate+apply,
   resume (X2), errors dead-lettered (E5);
3. per table, inside its dead-letter boundary (K2): decode (C5/§1.2),
   the bounded passthrough probe (P7), and the set-based apply with LWW +
   dup-skip (C1-C6) into the state store (K1). Any failure dead-letters
   the whole table's slice and emits a bounded republish frame
   (K3/E1-E3).

Exactly-once: the transport checkpoint plus idempotent apply (replays
collapse in LWW + dup-skip) gives effective exactly-once on state, the
same guarantee the reference approximates with its Duplicate-entry skip.
``tests/test_restart_faults.py`` kills the stream at each layer boundary
(staged write, manifest publish, SCD2 history write, offset commit) and
checks that a checkpoint restart lands the serial-apply state.
Micro-batch architecture per "Structured Streaming: A Declarative API for
Real-Time Applications in Apache Spark" (SIGMOD 2018).
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_consumer_spark.client.debezium import DebeziumAPI
from etl_consumer_spark.config import Config
from etl_consumer_spark.operators.ddl import (
    TranslatedDDL,
    ddl_pipeline,
    parse_statement,
    run_ddl,
)
from etl_consumer_spark.operators.routing import is_schema_topic, is_tombstone, passthrough_query
from etl_consumer_spark.sinks.dead_letter import dead_letter_rows, write_dead_letters
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sinks.republish import republish_frame, split_due
from etl_consumer_spark.sources.envelope import (
    WireField,
    decode_envelope,
    parse_ddl_envelope,
    parse_dml_envelope,
)
from etl_consumer_spark.sources.kafka import as_transport

# envelope fates besides DML (the ``fate`` column is null for DML)
_DDL, _TOMBSTONE, _PARSE_ERROR = "ddl", "tombstone", "parse_error"


@dataclass
class TableSpec:
    """Build-time description of one replicated table (C5: the per-table
    Debezium schema resolved once, not per row)."""

    name: str
    fields: list[WireField]
    pk_cols: list[str]


@dataclass
class BatchResult:
    """Observability record for one micro-batch."""

    epoch_id: int
    applied: dict[str, int] = field(default_factory=dict)      # table -> buckets written
    ddl_applied: list[str] = field(default_factory=list)
    ddl_skipped: list[str] = field(default_factory=list)
    passthrough: list[str] = field(default_factory=list)       # P7 verbatim SQL
    # overflow statements retained (bounded) when no dead-letter sink is
    # configured — otherwise they'd be unexecuted AND unpersisted
    passthrough_overflow: list[str] = field(default_factory=list)
    dead_letters: int = 0
    tombstones: int = 0     # S7: counted and skipped
    parse_errors: int = 0   # E4: counted and dropped, no dead letter for DML
    # K3 republish candidates: COUNT of rows spilled to the epoch-keyed
    # parquet retry buffer this batch (VERDICT r8 #2: the rows themselves
    # never visit the driver — the old design collect()ed the failed slice
    # here, an O(batch) driver materialization on the poison path)
    republish: int = 0
    # rows drained back into the transport this batch (closed-loop mode)
    requeued: int = 0
    # SCD2 history-write failures (per table): separate from dead_letters
    # because the base-table slice WAS committed — replaying it would
    # double-apply; the history can be rebuilt from the base + later batches
    scd2_errors: list[str] = field(default_factory=list)


def metrics_rows(result: BatchResult) -> list[tuple]:
    """Flatten a BatchResult into (epoch, table, version, ddl_applied,
    ddl_skipped, passthrough, dead_letters, republish) metric rows — one per
    applied table (or a single table-less row for apply-free batches). The
    ``version`` column keeps its persisted name; it holds the number of
    buckets the upsert wrote (one delta each)."""
    base = (
        len(result.ddl_applied),
        len(result.ddl_skipped),
        len(result.passthrough),
        result.dead_letters,
        result.republish,
    )
    if not result.applied:
        return [(result.epoch_id, None, None, *base)]
    return [(result.epoch_id, t, v, *base) for t, v in sorted(result.applied.items())]


METRICS_SCHEMA = (
    "epoch_id long, table string, version long, ddl_applied int, "
    "ddl_skipped int, passthrough int, dead_letters int, republish int"
)


class CDCPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        tables: list[TableSpec],
        store=None,
        api: DebeziumAPI | None = None,
        dead_letter_path: str | None = None,
        ddl_executor=None,
        passthrough_executor=None,
        state_path: str | None = None,
        metrics_path: str | None = None,
        scd2_tables: set[str] | None = None,
        republish_path: str | None = None,
        retry_transport_path: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.tables = {t.name: t for t in tables}
        if store is None:
            # bucket-partitioned parquet, merged on read: an upsert appends
            # one delta of resolved images per touched bucket, so per-batch
            # I/O is O(batch), not O(state). Any object with the store's
            # methods may be passed instead (test doubles, proxies).
            if state_path is None:
                raise ValueError("pass either a state store or state_path")
            store = PartitionedParquetStateStore(spark, state_path)
        self.store = store
        self.api = api
        self.dead_letter_path = dead_letter_path
        # injectable DDL execution; default evolves the state store's
        # schema for managed tables (the parquet equivalent of the
        # reference's db.Exec(ddl), main.go:88) — catalog-backed state
        # would call spark.sql, JDBC-backed would exec against MySQL
        self.ddl_executor = ddl_executor or self._evolve_state_schema
        # P7: passthrough SQL executor (reference runs source.query verbatim
        # against the target, main.go:357-359); default records only —
        # verbatim MySQL SQL is only executable on a JDBC-backed target
        self.passthrough_executor = passthrough_executor or (lambda stmt: None)
        # optional append-only observability table (one parquet row per
        # applied table per micro-batch) — the queryable counterpart of the
        # in-memory ring buffer
        self.metrics_path = metrics_path
        # tables that ALSO maintain an SCD Type-2 history ("<name>__history"
        # in the same store): every applied image opens a version, the
        # predecessor closes, deletes close without reopening.
        self.scd2_tables = set(scd2_tables or ())
        unknown = self.scd2_tables - set(self.tables)
        if unknown:
            raise ValueError(f"scd2_tables not in table specs: {sorted(unknown)}")
        # K3 retry buffer root: failed slices gated by republish_gate spill
        # HERE as epoch-keyed parquet (distributed write) instead of
        # collect()ing to the driver. When not given explicitly it binds
        # LAZILY to the stream's actual checkpoint dir at start() — binding
        # to cfg.checkpoint_dir at construction would hand every pipeline
        # built from a default Config the SAME process-global /tmp spill
        # root, where two streams (both at epoch 0) overwrite each other's
        # pending retries (review r9 finding #1)
        self.republish_path = republish_path
        # K3 closed-loop mode: when set (normally the SAME directory the
        # file transport reads), every batch's spilled retries are
        # requeued into it automatically at batch end, and E3 deferral
        # runs on the consume side (not-yet-due rows re-feed verbatim) —
        # the file-transport equivalent of the reference's automatic
        # re-produce to the source topic (main.go:174-203). Leave None for
        # Kafka deployments (write_republish) or manual-drain operation.
        self.retry_transport_path = retry_transport_path
        self._scd2_maintainers: dict[str, object] = {}
        self.results: list[BatchResult] = []

    def _evolve_state_schema(self, statement: str) -> None:
        change = parse_statement(statement)
        if change is None or change.table not in self.tables:
            # raised, so the DDL is reported skipped rather than applied
            raise ValueError("not a managed table: nothing to evolve")
        name = change.table
        self.store.evolve(name, statement)
        # SCD2 history evolves in LOCKSTEP with its base table, and the next
        # batch rebuilds the cached maintainer from the refreshed
        # spec.fields; else its payload list omits a new column, or binds it
        # against a stale __history schema and dead-letters applied slices
        if name in self.scd2_tables and self.store.exists(f"{name}__history"):
            self.store.evolve(f"{name}__history", statement)
        self._scd2_maintainers.pop(name, None)

    def _refresh_fields(self, change: TranslatedDDL) -> None:
        """Rebind TableSpec.fields/pk_cols to the wire binding the translation
        decided, or the next DML batch decodes against a stale field list
        (the reference re-reads the schema block per row, data/model.go:56-73).
        Rebuilt, never mutated: TableSpecs often share WireField objects."""
        spec = self.tables.get(change.table)
        if spec is None:
            return
        col, new = change.column, change.new_name
        if change.op == "drop":
            spec.fields = [f for f in spec.fields if f.name != col]
        elif change.op == "rename":
            spec.fields = [replace(f, name=new) if f.name == col else f for f in spec.fields]
            spec.pk_cols = [new if c == col else c for c in spec.pk_cols]
        elif any(f.name == col for f in spec.fields):
            spec.fields = [change.field if f.name == col else f for f in spec.fields]
        else:
            spec.fields = [*spec.fields, change.field]

    # -- DDL path (reference main.go:70-121, 382-424) ----------------------

    def _process_ddl(self, batch: DataFrame, result: BatchResult) -> None:
        """``batch`` holds the schema-topic envelopes of the cached batch."""
        events = ddl_pipeline(                                     # P4 P3 P6 P5 C7
            parse_ddl_envelope(batch).select(
                "value",
                F.col("ddl_envelope.payload.databaseName").alias("database_name"),
                F.col("ddl_envelope.payload.source.table").alias("source_table"),
                F.col("ddl_envelope.payload.ddl").alias("ddl"),
            ),
            list(self.tables),
            self.cfg.replace_all_scheme,
            self.cfg.reclaim,
        )
        rows = events.select("is_error", "ddl_clean").collect()
        ddl_rows = [r["ddl_clean"] for r in rows if not r["is_error"]]
        n_err = len(rows) - len(ddl_rows)
        if n_err and self.dead_letter_path:
            errors = events.filter("is_error").withColumn("err", F.lit("unexpected ddl"))
            tables = ",".join(self.tables)
            write_dead_letters(
                dead_letter_rows(errors, "err", tables, self.cfg.db_name), self.dead_letter_path
            )
        result.dead_letters += n_err
        if not ddl_rows:
            return
        if self.api is not None:
            self.api.pause()                                                   # X1
        try:
            for t in run_ddl(self.ddl_executor, ddl_rows):                # E5
                if t.statement is None:
                    result.ddl_skipped.append(t.reason or "")
                    continue
                result.ddl_applied.append(t.statement)
                # re-bind decoders to the evolved schema, or the next DML
                # batch for this table dead-letters wholesale
                self._refresh_fields(t)
        finally:
            if self.api is not None:
                self.api.resume(max_attempts=30)                               # X2/E6

    # -- SCD2 history (optional per-table Type-2 companion tables) ---------

    def _apply_scd2(self, name, spec, events, epoch_id: int) -> None:
        """Feed one applied micro-batch of decoded CDC events into the
        table's Type-2 history maintainer (``<name>__history``). Ordering
        column is the envelope's binlog position (``pos``) — strictly
        increasing per key on a consistent stream; deletes (null after)
        close the open version without opening a new one."""
        from etl_consumer_spark.streaming.scd2 import SCD2StreamMaintainer

        m = self._scd2_maintainers.get(name)
        payload = [f.name for f in spec.fields if f.name not in spec.pk_cols]
        if m is None:
            m = SCD2StreamMaintainer(
                self.store,
                f"{name}__history",
                spec.pk_cols,
                "_scd2_ts",
                payload,
                delete_col="_scd2_deleted",
            )
            self._scd2_maintainers[name] = m
        batch = events.select(
            *[
                F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")).alias(k)
                for k in spec.pk_cols
            ],
            *[F.col(f"after.{c}").alias(c) for c in payload],
            F.col("pos").cast("long").alias("_scd2_ts"),
            F.col("after").isNull().alias("_scd2_deleted"),
        )
        if not m.exists():  # restart-safe: never wipe an existing history
            m.seed(batch.drop("_scd2_deleted"))
        m.apply_batch(batch, epoch_id)

    # -- DML path (reference main.go:122-168, 348-380) ---------------------

    def _process_table(self, name, spec, slice_df, n_rows, n_passthrough, result) -> None:
        """One table's slice of the cached batch. All of its work sits inside
        the table's dead-letter boundary (K2): a failure anywhere, such as
        an ANSI cast error from a bad value in a non-key column, dead-letters
        and spills the slice instead of stopping the stream."""
        # cached: the passthrough probe, the upsert and the SCD2 history all
        # consume the decoded slice. The decode runs in the first action.
        decoded = decode_envelope(
            slice_df,
            spec.fields,
            with_timezone=self.cfg.with_timezone,
            tz_hours=self.cfg.timezone_hours,
        ).cache()
        try:
            if n_passthrough:
                self._run_passthrough(name, decoded, n_passthrough, result)
            if n_rows > n_passthrough:
                events = decoded.filter(F.col("passthrough").isNull())
                result.applied[name] = self.store.upsert(name, events, spec.pk_cols)
                if name in self.scd2_tables:
                    # own error channel: a history-write failure must NOT
                    # dead-letter/republish a slice already committed to the
                    # base table (the K2/K3 branch would re-apply it on replay)
                    try:
                        self._apply_scd2(name, spec, events, result.epoch_id)
                    except Exception as exc:  # noqa: BLE001
                        result.scd2_errors.append(f"{name}: {str(exc)[:200]}")
            # replay hygiene: if THIS (epoch, table) spilled on a previous
            # attempt and now succeeded on replay, the stale spill would
            # re-deliver already-committed OLD events on a later requeue —
            # regressing keys newer epochs updated.
            self._clear_republish_slice(result.epoch_id, name)
        except Exception as exc:  # noqa: BLE001 — K2 + K3 branch
            if self.dead_letter_path:
                write_dead_letters(
                    dead_letter_rows(
                        slice_df.withColumn("err", F.lit(str(exc)[:200])),
                        "err",
                        name,
                        self.cfg.db_name,
                    ),
                    self.dead_letter_path,
                )
            result.dead_letters += n_rows
            if self.cfg.republish:
                # K3: spill the gated retry frame to an epoch-keyed parquet
                # buffer with a distributed write; the rows never visit the
                # driver. The epoch-keyed overwrite makes a micro-batch
                # retry rewrite its own spill instead of double-queueing.
                out = f"{self._republish_base()}/epoch={result.epoch_id}/table={name}"
                republish_frame(
                    slice_df,
                    self.cfg.republish_limit,
                    delay_ms=self.cfg.republish_delay_ms,
                ).write.mode("overwrite").parquet(out)
                # count from the written files (columnar count scan) —
                # cheaper than re-running the gate
                result.republish += self.spark.read.parquet(out).count()
        finally:
            decoded.unpersist()

    def _run_passthrough(self, name, decoded, n_passthrough, result) -> None:
        """P7 — execute at most ``passthrough_limit`` of the slice's verbatim
        statements. An adversarial batch full of source.query events would
        otherwise run one-at-a-time statements on the driver without limit
        (the reference has no bound either, main.go:357-359); the overflow
        dead-letters (K2 shape) for replay."""
        limit = self.cfg.passthrough_limit
        # The cap binds IN THE PLAN: at most ``limit`` rows ever reach the
        # driver. The id column makes the executed prefix deterministic and
        # lets the overflow be carved out distributively.
        pt = (
            decoded.filter(F.col("passthrough").isNotNull())
            .select("passthrough")
            .withColumn("_ptid", F.monotonically_increasing_id())
        )
        head = pt.orderBy("_ptid").limit(limit).collect()
        for r in head:
            result.passthrough.append(r["passthrough"])
            self.passthrough_executor(r["passthrough"])
        if n_passthrough <= limit:
            return
        overflow = (
            pt.filter(~F.col("_ptid").isin([r["_ptid"] for r in head]))
            .withColumnRenamed("passthrough", "value")
            .withColumn("err", F.lit(f"passthrough limit {limit} exceeded"))
        )
        if self.dead_letter_path:
            write_dead_letters(
                dead_letter_rows(overflow, "err", name, self.cfg.db_name),
                self.dead_letter_path,
            )
        else:
            # no dead-letter sink configured: keep a bounded window of
            # the overflow statements replayable in the batch result
            # (anything past the window is still counted in dead_letters)
            result.passthrough_overflow.extend(
                r["value"] for r in overflow.select("value").limit(limit).collect()
            )
        result.dead_letters += n_passthrough - limit

    # -- foreachBatch entry point ------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> BatchResult:
        result = BatchResult(epoch_id=epoch_id)
        if self.retry_transport_path is not None:
            # E3 consume side (closed-loop mode only): not-yet-due retries
            # re-feed the transport VERBATIM (headers untouched — deferral
            # never consumes an attempt) and only due rows process now
            due, deferred = split_due(batch)
            if not deferred.isEmpty():
                as_transport(deferred).write.mode("append").parquet(
                    self.retry_transport_path
                )
                batch = due
        # A file-transport micro-batch inherits the transport's file count as
        # its partitioning — often far below the cluster's parallelism (a
        # 2-file batch would run the whole parse+decode chain on 2 cores).
        # Kafka transports inherit topic partitions and usually don't need it.
        parallelism = min(self.spark.sparkContext.defaultParallelism, 32)
        if batch.rdd.getNumPartitions() < parallelism:
            batch = batch.repartition(parallelism)
        # One projection classifies and parses every envelope: schema-topic
        # DDL (P1), tombstone (S7), parse error (S5/E4: counted and
        # dropped), or else DML for ``table``.
        fate = (
            F.when(is_schema_topic("topic", self.cfg.server), F.lit(_DDL))
            .when(is_tombstone("value"), F.lit(_TOMBSTONE))
            .when(F.col("envelope.payload").isNull(), F.lit(_PARSE_ERROR))
        )
        parsed = parse_dml_envelope(batch).select(
            "*",
            fate.alias("fate"),
            F.when(fate.isNull(), F.col("envelope.payload.source.table")).alias("table"),
        ).cache()
        try:
            # One global aggregate (no grouping key, so no reduce stage as
            # wide as spark.sql.shuffle.partitions) fills the cache and yields
            # every count; each later step reads the cached frame and runs
            # only when its count is non-zero.
            in_table = [F.col("table") == name for name in self.tables]
            is_passthrough = passthrough_query("envelope.payload.source.query").isNotNull()
            n_ddl, result.tombstones, result.parse_errors, *n = parsed.agg(
                *[F.count_if(F.col("fate") == f) for f in (_DDL, _TOMBSTONE, _PARSE_ERROR)],
                *[F.count_if(c) for c in in_table],
                *[F.count_if(c & is_passthrough) for c in in_table],
            ).first()
            # DDL strictly before DML (SURVEY §4: pause-the-world ordering)
            if n_ddl:
                self._process_ddl(parsed.filter(F.col("fate") == _DDL), result)
            k = len(self.tables)
            for (name, spec), c, n_rows, n_pt in zip(self.tables.items(), in_table, n[:k], n[k:]):
                if n_rows:
                    self._process_table(name, spec, parsed.filter(c), n_rows, n_pt, result)
        finally:
            parsed.unpersist()
        if self.retry_transport_path is not None and result.republish:
            # K3 closed loop: this batch's spilled retries go straight back
            # into the transport (snapshot drain — concurrent spills from a
            # parallel failure path stay for the next batch's drain)
            result.requeued = self.requeue_republish(self.retry_transport_path)
        self.results.append(result)
        if len(self.results) > self.cfg.max_results:
            # ring buffer: a long-running stream must not grow driver memory
            # with per-batch observability records
            del self.results[: len(self.results) - self.cfg.max_results]
        if self.metrics_path:
            self.spark.createDataFrame(metrics_rows(result), METRICS_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(self.metrics_path)
        return result

    # -- K3 retry-buffer drain ---------------------------------------------

    def _republish_base(self) -> str:
        """The bound retry-buffer root; binds to the config checkpoint dir
        on first use when the pipeline runs batches without start() (tests
        drive process_batch directly)."""
        if self.republish_path is None:
            self.republish_path = f"{self.cfg.checkpoint_dir.rstrip('/')}/_republish"
        return self.republish_path

    def _clear_republish_slice(self, epoch_id: int, table: str) -> None:
        if self.republish_path is None:
            return
        d = f"{self.republish_path}/epoch={epoch_id}/table={table}"
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)

    def _republish_slices(self) -> list[str]:
        """Leaf spill directories (epoch=*/table=*), a STABLE snapshot —
        drain operates on exactly this list so rows spilled concurrently by
        a live stream are never deleted un-requeued (review r9 finding #3)."""
        base = self._republish_base()
        if not os.path.isdir(base):
            return []
        return sorted(
            d for d in glob.glob(f"{base}/epoch=*/table=*") if os.path.isdir(d)
        )

    def pending_republish(self) -> DataFrame | None:
        """The spilled retry buffer as a (topic, value, headers) DataFrame,
        or None when no batch has spilled. Rows already carry the
        incremented ``loop`` header and (when configured) the E3
        ``not_before`` deadline — ready to re-enter the transport, where
        :func:`sinks.republish.split_due` defers not-yet-due rows."""
        slices = self._republish_slices()
        if not slices:
            return None
        return self.spark.read.option("recursiveFileLookup", "true").parquet(*slices)

    def requeue_republish(self, transport_path: str) -> int:
        """Drain the retry buffer back into a file transport: one
        distributed append of every pending (topic, value, headers) row —
        the file-transport equivalent of the reference's re-produce to the
        source topic (main.go:174-203). Returns the number of rows
        requeued; rows never visit the driver.

        Snapshot semantics: only the slice directories present when the
        drain STARTED are read, counted, written, and removed — a spill
        landing concurrently (the buffer lives beside a live checkpoint)
        stays in the buffer for the next drain instead of being deleted
        unrequeued; the materialized snapshot also pins count == written
        rows."""
        slices = self._republish_slices()
        if not slices:
            return 0
        pending = (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(*slices)
            .localCheckpoint(eager=True)  # one scan: count == written rows
        )
        n = pending.count()
        if n:
            as_transport(pending).write.mode("append").parquet(transport_path)
        for d in slices:
            shutil.rmtree(d, ignore_errors=True)
        return n

    def start(self, transport: DataFrame, checkpoint_dir: str | None = None, trigger_available_now: bool = False):
        """Attach to a streaming transport DataFrame and run."""
        ckpt = checkpoint_dir or self.cfg.checkpoint_dir
        if self.republish_path is None:
            # bind the retry buffer beside the ACTUAL checkpoint (restart
            # finds its pending retries; distinct streams get distinct
            # buffers because distinct streams need distinct checkpoints)
            self.republish_path = f"{ckpt.rstrip('/')}/_republish"
        writer = transport.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", ckpt
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
