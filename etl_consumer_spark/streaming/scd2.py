"""Incremental SCD Type-2 history maintenance over a CDC change stream.

`operators/scd.py:scd2_history` builds Type-2 validity intervals from a
COMPLETE event log in one batch pass. A live pipeline cannot do that — the
log never ends — so this module maintains the history table incrementally,
one micro-batch at a time, inside a Structured Streaming ``foreachBatch``:

per batch:
1. within-batch intervals: each key's new versions get ``valid_to`` from
   ``lead(ts)`` over the batch slice (the last one stays open/current);
2. cross-batch closing: each touched key's existing CURRENT row (written
   by an earlier batch) is closed at the batch's earliest new ``valid_from``
   for that key;
3. one idempotent upsert of (closed + new) rows keyed by
   (business_key, valid_from) through the staged-manifest store commit.

Exactly-once: the streaming checkpoint replays at most the last
uncommitted batch, and the upsert is idempotent — replayed new rows
rewrite identical values, and replayed closings find no remaining current
row (min-valid_from guard), so a crash between store commit and
checkpoint commit converges to the same history.

Scale shape: ``seed`` creates the history with a range layout on the
leading BUSINESS KEY column (the store fixes a table's layout at its first
commit), so step 2 reads each touched key's version chain from exactly one
bucket directory (the store's keyed read, ``read_keys``, with the business
key columns: a leading prefix of the history pk (*keys, valid_from) —
bucket list pruned, O(touched buckets) I/O, never a history scan), and the
upsert appends one delta per touched bucket. Per-batch cost is
proportional to the batch, not the history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_consumer_spark.sinks.partitioned_state import (
    TARGET_BUCKET_ROWS,
    PartitionedParquetStateStore,
)


class SCD2StreamMaintainer:
    """Maintains a Type-2 history table from an after-image change stream.

    ``batch_df`` rows are (*key_cols, ts_col, *payload): one row per change
    event, ``ts_col`` strictly increasing per key (the CDC log order).
    History rows are (*keys, *payload, valid_from, valid_to, is_current)
    keyed by (*keys, valid_from). ``key_col`` may be one column name or a
    list (composite business keys); the history store range-buckets on the
    LEADING key column, which is what the pruned current-row read uses.
    """

    def __init__(
        self,
        store: PartitionedParquetStateStore,
        table: str,
        key_col: str | list[str],
        ts_col: str,
        payload_cols: list[str],
        key_range_size: int | None = None,
        delete_col: str | None = None,
    ):
        """``delete_col`` (optional boolean column in batch rows) marks CDC
        deletes: a delete CLOSES the key's open version at its timestamp
        without opening a new one — the key has no current row until a
        later image re-opens it. Payload columns of delete rows are
        ignored.

        ``key_range_size=None`` (default) sizes the history's range
        buckets ADAPTIVELY at seed time from the first batch's leading-key
        span and density, targeting ``TARGET_BUCKET_ROWS`` rows per bucket
        — a fixed constant is tuned for neither a 150k-key test corpus
        nor a 10^10-key production table (r12 sweep: the old fixed 1024
        made a corpus-wide sf1.0 batch rewrite 1465 near-empty buckets
        per upsert). Pass an explicit int to pin the layout."""
        self.store = store
        self.table = table
        self.keys = [key_col] if isinstance(key_col, str) else list(key_col)
        self.ts = ts_col
        self.payload = payload_cols
        self.range_size = key_range_size
        self.delete_col = delete_col

    @property
    def pk(self) -> list[str]:
        return [*self.keys, "valid_from"]

    def exists(self) -> bool:
        return self.store.exists(self.table)

    def _derive_range_size(self, template: DataFrame) -> int:
        """Adaptive bucket width from the seed batch's leading-key stats:
        ``range_size = span / n * TARGET_BUCKET_ROWS`` (one agg job per
        table LIFETIME), so buckets hold ~TARGET_BUCKET_ROWS rows at the
        seed batch's key density whatever the key magnitude. Floor 1024
        keeps point-lookup pruning effective on sparse seeds; an empty
        seed falls back to 1024 (nothing to measure)."""
        lead = self.keys[0]
        row = template.agg(
            F.count(F.col(lead)).alias("n"),
            F.min(F.col(lead)).cast("long").alias("lo"),
            F.max(F.col(lead)).cast("long").alias("hi"),
        ).collect()[0]
        if not row["n"] or row["lo"] is None or row["hi"] is None:
            # count(col) counts non-null RAW values, but a non-numeric
            # leading key casts to null long — fall back to the fixed
            # default instead of raising TypeError on (None - None)
            # (ADVICE r13 #5; the range layout needs numeric keys anyway)
            return 1024
        span = max(1, row["hi"] - row["lo"] + 1)
        density = row["n"] / span  # rows per key-unit
        return max(1024, int(TARGET_BUCKET_ROWS / density))

    def seed(self, template: DataFrame) -> None:
        """Initialize an empty history table from an event-batch template
        (schema only — no rows are written; when ``key_range_size`` was
        not pinned, the template's key stats size the range buckets)."""
        if self.range_size is None:
            self.range_size = self._derive_range_size(template)
        hist = template.limit(0).select(
            *self.keys,
            *self.payload,
            F.col(self.ts).alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        self.store.init(
            self.table, hist, self.pk,
            layout={"bucket_mode": "range", "range_size": self.range_size},
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        is_del = (
            F.col(self.delete_col) if self.delete_col else F.lit(False)
        )
        # materialize the normalized batch once: three consumers (interval
        # build, touched keys, closing minimums); batch-sized
        events = batch_df.select(
            *self.keys,
            *self.payload,
            F.col(self.ts).cast("long").alias("_ts"),
            is_del.alias("_is_delete"),
        ).localCheckpoint(eager=True)
        # lead() runs over ALL events (images AND deletes): an image's
        # validity ends at the NEXT event for its key, whatever kind — a
        # delete closes the interval without opening a new one, leaving the
        # key current-less until a later image re-opens it
        w = Window.partitionBy(*self.keys).orderBy("_ts")
        nxt = F.lead("_ts").over(w)
        new_rows = (
            events.select(
                *self.keys,
                *self.payload,
                F.col("_ts").alias("valid_from"),
                nxt.cast("long").alias("valid_to"),
                nxt.isNull().alias("is_current"),
                F.col("_is_delete"),
            )
            .filter(~F.col("_is_delete"))  # deletes shape neighbors, add no row
            .drop("_is_delete")
        )

        # touched keys and closing timestamps come from ALL events (a
        # delete-only batch must still close its key's current row); keys
        # stay DISTRIBUTED — only the distinct bucket ids reach the driver
        # inside read_keys
        cur = self.store.read_keys(self.table, events.select(*self.keys)).filter(
            F.col("is_current")
        )
        mins = events.groupBy(*self.keys).agg(
            F.min("_ts").alias("_new_from")
        )
        closing = (
            cur.join(F.broadcast(mins), self.keys)
            # the guard makes replays idempotent: a re-run batch finds the
            # previously-closed rows no longer current (filter above) and
            # never re-opens or double-closes anything
            .filter(F.col("_new_from") > F.col("valid_from"))
            .select(
                *self.keys,
                *self.payload,
                "valid_from",
                F.col("_new_from").cast("long").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
        )
        hist_updates = closing.unionByName(new_rows)
        img = F.struct(
            *self.keys, *self.payload, "valid_from", "valid_to", "is_current"
        )
        events = hist_updates.select(
            img.alias("before"),  # update-shaped: after-image always wins
            img.alias("after"),
            F.col("valid_from").alias("pos"),
            F.lit(int(batch_id)).cast("long").alias("ts_ms"),
        )
        # the store's upsert walks its events frame once (one staged delta
        # write), so the closing DAG runs once without a checkpoint
        self.store.upsert(self.table, events, self.pk)

    def foreach_batch(self):
        return lambda df, bid: self.apply_batch(df, bid)
