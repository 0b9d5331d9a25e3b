"""CDC apply operators C1-C7 (SURVEY §2.4) — the engine's core semantics.

The reference applies one SQL statement per event against MySQL
(reference: main.go:348-380). Here the same semantics are a set-based
micro-batch transform:

- classification by before/after **nullness**, deliberately ignoring the
  ``op`` field exactly like the reference (data/model.go:15 is parsed but
  never read): C1-C3
- last-writer-wins ordering window per key over (source.pos, ts_ms) —
  required because a micro-batch may hold several events per key where the
  reference's single-threaded loop saw them in order (SURVEY §2.4 note)
- duplicate-entry skip (C6): an insert whose key already exists leaves the
  existing row untouched (reference: main.go:138-141 swallows the error)
- update with no matching row is a no-op (an UPDATE ... WHERE that matches
  nothing); delete removes; insert appends

Scale design: :func:`apply_cdc` broadcasts the compacted batch so state is
only streamed, never shuffled (the batch side shuffles once for the LWW
window — O(batch) network per batch, not O(state)); a full-outer
sort-merge variant remains for backfills where the batch rivals state.
State is never rewritten except for touched partitions when the sink
supports partition overwrite.

:func:`apply_cdc_sequential` is the *exact* per-key fold (insert→update→
delete chains within one batch): seed+events hash-partitioned and sorted,
then one linear Arrow pass — use it when within-batch multi-event chains
with existence-dependent semantics matter on inconsistent streams. For
Debezium streams the compacted form is the industry-standard semantics.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

OP_INSERT = "insert"
OP_UPDATE = "update"
OP_DELETE = "delete"


def classify_op(before: Column, after: Column) -> Column:
    """C1-C3 — nullness classification (reference: main.go:365-377).

    before null & after non-null → insert; both non-null → update;
    before non-null & after null → delete; both null → null (tombstone)."""
    return (
        F.when(before.isNull() & after.isNotNull(), F.lit(OP_INSERT))
        .when(before.isNotNull() & after.isNotNull(), F.lit(OP_UPDATE))
        .when(before.isNotNull() & after.isNull(), F.lit(OP_DELETE))
        .otherwise(F.lit(None).cast("string"))
    )


def last_writer_wins(
    df: DataFrame,
    key_cols: list[str],
    pos_col: str = "pos",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Keep only the latest event per key within a batch, ordered by binlog
    position then event timestamp (source offsets: data/model.go:29-30).
    The one shuffle here is the price of restoring the reference's implicit
    single-partition ordering (main.go:63) under parallelism."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(pos_col).desc(), F.col(ts_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def compact_events(
    events: DataFrame,
    pk_cols: list[str],
    before_col: str = "before",
    after_col: str = "after",
    pos_col: str = "pos",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Project events to (pk..., _before, _after, _op) keeping only the last
    writer per key. Key is taken from the after image, falling back to the
    before image (delete events have no after).

    The per-key latest is a ``max(struct(pos, ts, before, after))``
    aggregation rather than a row_number window: same keep-the-latest
    semantics on any consistent stream (ordering is (pos, ts) first). The
    win is the partial MAP-SIDE combine — at-least-once replays collapse
    before the exchange instead of shuffling every duplicate. (The final
    aggregate is still a SortAggregate on both sides of the exchange, NOT
    a hash aggregate: a max over a struct-typed buffer is not a mutable
    fixed-width type, so HashAggregateExec can't hold it, and ``max_by``
    has the same struct-valued buffer — verified in the r13/r14 plans;
    an earlier doc claimed hash aggregation here, which was wrong.) On
    (pos, ts) TIES the struct comparison falls through to the images,
    which only differs from the window's arbitrary pick on streams that
    carry two different payloads at one binlog position — already outside
    the reference's single-writer model; replay duplicates are identical
    and unaffected. Orderability constraint (ADVICE r13 #3): the full
    image structs participate in the max comparison, so every decoded
    image column must be an orderable type — true for all WireField
    types today; if an unorderable column type (e.g. map) is ever added
    to image schemas, switch the tail of the struct to a max_by-style
    aggregation ordered on (pos, ts) alone."""
    keys = [
        F.coalesce(F.col(f"{after_col}.{k}"), F.col(f"{before_col}.{k}")).alias(k)
        for k in pk_cols
    ]
    ev = events.select(
        *keys,
        F.struct(
            F.col(pos_col).alias("_pos"),
            F.col(ts_col).alias("_ts"),
            F.col(before_col).alias("_before"),
            F.col(after_col).alias("_after"),
        ).alias("_evt"),
    )
    latest = ev.groupBy(*pk_cols).agg(F.max("_evt").alias("_evt")).select(
        *pk_cols,
        F.col("_evt._before").alias("_before"),
        F.col("_evt._after").alias("_after"),
        F.col("_evt._pos").alias("_pos"),
        F.col("_evt._ts").alias("_ts"),
    )
    return latest.withColumn("_op", classify_op(F.col("_before"), F.col("_after")))


def apply_cdc(
    state: DataFrame,
    events: DataFrame,
    pk_cols: list[str],
    before_col: str = "before",
    after_col: str = "after",
    pos_col: str = "pos",
    ts_col: str = "ts_ms",
    missing_update: str = "noop",
    broadcast_batch: bool = True,
    cache_handle: list | None = None,
) -> DataFrame:
    """Apply a batch of CDC events to a state table, returning the new state.

    With ``broadcast_batch=True`` (default — micro-batches are small next
    to state) the plan broadcasts the compacted batch and state is only
    streamed, never shuffled; ``False`` selects the one-shot full-outer
    sort-merge plan for backfills where the batch rivals state in size.
    Per-row outcome matrix with
    ``missing_update="noop"`` (strict reference semantics — each statement
    judged against *pre-batch* state):

    ===============  ==============  =====================================
    latest event      key in state    result
    ===============  ==============  =====================================
    (none)            yes             state row unchanged
    insert            yes             state row unchanged (C6 dup skip)
    insert            no              after image appended (C1)
    update            yes             after image replaces row (C2)
    update            no              no-op (UPDATE matched nothing)
    delete            yes/no          row absent (C3)
    ===============  ==============  =====================================

    ``missing_update="upsert"`` is the streaming-pipeline mode: the latest
    event's after-image always wins (delete removes, insert/update upsert).
    For a *consistent* ordered CDC stream this equals the reference's
    one-at-a-time outcome even for within-batch chains (insert→update of a
    key created in the same batch — the strict mode would wrongly no-op
    those, because the chain's intermediate state never hits the store).
    Strict mode only differs on streams that are already inconsistent with
    the target (stale updates / duplicate inserts), where the reference's
    per-statement no-op/dup-skip is the faithful answer.
    """
    if missing_update not in ("noop", "upsert"):
        raise ValueError(f"missing_update must be 'noop' or 'upsert', got {missing_update!r}")
    cols = state.columns
    latest = compact_events(events, pk_cols, before_col, after_col, pos_col, ts_col)
    op = F.col("_op")

    def image(c: str) -> Column:
        # the state schema decides column types, so a rewritten slice never
        # disagrees with untouched rows (Catalyst drops a same-type cast)
        return F.col(f"_after.{c}").cast(state.schema[c].dataType)

    if broadcast_batch:
        # Scale path (micro-batch ≪ state): state is only STREAMED, never
        # shuffled. Upsert mode needs ONE broadcast join (state anti the
        # batch keys, after-images appended); strict noop mode needs the
        # per-row merge join plus an existence probe for the C6 dup skip.
        # A full-outer formulation would sort-merge-shuffle the entire
        # state table every batch — the difference between O(batch) and
        # O(state) network per batch at 100 TB.
        latest = latest.cache()
        if cache_handle is not None:
            # long-running streams must unpersist after materializing the
            # result, or cached micro-batches accumulate until LRU eviction
            cache_handle.append(latest)
        if missing_update == "upsert":
            # Upsert mode collapses to ONE streamed pass over state: a state
            # row whose key carries ANY event is either replaced (insert/
            # update — the after image, emitted from the batch side below)
            # or deleted, so the state side is a single map-side LEFT ANTI
            # join against the broadcast batch KEYS (pk-only — narrower than
            # broadcasting the full compacted batch), and the after images of
            # all insert/update events union in verbatim. The noop branch's
            # matched-keys existence probe — a SECOND full pass over the
            # state slice plus its own broadcast-build job — does not exist
            # in this mode (guide §2.4: remove the pass, not just its cost).
            # Identical output to the old merge+append formulation on any
            # state with unique pks — the invariant every store maintains.
            survivors = state.join(
                F.broadcast(latest.select(*pk_cols)), on=pk_cols, how="left_anti"
            )
            replacements = latest.filter(op.isin(OP_INSERT, OP_UPDATE)).select(
                *[c if c in pk_cols else image(c).alias(c) for c in cols]
            )
            return survivors.unionByName(replacements)
        joined = state.alias("s").join(F.broadcast(latest.alias("e")), on=pk_cols, how="left")
        keep = op.isNull() | (op == OP_INSERT) | (op == OP_UPDATE)
        use_state = op.isNull() | (op == OP_INSERT)  # C6 dup skip
        survivors = joined.filter(keep).select(
            *[
                c if c in pk_cols
                else F.when(use_state, F.col(f"s.{c}")).otherwise(image(c)).alias(c)
                for c in cols
            ]
        )
        candidates = latest.filter(op == OP_INSERT)
        matched_keys = (
            state.select(*pk_cols)
            .join(F.broadcast(candidates.select(*pk_cols)), on=pk_cols, how="left_semi")
        )
        new_rows = candidates.join(F.broadcast(matched_keys), on=pk_cols, how="left_anti").select(
            *[c if c in pk_cols else image(c).alias(c) for c in cols]
        )
        return survivors.unionByName(new_rows)

    # Backfill path (batch comparable to state): one full-outer sort-merge
    # join — both sides shuffle once.
    exists_marker = pk_cols[0]
    joined = state.alias("s").join(latest.alias("e"), on=pk_cols, how="full_outer")
    s_exists = F.col(f"s.{exists_marker}").isNotNull()
    if missing_update == "noop":
        keep = op.isNull() | (op == OP_INSERT) | ((op == OP_UPDATE) & s_exists)
        use_state = op.isNull() | ((op == OP_INSERT) & s_exists)
    else:
        keep = op.isNull() | op.isin(OP_INSERT, OP_UPDATE)
        use_state = op.isNull()
    out_cols = []
    for c in cols:
        if c in pk_cols:
            out_cols.append(F.col(c).alias(c))
        else:
            out_cols.append(
                F.when(use_state, F.col(f"s.{c}")).otherwise(image(c)).alias(c)
            )
    return joined.filter(keep).select(*out_cols)


def apply_cdc_full_row(
    state: DataFrame,
    events: DataFrame,
    before_col: str = "before",
    after_col: str = "after",
    pos_col: str = "pos",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Faithful full-row-predicate variant (SURVEY §7 hard-part 2): the
    reference matches UPDATE/DELETE rows on the AND of *all* before-image
    columns (main.go:372,376), not on a primary key.

    - delete: anti-join state against before images (all columns null-safe)
    - update: rows matching a before image are replaced by its after image
    - insert: after images appended, skipping exact-duplicate rows (C6
      without a declared key degenerates to whole-row uniqueness)

    Assumes at most one event per distinct before-image per batch (enforced
    here by last-writer-wins over the image).
    """
    cols = state.columns
    classified = events.withColumn("_op", classify_op(F.col(before_col), F.col(after_col)))
    img_keyed = classified.select(
        "_op",
        F.col(before_col).alias("_before"),
        F.col(after_col).alias("_after"),
        F.col(pos_col).alias("_pos"),
        F.col(ts_col).alias("_ts"),
    )
    # one event per distinct before-image (last writer wins on the image)
    w = Window.partitionBy("_before").orderBy(F.col("_pos").desc(), F.col("_ts").desc())
    latest = (
        img_keyed.filter(F.col("_op").isin(OP_UPDATE, OP_DELETE))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Single left join covers both update-replace and delete-drop.
    joined = state.alias("s").join(
        latest.alias("e"),
        on=_nullsafe_cond_struct("s", cols, "e", "_before"),
        how="left",
    )
    survivors = joined.filter(F.col("e._op").isNull() | (F.col("e._op") == OP_UPDATE)).select(
        *[
            F.when(F.col("e._op") == OP_UPDATE, F.col(f"e._after.{c}"))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in cols
        ]
    )
    insert_images = (
        classified.filter(F.col("_op") == OP_INSERT)
        .select(*[F.col(f"{after_col}.{c}").alias(c) for c in cols])
        .dropDuplicates(cols)
    )
    # C6 without a declared key: whole-row uniqueness against current state
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(f"i.{c}").eqNullSafe(F.col(f"t.{c}"))
    new_inserts = insert_images.alias("i").join(state.alias("t"), on=cond, how="left_anti")
    return survivors.unionByName(new_inserts)


def _nullsafe_cond_struct(state_alias: str, cols: Iterable[str], ev_alias: str, img: str) -> Column:
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(f"{state_alias}.{c}").eqNullSafe(F.col(f"{ev_alias}.{img}.{c}"))
    return cond


def dedupe_insert_replays(
    events: DataFrame,
    pk_cols: list[str] | None = None,
    before_col: str = "before",
    after_col: str = "after",
    pos_col: str = "pos",
) -> DataFrame:
    """C6 — at-least-once replays of the same event collapse to one
    (reference: duplicate-entry skip main.go:138-141). A replay is an
    identical (before, after, pos) triple; ``pk_cols`` is accepted for
    signature compatibility but unused (replays are whole-event
    duplicates)."""
    return events.dropDuplicates([before_col, after_col, pos_col])


def apply_cdc_sequential(
    state: DataFrame,
    events: DataFrame,
    pk_cols: list[str],
    before_col: str = "before",
    after_col: str = "after",
    pos_col: str = "pos",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Exact per-key sequential fold of mixed insert/update/delete chains —
    the reference's one-at-a-time semantics (main.go:63-169) reproduced
    per key, partition-parallel.

    Implementation: seed rows (current state) and events are unioned,
    hash-partitioned by key and sorted within partitions by
    (key, seed-first, pos, ts); a single linear ``mapInPandas`` pass folds
    each key's contiguous run. ONE shuffle and one Python scan — unlike a
    per-key ``applyInPandas`` cogroup, which pays a Python invocation per
    key (disastrous for millions of small keys).

    Use when a batch may contain existence-dependent chains on streams
    that are inconsistent with the target; otherwise :func:`apply_cdc`
    (set-based) is the fast path.
    """
    from collections.abc import Iterator

    cols = state.columns
    schema = state.schema
    keys = [
        F.coalesce(F.col(f"{after_col}.{k}"), F.col(f"{before_col}.{k}")).alias(k)
        for k in pk_cols
    ]
    img_type = F.struct(*[F.col(c) for c in cols])
    seed = state.select(
        *[F.col(k) for k in pk_cols],
        F.lit(None).cast(events.schema[before_col].dataType).alias("_before"),
        img_type.alias("_after"),
        F.lit(0).cast("long").alias("_pos"),
        F.lit(0).cast("long").alias("_ts"),
        F.lit(0).alias("_seed"),
    )
    ev = events.select(
        *keys,
        F.col(before_col).alias("_before"),
        F.col(after_col).alias("_after"),
        F.col(pos_col).cast("long").alias("_pos"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.lit(1).alias("_seed"),
    )
    par = state.sparkSession.sparkContext.defaultParallelism
    unioned = (
        seed.unionByName(ev)
        .repartition(par, *pk_cols)
        .sortWithinPartitions(*pk_cols, "_seed", "_pos", "_ts")
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        current_key = None
        exists = False
        row: dict | None = None
        out: list[dict] = []

        def flush():
            if exists and row is not None:
                out.append({c: row.get(c) for c in cols})

        for pdf in batches:
            for r in pdf.to_dict("records"):
                key = tuple(r[k] for k in pk_cols)
                if key != current_key:
                    flush()
                    current_key, exists, row = key, False, None
                before, after = r["_before"], r["_after"]
                if r["_seed"] == 0:
                    exists, row = True, dict(after)
                elif before is None and after is not None:
                    if not exists:  # C6 dup skip
                        exists, row = True, dict(after)
                elif before is not None and after is not None:
                    if exists:
                        row = dict(after)
                elif before is not None and after is None:
                    exists, row = False, None
            if out:
                yield pd.DataFrame(out, columns=cols)
                out = []
        flush()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return unioned.mapInPandas(fold, schema=schema)


def state_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Change-data-feed between two state snapshots: the inverse of
    ``apply_cdc``. Emits one row per changed key —

    - ``insert``: key only in ``new``
    - ``delete``: key only in ``old``
    - ``update``: key in both with any non-key column differing
      (null-safe comparison); unchanged keys emit nothing.

    Output: op + key columns + old_/new_-prefixed value columns. The join
    shuffles both snapshots on the key — one exchange each, the minimum
    possible for a full diff; at scale, range-bucketed stores can diff
    bucket-by-bucket with partition pruning instead."""
    val_cols = [c for c in old.columns if c not in keys]
    if [c for c in new.columns if c not in keys] != val_cols:
        raise ValueError("state_diff requires identical schemas")
    o = old.alias("o")
    n = new.alias("n")
    cond = None
    for k in keys:
        c = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    # state keys are primary keys (non-null by construction), so key
    # nullness after the full-outer join identifies side membership
    in_old = F.col(f"o.{keys[0]}").isNotNull()
    in_new = F.col(f"n.{keys[0]}").isNotNull()
    changed = None
    for c in val_cols:
        d = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = d if changed is None else changed | d
    op = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_cols = (
        [F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys]
        + [F.col(f"o.{c}").alias(f"old_{c}") for c in val_cols]
        + [F.col(f"n.{c}").alias(f"new_{c}") for c in val_cols]
    )
    return joined.select(op.alias("op"), *out_cols).filter(F.col("op").isNotNull())
