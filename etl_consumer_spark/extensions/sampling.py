"""Deterministic sampling / splitting operators for training-data pipelines.

Random sampling (``df.sample``) is seed- and partitioning-dependent and
differs across engines; these operators derive assignment from a content
hash instead, so splits are (a) reproducible run-to-run, (b) stable under
repartitioning and incremental re-runs (a document keeps its split when
the corpus grows), and (c) verifiable against any engine with md5.

All pure expressions; the only shuffle is the window in
:func:`per_group_quota`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_fraction(key: Column, salt: str = "") -> Column:
    """Uniform [0,1) value derived from md5(salt||key) — the portable
    substitute for rand(seed)."""
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10)
    return bucket.cast("double") / F.lit(float(16**8))


def deterministic_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split (e.g. train/val/test) by hashed
    key. Weights must sum to 1. Adds a ``split`` column."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    frac = hash_fraction(F.col(key_col), salt)
    expr = None
    cumulative = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cumulative += w
        cond = frac < F.lit(cumulative)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def deterministic_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "sample") -> DataFrame:
    """Keep a stable ``fraction`` of rows by hashed key."""
    return df.filter(hash_fraction(F.col(key_col), salt) < F.lit(fraction))


def per_group_quota(
    df: DataFrame,
    group_col: str,
    quota: int,
    order_col: str | None = None,
    salt: str = "quota",
) -> DataFrame:
    """Cap rows per group (e.g. max N documents per source/domain — the
    anti-boilerplate guard in corpus curation). Ranking is deterministic:
    by ``order_col`` if given, else by hashed key (a stable 'random'
    subset). Ties broken by the group+order hash."""
    order = F.col(order_col) if order_col else hash_fraction(F.col(group_col), salt)
    w = Window.partitionBy(group_col).orderBy(order.asc())
    return df.withColumn("_qrank", F.row_number().over(w)).filter(F.col("_qrank") <= quota).drop("_qrank")


def two_level_order(
    df: DataFrame,
    key_col: str,
    tie_col: str,
    val_col: str | None = None,
    n_buckets: int = 64,
    max_col: str | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Global ``row_number`` (column ``rk``) — and, when ``val_col`` is
    given, global running sum (column ``cum``); when ``max_col`` is given,
    the STRICT-prefix running max (column ``run_max_excl``: max of
    ``max_col`` over rows strictly earlier in the order, null for the
    first row — the skyline/dominance device) — over the total order
    ``(key_col DESC, tie_col ASC)`` WITHOUT a single-partition window.

    The distributed prefix-sum device (same shape as
    :func:`pack_contexts`): rows are range-bucketed on the integer order
    key so bucket index increases along the global order; the rank /
    running sum is windowed WITHIN each bucket partition; the per-bucket
    totals (``n_buckets`` rows, bounded) take the only unpartitioned
    window; bucket offsets broadcast-join back. Ties cannot straddle
    buckets because the bucket is a pure function of the order key.

    At 100 TB this is the difference between one task sorting the corpus
    (Spark's own "Moving all data to a single partition" warning) and an
    ordinary partitioned window plus an ``n_buckets``-row side table.
    """
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key_col):
        raise ValueError(f"key_col must be a plain identifier: {key_col!r}")
    # materialize the input once: the device walks it three ways (bounds,
    # within-bucket window, bucket totals), and chained calls (rank then
    # cumsum) otherwise re-run the whole upstream DAG per walk — the
    # iterative-lineage blowup measured on analytic_wasserstein_1d
    # (385 operators / 118 Exchanges before r13). ``materialize=False``
    # opts out (ADVICE r13 #4): localCheckpoint is non-replayable on
    # executor loss and pins O(input) executor storage — callers whose
    # input is already materialized (e.g. the percentile devices'
    # checkpointed histograms), or cluster deployments with executor
    # churn, can keep the lineage instead.
    if materialize:
        df = df.localCheckpoint(eager=True)
    key, tie = F.col(key_col), F.col(tie_col)
    bounds = df.agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
    b = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_bkt",
        # exact integer floor division — a float/decimal quotient could
        # round a boundary key into the wrong bucket and split a tie group
        F.expr(
            f"((_hi - {key_col}) * {n_buckets}) div (_hi - _lo + 1)"
        ).cast("long"),
    ).drop("_lo", "_hi")
    w_in = Window.partitionBy("_bkt").orderBy(key.desc(), tie.asc())
    within = b.withColumn("_rk_in", F.row_number().over(w_in))
    agg_cols = [F.count("*").alias("_cnt")]
    if val_col is not None:
        within = within.withColumn("_cum_in", F.sum(val_col).over(w_in))
        agg_cols.append(F.sum(val_col).alias("_tot"))
    if max_col is not None:
        # exclusive within-bucket running max: strictly earlier rows only
        within = within.withColumn(
            "_mx_in",
            F.max(max_col).over(w_in.rowsBetween(Window.unboundedPreceding, -1)),
        )
        agg_cols.append(F.max(max_col).alias("_bmx"))
    bkt = b.groupBy("_bkt").agg(*agg_cols)
    w_bkt = Window.orderBy("_bkt")  # n_buckets rows — bounded single partition
    off_cols = [
        "_bkt",
        (F.sum("_cnt").over(w_bkt) - F.col("_cnt")).alias("_rk_off"),
    ]
    if val_col is not None:
        off_cols.append((F.sum("_tot").over(w_bkt) - F.col("_tot")).alias("_cum_off"))
    if max_col is not None:
        off_cols.append(
            F.max("_bmx")
            .over(w_bkt.rowsBetween(Window.unboundedPreceding, -1))
            .alias("_mx_off")
        )
    offsets = bkt.select(*off_cols)
    out = within.join(F.broadcast(offsets), "_bkt").withColumn(
        "rk", F.col("_rk_off") + F.col("_rk_in")
    )
    drop = ["_bkt", "_rk_in", "_rk_off"]
    if val_col is not None:
        out = out.withColumn("cum", F.col("_cum_off") + F.col("_cum_in"))
        drop += ["_cum_in", "_cum_off"]
    if max_col is not None:
        # greatest() skips nulls unless both are null — exactly the
        # "no strict predecessor yet" semantics the skyline filter needs
        out = out.withColumn("run_max_excl", F.greatest("_mx_off", "_mx_in"))
        drop += ["_mx_in", "_mx_off"]
    return out.drop(*drop)


def pack_contexts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_tokens: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Sequence packing: concatenate all documents in id order and split
    the token stream into fixed ``ctx_tokens`` training contexts (the
    concat-then-chunk packing GPT-style pretraining uses — zero padding
    waste, documents may span context boundaries).

    Returns (ctx_id, n_docs, n_tokens): how many documents touch each
    context and how many tokens it holds (the last context may be
    partial). Empty documents (0 tokens) are excluded.

    Scale shape — a global prefix sum without a global window: documents
    are range-bucketed by id (``n_buckets`` from the broadcast max id),
    token counts are cum-summed WITHIN each bucket partition, and the
    bucket totals (n_buckets rows) get their own tiny cumulative offset
    window which joins back by broadcast. No single-partition window over
    the corpus — the two-level scan is how distributed prefix sums are
    built. The per-doc context span then explodes into at most
    ceil(len/ctx) rows and aggregates by ctx_id.
    """
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")))
    t = docs.select(
        F.col(id_col).cast("long").alias("id"), toks.cast("long").alias("n")
    ).filter(F.col("n") > 0)
    bounds = t.agg(F.max("id").alias("max_id"))
    t = t.crossJoin(F.broadcast(bounds)).select(
        "id",
        "n",
        (F.col("id") * n_buckets / (F.col("max_id") + 1)).cast("long").alias("bkt"),
    )
    w_in = Window.partitionBy("bkt").orderBy("id")
    within = t.select("id", "n", "bkt", F.sum("n").over(w_in).alias("cum_in"))
    bkt_tot = t.groupBy("bkt").agg(F.sum("n").alias("tot"))
    w_bkt = Window.orderBy("bkt")  # n_buckets rows — bounded single partition
    offsets = bkt_tot.select(
        "bkt", (F.sum("tot").over(w_bkt) - F.col("tot")).alias("off")
    )
    g = within.join(F.broadcast(offsets), "bkt").select(
        "id",
        "n",
        (F.col("off") + F.col("cum_in") - F.col("n")).alias("start"),
        (F.col("off") + F.col("cum_in")).alias("end"),
    )
    c = F.lit(ctx_tokens)
    spans = g.select(
        "id",
        "start",
        "end",
        F.explode(
            F.sequence(
                F.expr(f"start div {ctx_tokens}"), F.expr(f"(end - 1) div {ctx_tokens}")
            )
        ).alias("ctx_id"),
    )
    in_ctx = F.least((F.col("ctx_id") + 1) * c, F.col("end")) - F.greatest(
        F.col("ctx_id") * c, F.col("start")
    )
    return spans.groupBy("ctx_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(in_ctx).cast("long").alias("n_tokens"),
    )
