"""Distributed sketches built from portable primitives.

Spark ships ``approx_count_distinct`` (HLL++), but its sketch is opaque and
engine-specific — useless when a DuckDB oracle (or any other system) must
agree bit-for-bit. This module rebuilds HyperLogLog from md5 + string ops
so every engine computes the identical registers:

- bucket  = first 2 hex digits of md5(value)        (m = 256 registers)
- payload = next 13 hex digits (52 bits)
- rank    = leading-zero bits of payload + 1, derived from hex-digit
  string arithmetic (NO float log2 — libm rounding could differ across
  engines near powers of two)

Registers (bucket, max rank) are exactly comparable; the cardinality
estimate is driver-side arithmetic over 256 values. Merging sketches =
max per bucket — associative, so partial aggregation works and the
operator scales as an ordinary groupBy.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_M = 256  # registers (precision 8)

# leading-zero bits within one hex digit (above its bit length)
_DIGIT_LZ = {
    "0": 4,
    "1": 3,
    "2": 2, "3": 2,
    "4": 1, "5": 1, "6": 1, "7": 1,
    "8": 0, "9": 0, "a": 0, "b": 0, "c": 0, "d": 0, "e": 0, "f": 0,
}


def _digit_lz_map() -> Column:
    pairs = []
    for d, lz in _DIGIT_LZ.items():
        pairs.append(F.lit(d))
        pairs.append(F.lit(lz))
    return F.create_map(*pairs)


def hll_rank(payload_hex: Column) -> Column:
    """Leading-zero bits of the 13-hex-digit payload, +1 (1..53).

    Pure string arithmetic: count leading '0' digits, then add the
    partial leading zeros of the first non-zero digit."""
    stripped = F.regexp_replace(payload_hex, "^0+", "")
    n_zero_digits = F.length(payload_hex) - F.length(stripped)
    first_digit = F.substring(stripped, 1, 1)
    partial = F.coalesce(F.element_at(_digit_lz_map(), first_digit), F.lit(0))
    all_zero = F.length(stripped) == 0
    return F.when(all_zero, F.lit(53)).otherwise(n_zero_digits * 4 + partial + 1).cast("int")


def hll_registers(df: DataFrame, value: Column) -> DataFrame:
    """HLL registers for one column: (bucket 0..255, r = max rank).
    Buckets with no hash are absent (rank 0 implied)."""
    h = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rank = hll_rank(F.substring(h, 3, 13))
    return (
        df.select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("r"))
    )


def hll_registers_grouped(
    df: DataFrame, group_cols: list[str], value: Column
) -> DataFrame:
    """Per-group HLL registers: (group..., bucket, r). The grouped form of
    ``hll_registers`` — one 256-register sketch per group, built by a single
    groupBy(group, bucket).max(rank). max is associative, so partials
    combine map-side: at 100 TB this is the replacement for a per-group
    count_distinct whose exact shuffle would move every distinct value."""
    h = F.md5(value.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rank = hll_rank(F.substring(h, 3, 13))
    return (
        df.select(*group_cols, bucket.alias("bucket"), rank.alias("rank"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("r"))
    )


def hll_estimate_col(n_present: Column, sum_pow: Column, m: int = HLL_M) -> Column:
    """In-plan HLL estimate from per-group register aggregates: ``n_present``
    = registers with rank >= 1, ``sum_pow`` = sum of 2^-r over them (absent
    registers contribute 2^0 = 1 each). Same arithmetic as the driver-side
    ``hll_estimate`` (Flajolet '07, alpha_256 + linear-counting correction),
    expressed as one column expression so the estimate happens inside the
    aggregation plan, no collect."""
    alpha = 0.7213 / (1 + 1.079 / m)
    zeros = (F.lit(m) - n_present).cast("double")
    raw = F.lit(alpha * m * m) / (sum_pow + zeros)
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


def hll_estimate(registers: list[tuple[int, int]], m: int = HLL_M) -> float:
    """Driver-side HLL estimate (Flajolet et al. 2007, alpha_256) with the
    standard small-range (linear counting) correction."""
    by_bucket = dict(registers)
    ranks = [by_bucket.get(b, 0) for b in range(m)]
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum(2.0 ** -r for r in ranks)
    zeros = ranks.count(0)
    if raw <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return raw


def hll_count_distinct(df: DataFrame, value: Column) -> float:
    regs = [(r["bucket"], r["r"]) for r in hll_registers(df, value).collect()]
    return hll_estimate(regs)


# ---------------------------------------------------------------------------
# Portable Bloom filter: m bits as m/64 longs, k md5-derived hash positions.
# Like the HLL above, the bitmap is register-exact across engines, and
# bit_or is associative so per-partition partials combine map-side — the
# operator scales as an ordinary groupBy. Spark's own BloomFilter
# (DataFrameStatFunctions) is engine-opaque; this one any system can verify.
# ---------------------------------------------------------------------------

BLOOM_M = 1024  # bits
BLOOM_K = 4     # hash functions (8 hex digits of md5 each)


def bloom_positions(key: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> Column:
    """Array of k bit positions in [0, m) for one key. One md5 yields four
    independent 32-bit slices (8 hex digits each); k > 4 chains further
    digests md5(key || '#' || block) rather than slicing past the end of
    the hex string (which would silently produce empty substrings)."""
    base = key.cast("string")
    positions = []
    for j in range(k):
        block, slot = divmod(j, 4)
        h = F.md5(base if block == 0 else F.concat(base, F.lit(f"#{block}")))
        positions.append(
            F.pmod(F.conv(F.substring(h, 1 + 8 * slot, 8), 16, 10).cast("long"), F.lit(m))
        )
    return F.array(*positions)


def bloom_bits(df: DataFrame, key_col: str = "key", k: int = BLOOM_K, m: int = BLOOM_M) -> DataFrame:
    """Build the filter: (word_idx, bits) rows, one per occupied 32-bit
    word (32-bit words keep every shifted value positive and inside BIGINT
    range in every engine — DuckDB overflow-checks ``1 << 63``). Merge two
    filters by unioning and re-aggregating with bit_or."""
    pos = (
        df.select(F.explode(bloom_positions(F.col(key_col), k, m)).alias("p"))
        .distinct()
    )
    return (
        pos.select(
            F.expr("cast(p div 32 as int)").alias("word_idx"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("_b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_b").alias("bits"))
    )


def bloom_might_contain(bits_by_word: dict[int, int], key: str, k: int = BLOOM_K, m: int = BLOOM_M) -> bool:
    """Driver-side membership probe against a collected filter (no false
    negatives; false-positive rate ~(1 - e^(-kn/m))^k)."""
    import hashlib

    for j in range(k):
        block, slot = divmod(j, 4)
        data = key if block == 0 else f"{key}#{block}"
        h = hashlib.md5(data.encode()).hexdigest()
        p = int(h[8 * slot : 8 * slot + 8], 16) % m
        word, bit = p // 32, p % 32
        if not (bits_by_word.get(word, 0) >> bit) & 1:
            return False
    return True


# ---------------------------------------------------------------------------
# Count-min sketch (round 4): mergeable heavy-hitter counters from the same
# portable-md5 discipline as HLL — depth x width integer counters that any
# engine reproduces exactly. Merging sketches = elementwise sum
# (associative -> partial aggregation), point estimate = min over depth of
# the hashed-bucket counters (driver-side over d*w <= 256 values).
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 64


def cm_registers(df: DataFrame, value: Column) -> DataFrame:
    """(depth, bucket, cnt) counters: one row per non-empty counter.

    hash_j(x) = int(md5(j || ':' || x)[:4 hex]) mod width — j salts the
    hash so the depth rows are independent. Single pass: each input row
    explodes to CM_DEPTH (depth, bucket) pairs, then one groupBy."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{j}:"), value.cast("string"))), 1, 4),
                        16, 10,
                    ).cast("long")
                    % CM_WIDTH
                ).alias("bucket"),
            )
            for j in range(CM_DEPTH)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.depth", "p.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def exact_percentiles_distributed(
    df: DataFrame,
    value_col: str,
    ranks: DataFrame,
    id_col: str = "rn",
    p_col: str = "p",
    out_col: str = "exact",
) -> DataFrame:
    """EXACT linearly-interpolated percentiles of an integer-valued column
    WITHOUT a single-reducer percentile buffer — the distributed ground
    truth for sketch accuracy audits (VERDICT r10 #5).

    Spark's ``percentile()`` aggregate merges a per-value count map on ONE
    reducer: at sf1.0 the lineitem cents column has 4.6M distinct values
    and the merge dominated ``sketch_quantile_accuracy_eval`` (17 s warm);
    at 100 TB the buffer simply OOMs. Here the (value, count) histogram is
    built by an ordinary distributed groupBy, globally ordered by the
    two-level bucket prefix-sum device (``two_level_order`` — partitioned
    windows plus a bounded side table, never a full sort on one task), and
    each requested rank fetches its two bracketing rows with a broadcast
    8-row position join.

    Interpolation mirrors Spark ``percentile(v, p)`` operation-for-
    operation (ADVICE r12): 0-based position ``p*(n-1)`` in doubles, then
    the symmetric weighted form ``(higher - position) * lo +
    (position - lower) * hi`` — the exact arithmetic of
    Percentile.getPercentile (sql/catalyst Percentile.scala), with the
    integral-position case returning ``lo`` directly as the builtin does.
    DuckDB ``quantile_cont`` uses ``lo + (hi - lo) * frac``, which can
    differ by 1 ulp at a rounding boundary; for dyadic percentiles
    (.25/.5/.75/1.0) over integer values both forms are exact in doubles
    and all three agree bit-for-bit by construction.

    NULL values of ``value_col`` are dropped up front, matching
    ``percentile()`` / ``quantile_cont`` null-skipping semantics
    (ADVICE r12: a null row must not inflate ``n`` or rank positions).

    ``ranks`` is a small (id, p) DataFrame; returns (id, ``out_col``)."""
    from etl_consumer_spark.extensions.sampling import two_level_order

    h = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_f"))
        .withColumn("_negv", -F.col("_v"))
        # histogram-sized; two consumers (order device + total) — without
        # this each re-runs the histogram groupBy from the base table
        .localCheckpoint(eager=True)
    )
    # two_level_order ranks by (key DESC, tie ASC); negating the value
    # yields ascending value order, cum = inclusive running count.
    # materialize=False: h is already checkpointed just above — the
    # device's own checkpoint would double-materialize it (ADVICE r13 #4)
    ordered = two_level_order(
        h, key_col="_negv", tie_col="_v", val_col="_f", materialize=False
    )
    tot = h.agg(F.sum("_f").alias("_n"))
    tgt = (
        ranks.crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            (F.col(p_col) * (F.col("_n") - 1)).alias("_pos"),
        )
        .select(
            id_col,
            (F.col("_pos") - F.floor("_pos")).cast("double").alias("_frac"),
            # (higher - position) carried separately so the final combine
            # can reproduce getPercentile's weighted form exactly
            (F.ceil("_pos").cast("double") - F.col("_pos")).alias("_cfrac"),
            (F.floor("_pos") + 1).cast("long").alias("_tlo"),
            F.when(F.col("_pos") == F.floor("_pos"), F.floor("_pos") + 1)
            .otherwise(F.floor("_pos") + 2)
            .cast("long")
            .alias("_thi"),
        )
    )
    pos_tall = tgt.select(
        id_col,
        "_frac",
        "_cfrac",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("which"), F.col("_tlo").alias("t")),
                F.struct(F.lit("hi").alias("which"), F.col("_thi").alias("t")),
            )
        ).alias("_w"),
    ).select(
        id_col, "_frac", "_cfrac", F.col("_w.which").alias("which"), F.col("_w.t").alias("t")
    )
    # each histogram row owns positions (cum - f, cum]; the position probe
    # is a broadcast nested-loop against 2x|ranks| rows — map-side, no
    # shuffle of the histogram
    hit = ordered.join(
        F.broadcast(pos_tall),
        (F.col("t") <= F.col("cum")) & (F.col("t") > F.col("cum") - F.col("_f")),
    )
    return (
        hit.groupBy(id_col, "_frac", "_cfrac")
        .agg(
            F.max(F.when(F.col("which") == "lo", F.col("_v"))).alias("_vlo"),
            F.max(F.when(F.col("which") == "hi", F.col("_v"))).alias("_vhi"),
        )
        .select(
            id_col,
            # Percentile.getPercentile verbatim: integral position OR
            # equal bracketing keys return the lower key without
            # arithmetic (the builtin's two no-interpolation guards —
            # without the second, cfrac*v + frac*v could round to
            # v +/- 1 ulp); otherwise (higher-pos)*lo + (pos-lower)*hi
            F.when(
                (F.col("_frac") == F.lit(0.0)) | (F.col("_vlo") == F.col("_vhi")),
                F.col("_vlo").cast("double"),
            )
            .otherwise(
                F.col("_cfrac") * F.col("_vlo").cast("double")
                + F.col("_frac") * F.col("_vhi").cast("double")
            )
            .alias(out_col),
        )
    )


def exact_percentiles_grouped(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: list[float],
    out_names: list[str],
    order_scale: int = 1,
    n_buckets: int = 64,
) -> DataFrame:
    """Grouped EXACT linearly-interpolated percentiles without Spark's
    ``percentile()`` single-reducer count-map merge — the per-GROUP
    sibling of :func:`exact_percentiles_distributed` (VERDICT r11 #2:
    ``olap_percentiles`` groups 4.6M distinct prices onto 3 reducers).

    Shape: one distributed (group, value) histogram groupBy; a per-group
    two-level bucket prefix sum (windows partitioned by (group, bucket);
    the offset window is partitioned by group over <= ``n_buckets`` rows,
    never a corpus sort on one task); then each of the |groups| x |ps|
    requested positions fetches its two bracketing histogram rows with a
    broadcast position join, exactly like the ungrouped device.

    Interpolation reproduces Spark ``percentile(v, p)`` bit-for-bit BY
    CONSTRUCTION (ADVICE r12): 0-based position ``p * (n-1)`` in doubles,
    then Percentile.getPercentile's own symmetric weighted form
    ``(higher - position) * double(lo) + (position - lower) * double(hi)``
    (integral positions return ``lo`` directly, as the builtin does) —
    not the ``lo + (hi-lo)*frac`` form, which agrees only within 1 ulp.
    Swapping the physical plan therefore cannot move a rounded digit.
    NULLs in ``value_col`` are dropped up front, matching
    ``percentile()`` / ``quantile_cont`` null-skipping semantics.

    ``order_scale``: multiplier making ``value * order_scale`` an exact
    integer (e.g. 100 for a DECIMAL(12,2) price) — the integer order key
    the range-bucketing device requires. Values themselves interpolate at
    full precision. Returns one row per group with ``out_names`` columns.
    """
    from pyspark.sql import Window

    h = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_f"))
        .withColumn("_vk", (F.col("_v") * F.lit(order_scale)).cast("long"))
        # histogram-sized; three consumers (bounds, bucketing, totals)
        .localCheckpoint(eager=True)
    )
    # global value bounds bucket ALL groups' histograms on one scale —
    # the bucket is a pure function of the value, so within every group
    # the bucket index still increases along the value order
    bounds = h.agg(F.min("_vk").alias("_lo"), F.max("_vk").alias("_hi"))
    b = (
        h.crossJoin(F.broadcast(bounds))
        .withColumn(
            "_bkt",
            # exact integer floor division (same rationale as
            # two_level_order: a float quotient could round a boundary
            # key into the wrong bucket)
            F.expr(f"((_vk - _lo) * {n_buckets}) div (_hi - _lo + 1)").cast("long"),
        )
        .drop("_lo", "_hi")
    )
    w_in = Window.partitionBy("_g", "_bkt").orderBy(F.col("_vk").asc())
    within = b.withColumn("_cum_in", F.sum("_f").over(w_in))
    # per-(group, bucket) totals -> per-group bucket offsets: the window
    # is PARTITIONED by group and scans <= n_buckets rows per partition
    bkt = b.groupBy("_g", "_bkt").agg(F.sum("_f").alias("_tot"))
    w_g = Window.partitionBy("_g").orderBy("_bkt")
    off = bkt.select(
        "_g", "_bkt", (F.sum("_tot").over(w_g) - F.col("_tot")).alias("_off")
    )
    ordered = within.join(F.broadcast(off), ["_g", "_bkt"]).withColumn(
        "cum", F.col("_cum_in") + F.col("_off")
    )
    tot = h.groupBy("_g").agg(F.sum("_f").alias("_n"))
    qs = F.array(
        *[
            F.struct(F.lit(name).alias("_pn"), F.lit(float(p)).cast("double").alias("_p"))
            for name, p in zip(out_names, ps)
        ]
    )
    tgt = (
        tot.select("_g", "_n", F.explode(qs).alias("_q"))
        .select(
            F.col("_g").alias("_tg"),
            F.col("_q._pn").alias("_pn"),
            (F.col("_q._p") * (F.col("_n") - 1)).alias("_pos"),
        )
        .select(
            "_tg",
            "_pn",
            (F.col("_pos") - F.floor("_pos")).cast("double").alias("_frac"),
            # (higher - position), kept separate for getPercentile's
            # weighted combine below
            (F.ceil("_pos").cast("double") - F.col("_pos")).alias("_cfrac"),
            (F.floor("_pos") + 1).cast("long").alias("_tlo"),
            F.when(F.col("_pos") == F.floor("_pos"), F.floor("_pos") + 1)
            .otherwise(F.floor("_pos") + 2)
            .cast("long")
            .alias("_thi"),
        )
    )
    pos_tall = tgt.select(
        "_tg",
        "_pn",
        "_frac",
        "_cfrac",
        F.explode(
            F.array(
                F.struct(F.lit("lo").alias("which"), F.col("_tlo").alias("t")),
                F.struct(F.lit("hi").alias("which"), F.col("_thi").alias("t")),
            )
        ).alias("_w"),
    ).select(
        "_tg",
        "_pn",
        "_frac",
        "_cfrac",
        F.col("_w.which").alias("which"),
        F.col("_w.t").alias("t"),
    )
    # 2 x |groups| x |ps| probe rows broadcast against the histogram —
    # map-side, the histogram never shuffles again
    hit = ordered.join(
        F.broadcast(pos_tall),
        (F.col("_g") == F.col("_tg"))
        & (F.col("t") <= F.col("cum"))
        & (F.col("t") > F.col("cum") - F.col("_f")),
    )
    tall = (
        hit.groupBy("_g", "_pn", "_frac", "_cfrac")
        .agg(
            F.max(F.when(F.col("which") == "lo", F.col("_v"))).alias("_vlo"),
            F.max(F.when(F.col("which") == "hi", F.col("_v"))).alias("_vhi"),
        )
        .select(
            "_g",
            "_pn",
            # Percentile.getPercentile verbatim: integral position OR
            # equal bracketing keys return the lower key without
            # arithmetic (the builtin's two no-interpolation guards —
            # without the second, cfrac*v + frac*v could round to
            # v +/- 1 ulp); otherwise (higher-pos)*lo + (pos-lower)*hi
            F.when(
                (F.col("_frac") == F.lit(0.0)) | (F.col("_vlo") == F.col("_vhi")),
                F.col("_vlo").cast("double"),
            )
            .otherwise(
                F.col("_cfrac") * F.col("_vlo").cast("double")
                + F.col("_frac") * F.col("_vhi").cast("double")
            )
            .alias("_val"),
        )
    )
    return tall.groupBy(F.col("_g").alias(group_col)).agg(
        *[
            F.max(F.when(F.col("_pn") == name, F.col("_val"))).alias(name)
            for name in out_names
        ]
    )
