"""Debezium logical-type decoders F1–F7, F11, F12 as Column-expression builders.

Each function returns a pyspark Column built from built-in expressions only
(JVM-side, whole-stage-codegen'd) — the reference decodes these row-at-a-time
in Go (reference: main.go:205-346). The single exception is the
arbitrary-precision decimal path (> _EXPR_MAX_BYTES unscaled bytes), which is
a vectorized Arrow pandas_udf.

Scale note: all of these are per-row scalar expressions with no shuffle and
no Python in the hot path, so they vectorize inside WholeStageCodegen and
scale linearly with input splits — the 100 TB plan is the same plan.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Union

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ColumnOrName = Union[Column, str]

_DEC38 = T.DecimalType(38, 0)

# Widest unscaled value the pure-expression path handles: 15 bytes = 2^120-ish
# fits Decimal(38,0) with headroom (2^127 would not).
_EXPR_MAX_BYTES = 15


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _hex_digit_map() -> Column:
    pairs: list[Column] = []
    for i, d in enumerate("0123456789ABCDEF"):
        pairs.append(F.lit(d))
        pairs.append(F.lit(i))
    return F.create_map(*pairs)


def decimal_unscaled(b64: ColumnOrName) -> Column:
    """Big-endian two's-complement base64 → unscaled integer as Decimal(38,0).

    Reference semantics (main.go:224-241): base64-decode, interpret bytes as
    big-endian unsigned, and if the top bit of byte 0 is set, subtract
    2^(8*nbytes) (two's-complement sign fix-up).

    Pure-expression implementation: fold the hex digits of the payload into a
    Decimal(38,0) accumulator (handles up to 15-byte unscaled values — wider
    than any MySQL DECIMAL(38)); malformed base64 → null (caller maps to 0 to
    match reference main.go:227).
    """
    raw = F.try_to_binary(_col(b64), F.lit("base64"))
    hx = F.hex(raw)
    nbytes = F.length(raw)
    first_byte = F.conv(F.substring(hx, 1, 2), 16, 10).cast("int")
    is_negative = first_byte >= 128

    # Fast path (<=8 bytes — every MySQL DECIMAL(<=18) and most others):
    # one conv() call interpreting the hex as unsigned 64-bit, minus
    # 256^nbytes for negatives. No array fold at all.
    fast_unsigned = F.conv(hx, 16, 10).cast(T.DecimalType(20, 0)).cast(_DEC38)
    pow_pairs: list[Column] = []
    for n in range(1, 9):
        pow_pairs.append(F.lit(n))
        pow_pairs.append(F.lit(str(256**n)).cast(_DEC38))
    pow_small = F.element_at(F.create_map(*pow_pairs), nbytes)
    fast_signed = F.when(is_negative, fast_unsigned - pow_small).otherwise(fast_unsigned)

    # General expression path (9..15 bytes): fold hex digits into a
    # Decimal(38,0) accumulator.
    digits = F.filter(F.split(hx, ""), lambda c: c != F.lit(""))
    hexmap = _hex_digit_map()
    unsigned = F.aggregate(
        digits,
        F.lit(0).cast(_DEC38),
        lambda acc, c: acc * F.lit(16) + F.element_at(hexmap, c).cast(_DEC38),
    )
    # 256^nbytes as exact decimal (pow() would go through double and lose precision)
    pow256 = F.aggregate(
        F.sequence(F.lit(1), nbytes),
        F.lit(1).cast(_DEC38),
        lambda acc, _: acc * F.lit(256),
    )
    signed = F.when(is_negative, unsigned - pow256).otherwise(unsigned)

    # Width guard keeps the expression ANSI-safe: >15-byte payloads would
    # overflow Decimal(38,0) mid-fold; they yield null here (use
    # decimal_decode_big for those — CASE WHEN short-circuits, so the fold
    # never executes for the wide rows).
    return (
        F.when(nbytes == 0, F.lit(0).cast(_DEC38))
        .when(nbytes <= 8, fast_signed)
        .when(nbytes <= _EXPR_MAX_BYTES, signed)
        .otherwise(F.lit(None).cast(_DEC38))
    )


def decimal_decode(
    b64: ColumnOrName,
    scale: ColumnOrName | int,
    *,
    reference_format: bool = False,
) -> Column:
    """F1 — Connect ``Decimal`` wire value → numeric (reference: main.go:224-258).

    ``scale`` is the Connect ``parameters.scale`` (data/model.go:50-53);
    result is unscaled / 10^scale as double. With ``reference_format=True``,
    rounds half-even to 2 decimals, matching the reference's ``%.2f``
    formatting (main.go:257) — a deliberate data-loss quirk we keep opt-in.
    Malformed base64 decodes to 0 (main.go:226-228).
    """
    scale_col = F.lit(scale) if isinstance(scale, int) else _col(scale)
    unscaled = decimal_unscaled(b64)
    value = F.coalesce(
        unscaled.cast("double") / F.pow(F.lit(10.0), scale_col.cast("double")),
        F.lit(0.0),
    )
    if reference_format:
        value = F.bround(value, 2)
    return value


def decimal_decode_typed(b64: ColumnOrName, scale: int, precision: int = 38) -> Column:
    """F1 (typed) — exact DecimalType(precision, scale) result; the engine's
    preferred representation (SURVEY §7 hard-part 1: we keep true decimals
    rather than the reference's lossy float64/%.2f path)."""
    unscaled = decimal_unscaled(b64)
    return (unscaled / F.lit(10**scale).cast(_DEC38)).cast(T.DecimalType(precision, scale))


def _decimal_decode_big_impl(b64: pd.Series, scale: pd.Series) -> pd.Series:
    import base64 as _b64

    def one(b, s):
        if b is None:
            return None
        try:
            raw = _b64.b64decode(b, validate=True)
        except Exception:
            return "0"
        n = int.from_bytes(raw, "big", signed=True) if raw else 0
        sc = int(s) if s is not None and not pd.isna(s) else 0
        return str(Decimal(n).scaleb(-sc))

    return pd.Series([one(b, s) for b, s in zip(b64, scale)])


def decimal_decode_big(b64: ColumnOrName, scale: ColumnOrName) -> Column:
    """F1 (arbitrary precision) — Arrow-vectorized pandas_udf fallback for
    unscaled values wider than the expression path (>15 bytes). Returns the
    exact decimal as a string to avoid any precision ceiling. UDF is created
    lazily so importing this module needs no active SparkSession."""
    fn = F.pandas_udf(_decimal_decode_big_impl, T.StringType())
    return fn(_col(b64), _col(scale))


def epoch_day_to_date(days: ColumnOrName) -> Column:
    """F2 — ``io.debezium.time.Date`` (days since epoch) → DateType
    (reference: main.go:259-264). Negative values (pre-1970) supported."""
    return F.date_add(F.to_date(F.lit("1970-01-01")), _col(days).cast("int"))


def epoch_ms_to_timestamp(
    ms: ColumnOrName,
    *,
    with_timezone: bool = False,
    tz_hours: int = 7,
) -> Column:
    """F3 — ``io.debezium.time.Timestamp`` (ms since epoch) → TimestampType
    (reference: main.go:265-276). ``with_timezone`` applies the reference's
    hardcoded −7 h read shift (main.go:271), parameterized per SURVEY §7
    hard-part 4."""
    return _shift(F.timestamp_millis(_col(ms).cast("long")), with_timezone, tz_hours)


def epoch_micros_to_timestamp(
    micros: ColumnOrName,
    *,
    with_timezone: bool = False,
    tz_hours: int = 7,
) -> Column:
    """``io.debezium.time.MicroTimestamp`` (µs since epoch: a MySQL
    ``DATETIME(4)``-``(6)`` column in Debezium's default adaptive time mode)
    → TimestampType, with F3's ``with_timezone`` shift."""
    return _shift(F.timestamp_micros(_col(micros).cast("long")), with_timezone, tz_hours)


def _shift(ts: Column, with_timezone: bool, tz_hours: int) -> Column:
    return ts - F.make_interval(hours=F.lit(tz_hours)) if with_timezone else ts


def micros_to_time(micros: ColumnOrName) -> Column:
    """F4 — ``io.debezium.time.MicroTime`` (µs since midnight) → unpadded
    ``H:M:S`` string, exactly the reference's ``'%d:%d:%d'`` format
    (main.go:277-287) — e.g. 3661000000 → ``1:1:1``, not ``01:01:01``."""
    total_sec = F.floor(_col(micros).cast("long") / F.lit(1_000_000))
    h = F.floor(total_sec / 3600)
    m = F.floor(total_sec / 60) % 60
    s = total_sec % 60
    return F.concat_ws(":", h.cast("string"), m.cast("string"), s.cast("string"))


# Unanchored date gate used by the reference before stripping T/Z (main.go:212)
ZONED_TS_GATE = r"((19|20)\d\d)-(0?[1-9]|1[012])-(0?[1-9]|[12][0-9]|3[01])"


def zoned_ts_normalize(
    s: ColumnOrName,
    *,
    tz_hours: int = 7,
    as_string: bool = False,
) -> Column:
    """F5 — ``io.debezium.time.ZonedTimestamp`` ISO-8601 string → timestamp
    shifted +tz_hours (reference: main.go:289-297).

    Faithful behaviors: the T/Z strip only happens when the string contains a
    date matching :data:`ZONED_TS_GATE`; a string that then fails
    ``yyyy-MM-dd HH:mm:ss`` parsing falls back to Go's zero time
    (0001-01-01 00:00:00) before the +7 h shift (time.Parse error ignored,
    main.go:295)."""
    col = _col(s)
    stripped = F.when(
        col.rlike(ZONED_TS_GATE),
        F.replace(F.replace(col, F.lit("T"), F.lit(" ")), F.lit("Z"), F.lit("")),
    ).otherwise(col)
    parsed = F.coalesce(
        F.try_to_timestamp(stripped, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.to_timestamp(F.lit("0001-01-01 00:00:00")),
    )
    shifted = parsed + F.make_interval(hours=F.lit(tz_hours))
    if as_string:
        return F.date_format(shifted, "yyyy-MM-dd HH:mm:ss")
    return shifted


def bool_to_int(b: ColumnOrName) -> Column:
    """F6 — boolean → 1/0 (reference: main.go:301-308)."""
    return _col(b).cast("boolean").cast("int")


def quote_strip(s: ColumnOrName) -> Column:
    """F7 — remove all single quotes from a string (reference: main.go:336,
    the default-type sanitization before SQL quoting)."""
    return F.replace(_col(s), F.lit("'"), F.lit(""))


def topic_name(server: ColumnOrName, db: ColumnOrName, table: ColumnOrName) -> Column:
    """F11 — CDC topic name ``{server}.{db}.{table}`` (reference: main.go:52)."""
    return F.concat_ws(".", _col(server), _col(db), _col(table))


def ddl_strip_db(ddl: ColumnOrName, db_name: ColumnOrName) -> Column:
    """F12 — remove the backtick-quoted ```db`.`` qualifier from DDL text,
    literal (non-regex) replace of every occurrence (reference: main.go:87)."""
    needle = F.concat(F.lit("`"), _col(db_name), F.lit("`."))
    return F.replace(_col(ddl), needle, F.lit(""))


# ---------------------------------------------------------------------------
# Test-support encoder (inverse of decimal_unscaled) — used by the oracle
# queries and property tests to round-trip F1 without driver-side data.
# ---------------------------------------------------------------------------

def decimal_encode_b64(unscaled: ColumnOrName) -> Column:
    """Encode a BIGINT unscaled value as the minimal big-endian
    two's-complement base64 string Debezium would put on the wire.

    Spark's ``hex(bigint)`` is already 16-hex-digit two's complement for
    negatives; we left-pad positives and strip redundant sign-extension byte
    pairs (leading ``00`` before a 0-7 nibble, leading ``FF`` before 8-F)."""
    x = _col(unscaled).cast("long")
    # hex(negative long) is already full 16-digit two's complement; positives
    # print without leading zeros, so pad with '0' to a whole byte count.
    hx = F.lpad(F.hex(x), 16, "0")
    minimal = F.regexp_replace(
        F.regexp_replace(hx, r"^(?:00)+(?=[0-7])", ""),
        r"^(?:FF)+(?=[89A-F])",
        "",
    )
    return F.base64(F.unhex(minimal))
