"""Decoder tests F1-F7: property-style round-trips against pure-Python
reference implementations of the semantics in reference main.go:205-346."""

from __future__ import annotations

import base64
import datetime as dt
import random
from decimal import Decimal

from pyspark.sql import functions as F

from etl_consumer_spark import functions as EF


def py_encode(n: int) -> str:
    """Minimal big-endian two's-complement base64 (what Debezium puts on the wire)."""
    if n == 0:
        return base64.b64encode(b"\x00").decode()
    nbytes = (n.bit_length() + 8) // 8 if n > 0 else ((-n - 1).bit_length() + 8) // 8
    nbytes = max(1, nbytes)
    return base64.b64encode(n.to_bytes(nbytes, "big", signed=True)).decode()


def test_decimal_decode_seeded_batch(spark):
    rng = random.Random(42)
    cases = [0, 1, -1, 127, 128, -128, -129, 255, -255, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    cases += [rng.randint(-(10**28), 10**28) for _ in range(200)]
    cases += [rng.randint(-(2**119), 2**119 - 1) for _ in range(50)]  # full expr-path width
    rows = [(py_encode(n), rng.randint(0, 6), str(n)) for n in cases]
    df = spark.createDataFrame(rows, "b64 string, scale int, n string")
    out = df.select(
        "n",
        "scale",
        EF.decimal_unscaled("b64").alias("unscaled"),
        EF.decimal_decode("b64", "scale").alias("val"),
        EF.decimal_decode_big("b64", F.col("scale")).alias("big"),
    ).collect()
    for r in out:
        n = int(r["n"])
        assert int(r["unscaled"]) == n, f"unscaled mismatch for {n}"
        expect = n / 10 ** r["scale"]
        assert abs(r["val"] - expect) <= abs(expect) * 1e-12 + 1e-12
        assert Decimal(r["big"]) == Decimal(n).scaleb(-r["scale"])


def test_decimal_decode_wide_and_malformed(spark):
    wide = 2**125  # 16-byte payload: expression path must yield null, big path exact
    rows = [(py_encode(wide), 2, "wide"), ("!!!notbase64!!!", 2, "bad"), (None, 2, "null")]
    df = spark.createDataFrame(rows, "b64 string, scale int, tag string")
    out = {r["tag"]: r for r in df.select(
        "tag",
        EF.decimal_unscaled("b64").alias("unscaled"),
        EF.decimal_decode("b64", "scale").alias("val"),
        EF.decimal_decode_big("b64", F.col("scale")).alias("big"),
    ).collect()}
    assert out["wide"]["unscaled"] is None
    assert Decimal(out["wide"]["big"]) == Decimal(wide).scaleb(-2)
    # malformed base64 -> 0 (reference main.go:226-228 writes '0')
    assert out["bad"]["val"] == 0.0
    assert out["bad"]["big"] == "0"
    assert out["null"]["val"] == 0.0


def test_decimal_reference_format_rounds_half_even(spark):
    # reference formats %.2f (Go: round-half-even) — main.go:257
    rows = [(py_encode(12345), 3), (py_encode(125), 3), (py_encode(135), 3)]
    df = spark.createDataFrame(rows, "b64 string, scale int")
    vals = [r[0] for r in df.select(EF.decimal_decode("b64", "scale", reference_format=True)).collect()]
    # Go %.2f rounds half-even over the *double* value: 12.345 is stored as
    # 12.34499... -> "12.34"; 0.125 is exact -> half-even "0.12".
    assert vals == [12.34, 0.12, 0.14]


def test_spark_side_encoder_roundtrip(spark):
    rng = random.Random(7)
    ns = [0, 1, -1, 127, 128, -128, -129, 2**62, -(2**62), 2**63 - 1, -(2**63)]
    ns += [rng.randint(-(2**63), 2**63 - 1) for _ in range(200)]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    out = df.select("n", EF.decimal_unscaled(EF.decimal_encode_b64("n")).alias("back")).collect()
    for r in out:
        assert int(r["back"]) == r["n"]


def test_epoch_day_to_date(spark):
    days = [0, 1, -1, 18993, -10000, 40000]
    df = spark.createDataFrame([(d,) for d in days], "d int")
    out = [r[0] for r in df.select(EF.epoch_day_to_date("d")).collect()]
    for d, got in zip(days, out):
        assert got == dt.date(1970, 1, 1) + dt.timedelta(days=d)


def test_epoch_ms_to_timestamp(spark):
    ms = [0, 1587202401764, -1000, 4102444800000]
    df = spark.createDataFrame([(m,) for m in ms], "m long")
    out = df.select(
        EF.epoch_ms_to_timestamp("m").alias("t"),
        EF.epoch_ms_to_timestamp("m", with_timezone=True).alias("t7"),
    ).collect()
    for m, r in zip(ms, out):
        expect = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=m)
        assert r["t"] == expect
        assert r["t7"] == expect - dt.timedelta(hours=7)  # main.go:271


def test_epoch_micros_to_timestamp(spark):
    us = [0, 1587202401764123, -1_000_001, 4102444800000000]
    df = spark.createDataFrame([(u,) for u in us], "u long")
    out = df.select(
        EF.epoch_micros_to_timestamp("u").alias("t"),
        EF.epoch_micros_to_timestamp("u", with_timezone=True).alias("t7"),
    ).collect()
    for u, r in zip(us, out):
        expect = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=u)
        assert r["t"] == expect
        assert r["t7"] == expect - dt.timedelta(hours=7)  # F3's shift


def test_micros_to_time_unpadded(spark):
    cases = {0: "0:0:0", 3661000000: "1:1:1", 86399999999: "23:59:59", 45296789012: "12:34:56"}
    df = spark.createDataFrame([(m,) for m in cases], "m long")
    out = [r[0] for r in df.select(EF.micros_to_time("m")).collect()]
    assert out == list(cases.values())


def test_zoned_ts_normalize(spark):
    rows = [
        ("2020-04-18T08:54:10Z",),   # matches gate -> strip, parse, +7h
        ("not a timestamp",),        # no gate match, parse fails -> zero time +7h
        ("2020-04-18 08:54:10",),    # gate match, nothing to strip
    ]
    df = spark.createDataFrame(rows, "z string")
    out = [r[0] for r in df.select(EF.zoned_ts_normalize("z", as_string=True)).collect()]
    assert out[0] == "2020-04-18 15:54:10"
    assert out[1] == "0001-01-01 07:00:00"  # Go zero-time fallback (main.go:295)
    assert out[2] == "2020-04-18 15:54:10"


def test_bool_quote_topic_ddl(spark):
    df = spark.createDataFrame(
        [(True, "o'bri'en", "srv", "db1", "t1", "ALTER TABLE `db1`.`t1` ADD COLUMN c INT")],
        "b boolean, s string, server string, db string, tbl string, ddl string",
    )
    r = df.select(
        EF.bool_to_int("b").alias("bi"),
        EF.quote_strip("s").alias("qs"),
        EF.topic_name("server", "db", "tbl").alias("topic"),
        EF.ddl_strip_db("ddl", "db").alias("ddl2"),
    ).collect()[0]
    assert r["bi"] == 1
    assert r["qs"] == "obrien"
    assert r["topic"] == "srv.db1.t1"
    assert r["ddl2"] == "ALTER TABLE `t1` ADD COLUMN c INT"


def test_zoned_ts_year_2100_outside_gate(spark):
    """Year 2100 fails the (19|20)\\d\\d gate: no T/Z strip, parse fails,
    Go zero-time fallback (+7h). Collected as string because a year-1
    timestamp cannot round-trip through PySpark's datetime conversion."""
    df = spark.createDataFrame([("2100-01-01T00:00:00Z",)], "z string")
    out = [r[0] for r in df.select(EF.zoned_ts_normalize("z", as_string=True)).collect()]
    assert out == ["0001-01-01 07:00:00"]


def test_timezone_hours_threads_through_decode_envelope(spark):
    """config.timezone_hours is parameterized (the reference hardcodes 7,
    main.go:271/296); prove a NON-default offset actually reaches both the
    F3 and F5 decoders through the full envelope decode path."""
    import json

    from etl_consumer_spark.sources.envelope import (
        TIMESTAMP,
        ZONEDTS,
        WireField,
        decode_envelope,
    )

    fields = [
        WireField("id", "int64"),
        WireField("t", "int64", logical=TIMESTAMP),
        WireField("z", "string", logical=ZONEDTS),
    ]
    env = json.dumps(
        {
            "payload": {
                "before": None,
                "after": {"id": 1, "t": 3_600_000, "z": "1970-01-01T12:00:00Z"},
                "source": {"name": "s", "db": "d", "table": "t", "pos": 1, "row": 0},
                "op": "c",
                "ts_ms": 0,
            }
        }
    )
    from etl_consumer_spark.sources.envelope import parse_dml_envelope

    raw = spark.createDataFrame([(env,)], "value string")
    parsed = parse_dml_envelope(raw).withColumn("table", F.lit("t"))
    for tz in (-5, 0, 7):
        out = decode_envelope(parsed, fields, with_timezone=True, tz_hours=tz).collect()[0]
        # F3 reads BACK by tz_hours: epoch+1h minus tz
        assert out["after"]["t"].hour == (1 - tz) % 24
        # F5 writes FORWARD: 12:00 plus tz
        assert out["after"]["z"].hour == (12 + tz) % 24
