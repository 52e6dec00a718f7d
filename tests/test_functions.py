"""Scalar-function parity tests (SURVEY.md §5 item 1/4): datetime
add/round/with vs a Python reference model, clamp/modulo algebraic laws,
OSCAR calendar leap rule, string mangling, HMAC signing.

Spark actions are batched: each property evaluates one DataFrame of many
generated examples (hypothesis drives the pure-Python model; the Spark
comparison uses a seeded example grid in a single collect)."""

from __future__ import annotations

import calendar
import math
import hmac as pyhmac
import hashlib
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from monitoring_data_ingestion_spark.functions.hashing import hmac_sha256_hex, md5_hex
from monitoring_data_ingestion_spark.functions.math import clamp, modulo, randlat, randlon
from monitoring_data_ingestion_spark.functions.strings import (
    layer_name,
    output_path,
    pii_match_count,
    redact_pii,
    source_prefix,
)
from monitoring_data_ingestion_spark.functions.temporal import (
    add_calendar,
    datetime_round,
    datetime_with,
    day_of_week_iso,
    days_in_month,
    days_since,
    iso_format,
    oscar_dates,
)

UTC = timezone.utc

# Edge-heavy example grid: month ends, leap Februaries, mid-month noon.
EXAMPLE_TS = [
    datetime(1959, 1, 1, 0, 0, 0),
    datetime(1999, 12, 31, 23, 59, 59),
    datetime(2000, 2, 29, 12, 0, 0),
    datetime(2020, 1, 31, 6, 30, 0),
    datetime(2020, 3, 31, 18, 45, 12),
    datetime(2021, 2, 28, 11, 59, 59),
    datetime(2023, 5, 15, 12, 0, 0),
    datetime(2024, 8, 31, 0, 0, 1),
    datetime(1996, 6, 30, 23, 30, 0),
    datetime(2001, 9, 1, 0, 29, 59),
]


def _ts_df(spark):
    return spark.createDataFrame([Row(i=i, ts=t) for i, t in enumerate(EXAMPLE_TS)])


def _py_add_months(dt: datetime, months: int) -> datetime:
    """Reference model of src/temporal.js:56-87: add months, clamp the day
    to the target month's length."""
    y, m = divmod((dt.year * 12 + dt.month - 1) + months, 12)
    m += 1
    day = min(dt.day, calendar.monthrange(y, m)[1])
    return dt.replace(year=y, month=m, day=day)


def test_add_calendar_month_clamp(spark):
    df = _ts_df(spark)
    for months in (1, 2, 12, 13, -1, -14):
        got = {
            r["i"]: r["out"]
            for r in df.select("i", add_calendar("ts", months=months).alias("out")).collect()
        }
        for i, t in enumerate(EXAMPLE_TS):
            assert got[i] == _py_add_months(t, months), (t, months)


def test_add_calendar_day_and_time_parts(spark):
    df = _ts_df(spark)
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", add_calendar("ts", days=2, hours=3, minutes=4, seconds=5).alias("out")
        ).collect()
    }
    for i, t in enumerate(EXAMPLE_TS):
        assert got[i] == t + timedelta(days=2, hours=3, minutes=4, seconds=5)


def test_datetime_with_clamps_day(spark):
    df = _ts_df(spark)
    got = {
        r["i"]: r["out"]
        for r in df.select("i", datetime_with("ts", day=31).alias("out")).collect()
    }
    for i, t in enumerate(EXAMPLE_TS):
        want = t.replace(day=min(31, calendar.monthrange(t.year, t.month)[1]))
        assert got[i] == want, t


def _py_round(dt: datetime, unit_s: int, mode: str) -> datetime:
    epoch = datetime(1970, 1, 1)
    secs = (dt - epoch).total_seconds()
    import math

    if mode in ("floor", "trunc"):
        out = math.floor(secs / unit_s) * unit_s
    elif mode == "ceil":
        out = math.ceil(secs / unit_s) * unit_s
    else:
        out = math.floor(secs / unit_s + 0.5) * unit_s
    return epoch + timedelta(seconds=out)


@pytest.mark.parametrize("unit,inc", [("minute", 1), ("minute", 15), ("hour", 6), ("day", 1)])
@pytest.mark.parametrize("mode", ["floor", "ceil", "halfExpand"])
def test_datetime_round_fixed_units(spark, unit, inc, mode):
    from monitoring_data_ingestion_spark.functions.temporal import _UNIT_SECONDS

    df = _ts_df(spark)
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", datetime_round("ts", unit, increment=inc, mode=mode).alias("out")
        ).collect()
    }
    step = _UNIT_SECONDS[unit] * inc
    for i, t in enumerate(EXAMPLE_TS):
        assert got[i] == _py_round(t, step, mode), (t, unit, inc, mode)


def test_datetime_round_month(spark):
    df = _ts_df(spark)
    rows = df.select(
        "i",
        datetime_round("ts", "month", mode="floor").alias("fl"),
        datetime_round("ts", "month", mode="ceil").alias("ce"),
        datetime_round("ts", "month", mode="halfExpand").alias("he"),
    ).collect()
    for r in rows:
        t = EXAMPLE_TS[r["i"]]
        floor = t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        nxt = _py_add_months(floor, 1)
        assert r["fl"] == floor
        assert r["ce"] == (floor if t == floor else nxt)
        half = floor + (nxt - floor) / 2
        assert r["he"] == (nxt if t >= half else floor)


def test_calendar_helpers(spark):
    rows = _ts_df(spark).select(
        "i", days_in_month("ts").alias("dim"), day_of_week_iso("ts").alias("dow")
    ).collect()
    for r in rows:
        t = EXAMPLE_TS[r["i"]]
        assert r["dim"] == calendar.monthrange(t.year, t.month)[1]
        assert r["dow"] == t.isoweekday()  # Monday=1 … Sunday=7


def test_days_since_and_iso_format(spark):
    df = _ts_df(spark)
    base = datetime(2000, 1, 1)
    rows = df.select(
        "i",
        days_since("ts", F.lit(base).cast("timestamp")).alias("d"),
        iso_format("ts").alias("iso"),
    ).collect()
    for r in rows:
        t = EXAMPLE_TS[r["i"]]
        assert r["d"] == pytest.approx((t - base).total_seconds() / 86400.0)
        assert r["iso"] == t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


@pytest.mark.parametrize("year", [1999, 2000, 2020, 2023, 1900 + 72])
def test_oscar_calendar(spark, year):
    """72 dates/year at floor(days_in_year * i / 72) offsets — the explicit
    leap rule of /root/reference/src/oscar.js:27-34."""
    row = spark.range(1).select(oscar_dates(F.lit(year)).alias("d")).first()
    dates = row["d"]
    n_days = 366 if calendar.isleap(year) else 365
    jan1 = datetime(year, 1, 1).date()
    assert len(dates) == 72
    assert dates == [jan1 + timedelta(days=n_days * i // 72) for i in range(72)]


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-1000, 1000), st.integers(-1000, 1000), st.integers(-1000, 1000)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_clamp_modulo_laws(spark, triples):
    """Algebraic laws (SURVEY §5 item 4): clamp idempotence + bounds;
    modulo range + congruence, for hypothesis-generated integers."""
    df = spark.createDataFrame(
        [Row(x=float(x), lo=float(min(a, b)), hi=float(max(a, b))) for x, a, b in triples]
    )
    rows = df.select(
        "x",
        "lo",
        "hi",
        clamp("x", F.col("lo"), F.col("hi")).alias("c"),
        clamp(clamp("x", F.col("lo"), F.col("hi")), F.col("lo"), F.col("hi")).alias("cc"),
        modulo("x", 7, 3).alias("m"),
    ).collect()
    for r in rows:
        assert r["lo"] <= r["c"] <= r["hi"]
        assert r["cc"] == r["c"]  # idempotent
        assert 3 <= r["m"] < 10  # range [offset, offset + y)
        assert (r["m"] - r["x"]) % 7 == pytest.approx(0)  # congruence


def test_rand_coordinates_ranges(spark):
    rows = (
        spark.range(2000)
        .select(randlon(seed=42).alias("lon"), randlat(seed=43).alias("lat"))
        .collect()
    )
    lons = [r["lon"] for r in rows]
    lats = [r["lat"] for r in rows]
    assert all(-180 <= v < 180 for v in lons)
    assert all(-90 <= v <= 90 for v in lats)
    # Area-uniformity: |lat| < 30° covers half the sphere's area.
    frac_low = sum(abs(v) < 30 for v in lats) / len(lats)
    assert 0.45 < frac_low < 0.55


def test_string_mangling(spark):
    df = spark.createDataFrame(
        [Row(name="era5monthly-temperature-2-m", ts=datetime(2020, 5, 1, 12, 30, 0))]
    )
    r = df.select(
        layer_name("name").alias("layer"),
        source_prefix("name").alias("src"),
        output_path(layer_name("name"), "ts").alias("path"),
    ).first()
    assert r["layer"] == "era5monthly_temperature_2_m"
    assert r["src"] == "era5monthly"
    assert r["path"] == "era5monthly_temperature_2_m_2020-05-01T12_30_00.000Z.tif"


PII_CASES = [
    # (raw, redacted, n_hits)
    ("contact alice.smith+spam@example.co.uk today", "contact <EMAIL> today", 1),
    ("server at 192.168.001.1 rebooted", "server at <IP> rebooted", 1),
    ("card 4111111111111111 declined", "card <ID> declined", 1),
    ("call 555-867-5309 or (212) 555-0183", "call <PHONE> or <PHONE>", 2),
    ("+1 415 555 2671 left a voicemail", "<PHONE> left a voicemail", 1),
    # An email's dotted host must NOT additionally count as an IP.
    ("mail root@10.0.0.1.example.org", "mail <EMAIL>", 1),
    # Short digit runs, versions, and dates survive.
    ("v2.3.4 shipped 2024-05-01 with 42 fixes", "v2.3.4 shipped 2024-05-01 with 42 fixes", 0),
    # A match abutting a digit run: the count loop must redact with the
    # same token redact_pii inserts — a word-character filler would fuse
    # with the card run, destroy its \b, and undercount (n=1, not 2).
    ("a@b.co4111111111111111", "<EMAIL><ID>", 2),
    ("", "", 0),
]


def test_redact_pii_cases(spark):
    df = spark.createDataFrame([Row(i=i, t=raw) for i, (raw, _, _) in enumerate(PII_CASES)])
    rows = (
        df.select("i", redact_pii("t").alias("r"), pii_match_count("t").alias("n"))
        .orderBy("i")
        .collect()
    )
    for row, (raw, want, hits) in zip(rows, PII_CASES):
        assert row["r"] == want, raw
        assert row["n"] == hits, raw


def test_redact_pii_idempotent(spark):
    df = spark.createDataFrame([Row(t=raw) for raw, _, _ in PII_CASES])
    once = df.select(redact_pii("t").alias("r"))
    twice = once.select(redact_pii("r").alias("r"))
    assert [r["r"] for r in once.collect()] == [r["r"] for r in twice.collect()]
    # Redacted text audits clean.
    assert all(r["n"] == 0 for r in once.select(pii_match_count("r").alias("n")).collect())


@given(st.binary(max_size=200), st.binary(min_size=1, max_size=64))
@settings(max_examples=50, deadline=None)
def test_hmac_matches_stdlib(body, secret):
    assert hmac_sha256_hex(body, secret) == pyhmac.new(
        secret, body, hashlib.sha256
    ).hexdigest()
    assert md5_hex(body) == hashlib.md5(body).hexdigest()


def test_limb_sums_exact_vs_wide_decimal(spark):
    """The limb representation must reproduce the decimal(30,s) sum
    bit-for-bit, INCLUDING the large-magnitude domain (|value| up to
    10^int_digits) where a double-division high limb silently went inexact
    (u = value · 10^scale can reach 10^18, past double's 2^53 integer
    range), and negative half-cent totals under ``cents=True`` (a
    long-arithmetic ``(lo + 5·10^5) div 10^6`` cents step rounded -0.015
    to -0.01 instead of -0.02)."""
    from monitoring_data_ingestion_spark.functions.deterministic import exact_sum

    # Values chosen to break a double-division split: near ±10^12 at scale
    # 6 the scaled long is ~10^18, where doubles resolve only to 128s.
    # Dyadic fractions so the float literal is exact and stays in-domain
    # (|v| < 10^12 — under ANSI an out-of-domain cast fails loudly).
    # 911856239313·10^6 (and friends) round DOWN as doubles: a
    # double-division high limb truncated to ...312 — off by one.
    vals = [
        911_856_239_313.0,
        914_655_221_101.0,
        -763_595_448_017.0,
        987_654_321_098.765625,
        -576_460_752_303.75,
        123_456.789012,
        -0.000001,
        0.0,
    ]
    df = spark.createDataFrame([Row(g=1, v=float(v)) for v in vals])
    got, want = df.groupBy("g").agg(exact_sum("v", 6, 12), exact_sum("v", 6)).collect()[0][1:]
    assert got == want

    # The money path (scale 8, cents) stays bit-identical, for negative
    # half-cent totals too (HALF_UP rounds away from zero, as DuckDB).
    money = {
        1: [99_999.12345678, 0.00000001, 54_321.99999999, 777.5],
        2: [-0.015],
        3: [-12.345, -0.005],
        4: [-99_999.995],
    }
    mdf = spark.createDataFrame([Row(g=g, v=v) for g, vs in money.items() for v in vs])
    rows = (
        mdf.groupBy("g")
        .agg(
            exact_sum("v", 8, 6, cents=True).alias("limbs"),
            exact_sum("v", 8, cents=True).alias("wide"),
        )
        .collect()
    )
    got_m = {r["g"]: r["limbs"] for r in rows}
    assert got_m == {r["g"]: r["wide"] for r in rows}
    assert [got_m[g] for g in (2, 3, 4)] == [-0.02, -12.35, -100_000.0]


@pytest.mark.parametrize(
    "int_digits, scale, kind",
    [
        pytest.param(2, 2, "narrow", id="narrow"),
        pytest.param(4, 6, "limbs", id="limbs"),
        pytest.param(10, 2, "bounded", id="bounded"),
        pytest.param(12, 6, "limbs", id="limbs_widest"),
        pytest.param(13, 6, "bounded", id="bounded_past_limbs"),
        pytest.param(None, 6, "wide", id="wide"),
    ],
)
def test_narrow_sums_fail_loudly_past_domain_bound(spark, int_digits, scale, kind):
    """Each representation :func:`exact_sum` picks from the declared domain
    sums exactly at ±bound, and a value just past it fails the query under
    the session's ANSI mode instead of silently leaving the sum. An
    all-NULL group sums to NULL in every representation."""
    from monitoring_data_ingestion_spark.functions.deterministic import (
        _representation,
        exact_sum,
    )

    assert _representation(scale, int_digits) == kind

    def agg(groups):
        rows = [Row(g=g, v=v) for g, vals in enumerate(groups) for v in vals]
        df = spark.createDataFrame(rows, "g int, v double").groupBy("g")
        return df.agg(exact_sum("v", scale, int_digits).alias("s")).orderBy("g")

    plan = agg([[1.0]])._jdf.queryExecution().optimizedPlan().toString()
    assert ("UnscaledValue" in plan) == (kind == "narrow")
    assert (" div 1000000" in plan) == (kind == "limbs")
    if kind == "bounded":
        assert f"decimal({int_digits + scale},{scale})" in plan
    if kind == "wide":
        assert f"decimal(30,{scale})" in plan

    if int_digits is None:
        assert [r["s"] for r in agg([[None, None]]).collect()] == [None]
        return
    # The largest double whose HALF_UP quantization stays in the domain.
    step = Decimal(1).scaleb(-scale)
    bound = float(Decimal(10**int_digits) - step)
    while Decimal(bound).quantize(step, ROUND_HALF_UP) >= 10**int_digits:
        bound = math.nextafter(bound, 0.0)
    want = float(2 * Decimal(bound).quantize(step, ROUND_HALF_UP))
    got = [r["s"] for r in agg([[bound, bound], [-bound, -bound], [None, None]]).collect()]
    assert got == [want, -want, None]
    for past in (10.0**int_digits, -(10.0**int_digits)):
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            agg([[bound, past]]).collect()
