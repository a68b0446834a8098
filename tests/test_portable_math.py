"""Portable transcendental kernel (functions/portable.py): accuracy vs
math.log/math.exp, and the property the suite actually depends on —
BITWISE Spark == DuckDB equality of every output double.

Also the 128-bit -> double cast portability layer (queries/_stable.py).
DuckDB's HUGEINT -> DOUBLE conversion is not correctly rounded for
|v| > ~2^64 (two-limb conversion, double rounding); Spark's
DECIMAL(38,0) -> DOUBLE is correctly rounded. The round-9 sf1 gate
caught the disagreement on rolling_corr_28d (4 of 2405 windows landed
near a rounding midpoint). queries/_stable.py provides:

- sql_huge_to_double      DuckDB-side, CORRECTLY rounded for |v| < 2^93
                          (so it equals Spark's native decimal cast)
- sql_huge_to_double_wide / dec_to_double_wide
                          textually-parallel twins for |v| up to ~1e35
                          (OLS determinants) — not guaranteed correctly
                          rounded, but bit-identical across engines
"""

from __future__ import annotations

import math
import random
import struct
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.portable import (
    apply_stages,
    pexp_stages,
    plog_stages,
    sql_wrap_stages,
)
from tvbigdataproject_spark.queries._stable import (
    dec_to_double_wide,
    sql_huge_to_double,
    sql_huge_to_double_wide,
)


def _duck_eval(vals, stages, col):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(float(v),) for v in vals])
    sql = sql_wrap_stages("SELECT x FROM t", stages)
    return dict(con.execute(f"SELECT x, {col} FROM {sql}").fetchall())


def _plog_sample():
    rng = random.Random(20260816)
    return sorted(
        set(
            [1, 2, 3, 10, 97, 123456789, 2**52, 2**62 - 1]
            + [0.5, 1.5, 0.9999, 1.0001, 1e-9, 2**-63]
            + [rng.randint(1, 2**53) for _ in range(150)]
            + [rng.random() for _ in range(100)]
            + [
                rng.random() * rng.choice([1e-12, 1e-6, 1e6, 1e12])
                for _ in range(100)
            ]
        )
    )


def _pexp_sample():
    rng = random.Random(20260816)
    return sorted(
        set(
            [0.0, 1.0, -1.0, 0.3, -0.3, 10.0, -10.0, 59.9, -59.9]
            + [rng.uniform(-60, 60) for _ in range(250)]
        )
    )


def test_plog_accuracy_duckdb():
    vals = _plog_sample()
    out = _duck_eval(vals, plog_stages("x", "lx", "_p"), "lx")
    for v in vals:
        want = math.log(v)
        got = out[float(v)]
        assert abs(got - want) <= 5e-13 * max(abs(want), 1.0), (v, got, want)


def test_pexp_accuracy_duckdb():
    vals = _pexp_sample()
    out = _duck_eval(vals, pexp_stages("x", "ex", "_e"), "ex")
    for v in vals:
        want = math.exp(v)
        got = out[float(v)]
        assert abs(got - want) <= 5e-13 * want, (v, got, want)


def test_exact_anchor_values():
    # ln(1) and exp(0) fall out of the construction EXACTLY (t = 0 /
    # r = 0 short-circuit every rounded op) — pin that, since query
    # code relies on plog(count=1) == 0.0 terms dropping out of sums.
    out = _duck_eval([1.0], plog_stages("x", "lx", "_p"), "lx")
    assert out[1.0] == 0.0
    out = _duck_eval([0.0], pexp_stages("x", "ex", "_e"), "ex")
    assert out[0.0] == 1.0


def test_pnorm_accuracy_and_bitwise(spark):
    from tvbigdataproject_spark.functions.portable import pnorm_stages

    rng = random.Random(99)
    zs = [0.0, 1.0, -1.0, 1.959963985, -2.5758293, 5.0, -5.0] + [
        rng.uniform(-9, 9) for _ in range(150)
    ]
    got_d = _duck_eval(zs, pnorm_stages("x", "phi", "_pn"), "phi")
    for z in zs:
        want = 0.5 * (1 + math.erf(z / math.sqrt(2)))
        assert abs(got_d[float(z)] - want) <= 2e-7, (z,)
    sdf = spark.createDataFrame([(float(z),) for z in zs], "x double")
    sdf = apply_stages(sdf, pnorm_stages("x", "phi", "_pn"))
    got_s = {r.x: r.phi for r in sdf.select("x", "phi").collect()}
    for z in zs:
        a, b = got_s[float(z)], got_d[float(z)]
        assert struct.pack("<d", a) == struct.pack("<d", b), (z, a, b)


def test_pnorm_saturates_in_unit_interval(spark):
    """|z| past the erf clamp (a = |z|/sqrt2 > 8) pins Phi to exactly
    0/1 — previously the pexp ladder bottomed out and the tail
    polynomial could return a slightly NEGATIVE Phi (~-1e-11) for
    |z| > ~11, the large-n z-stat regime (ADVICE r9 item 2)."""
    from tvbigdataproject_spark.functions.portable import pnorm_stages

    zs = [11.5, -11.5, 12.0, -12.0, 50.0, -50.0, 1e6, -1e6, 8 * math.sqrt(2)]
    got_d = _duck_eval(zs, pnorm_stages("x", "phi", "_pn"), "phi")
    sdf = spark.createDataFrame([(float(z),) for z in zs], "x double")
    sdf = apply_stages(sdf, pnorm_stages("x", "phi", "_pn"))
    got_s = {r.x: r.phi for r in sdf.select("x", "phi").collect()}
    for z in zs:
        a, b = got_s[float(z)], got_d[float(z)]
        assert struct.pack("<d", a) == struct.pack("<d", b), (z, a, b)
        assert 0.0 <= a <= 1.0, (z, a)
        assert a == (1.0 if z > 0 else 0.0), (z, a)


def test_kolmogorov_q_accuracy():
    from tvbigdataproject_spark.functions.portable import (
        kolmogorov_q_stages,
    )

    def q_ref(lam, kmax=200):
        return 2 * sum(
            (-1) ** (k - 1) * math.exp(-2 * k * k * lam * lam)
            for k in range(1, kmax)
        )

    vals = [0.3, 0.35, 0.5, 0.8, 1.0, 1.2, 1.36, 1.5, 2.0, 2.5]
    out = _duck_eval(vals, kolmogorov_q_stages("x", "q", "_k"), "q")
    for lam in vals:
        assert abs(out[float(lam)] - q_ref(lam)) <= 1e-12, (lam,)
    # the classic table anchor: Q(1.36) ~ 0.049 (the 5% critical value)
    assert abs(out[1.36] - 0.049485877) <= 1e-6
    # below the clamp the result pins to exactly 1
    below = _duck_eval([0.1, 0.29], kolmogorov_q_stages("x", "q", "_k"), "q")
    assert set(below.values()) == {1.0}


def test_bitwise_spark_equals_duckdb(spark):
    vals = _plog_sample()
    sdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
    sdf = apply_stages(sdf, plog_stages("x", "lx", "_p"))
    got_s = {r.x: r.lx for r in sdf.select("x", "lx").collect()}
    got_d = _duck_eval(vals, plog_stages("x", "lx", "_p"), "lx")
    for v in vals:
        a, b = got_s[float(v)], got_d[float(v)]
        assert struct.pack("<d", a) == struct.pack("<d", b), (v, a, b)

    zs = _pexp_sample()
    sdf = spark.createDataFrame([(float(z),) for z in zs], "x double")
    sdf = apply_stages(sdf, pexp_stages("x", "ex", "_e"))
    got_s = {r.x: r.ex for r in sdf.select("x", "ex").collect()}
    got_d = _duck_eval(zs, pexp_stages("x", "ex", "_e"), "ex")
    for z in zs:
        a, b = got_s[float(z)], got_d[float(z)]
        assert struct.pack("<d", a) == struct.pack("<d", b), (z, a, b)


# the four srr values the sf1 gate caught (and their negations)
OBSERVED = [
    6993668924994930343800,
    7023638003686577798500,
    6903809718924261982500,
    6617507286015466275500,
]


def _wide_reference(v: int) -> float:
    """Pure-python replica of the shared wide 3-limb formula."""
    s = -1.0 if v < 0 else 1.0
    a = abs(v)
    hi = float(a >> 64)
    mid = float((a >> 32) & 0xFFFFFFFF)
    lo = float(a & 0xFFFFFFFF)
    return s * ((hi * float(1 << 64) + mid * float(1 << 32)) + lo)


def test_duckdb_hugeint_cast_is_the_hazard():
    # pin the bug this layer works around: if a DuckDB upgrade fixes
    # the conversion, this starts failing and the helpers can be
    # retired to plain casts.
    con = duckdb.connect()
    wrong = sum(
        con.execute(f"SELECT CAST({v}::HUGEINT AS DOUBLE)").fetchone()[0]
        != float(Decimal(v))
        for v in OBSERVED
    )
    assert wrong == len(OBSERVED)


def test_sql_huge_to_double_correctly_rounded():
    con = duckdb.connect()
    rng = random.Random(42)
    vals = OBSERVED + [-v for v in OBSERVED]
    vals += [rng.randrange(-(10**27), 10**27) for _ in range(2000)]
    vals += [0, 1, -1, 2**53, 2**64, -(2**64), 10**27 - 1]
    for v in vals:
        got = con.execute(f"SELECT {sql_huge_to_double(str(v))}").fetchone()[0]
        assert got == float(Decimal(v)), v


def test_sql_huge_to_double_wide_matches_reference():
    con = duckdb.connect()
    rng = random.Random(7)
    vals = [rng.randrange(-(10**35), 10**35) for _ in range(2000)]
    vals += OBSERVED + [-v for v in OBSERVED] + [0, 1, -1, 10**35 - 1]
    for v in vals:
        got = con.execute(
            f"SELECT {sql_huge_to_double_wide(str(v))}"
        ).fetchone()[0]
        assert got == _wide_reference(v), v


@pytest.mark.usefixtures("spark")
def test_dec_to_double_wide_twin_bitwise(spark):
    rng = random.Random(99)
    vals = [rng.randrange(-(10**35), 10**35) for _ in range(300)]
    vals += OBSERVED + [-v for v in OBSERVED] + [0, 1, -1]
    df = spark.createDataFrame([(str(v),) for v in vals], "s string")
    rows = df.select(
        "s",
        dec_to_double_wide(F.col("s").cast("decimal(38,0)")).alias("w"),
        # also pin that Spark's native decimal cast is correctly
        # rounded (what sql_huge_to_double reproduces)
        F.col("s").cast("decimal(38,0)").cast("double").alias("n"),
    ).collect()
    for r in rows:
        v = int(r["s"])
        assert r["w"] == _wide_reference(v), v
        if abs(v) < 10**27:
            assert r["n"] == float(Decimal(v)), v
