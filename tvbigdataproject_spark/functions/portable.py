"""Portable (bit-reproducible) transcendentals for the oracle suite.

THE PROBLEM. The suite's value-hash gate compares doubles bitwise, and
``ln`` / ``exp`` library implementations are NOT correctly rounded —
DuckDB links libm, Spark uses the JVM's ``Math`` intrinsics, and the
two may differ in the last ulp on the same input. Eight rounds of
queries therefore avoided transcendentals entirely (monotone
substitutions: BM25's linear idf in ``llm_ops9``, Resource-Allocation
instead of Adamic-Adar in ``graph5``), locking the whole
information-theoretic operator family (entropy, KL/JS divergence,
mutual information, Theil, DSIR weights, log-perplexity) out of the
oracle gate.

THE FIX. IEEE-754 REQUIRES ``+ - * /`` and ``sqrt`` on binary64 to be
correctly rounded — those ops ARE bit-reproducible across any two
compliant engines. So we compute ln/exp from scratch as a FIXED-ORDER
composition of only those ops, generate the expression text ONCE, and
evaluate the identical text in both engines (Spark SQL via
``selectExpr`` and DuckDB share the needed syntax: ``CASE``, ``CAST``,
arithmetic with identical left-associative precedence). Every
intermediate double is then bit-identical in both engines, hence so is
the result — accuracy is ~1e-13 relative (documented per kernel), but
REPRODUCIBILITY is exact, which is what the gate needs.

plog(v) — natural log for v in (2^-64, 2^63):
  1. range-reduce with an exact power-of-two ladder: k = floor(log2 v)
     via a flat CASE over exact power-of-two literals (comparisons are
     exact; no transcendental involved), m0 = v / 2^k in [1, 2) — the
     division by a power of two is exact;
  2. fold [1.5, 2) down to [0.75, 1): m = m0/2, k += 1 — exact —
     so the atanh argument t = (m-1)/(m+1) satisfies |t| <= 0.2;
  3. ln(m) = 2t * (1 + u/3 + u^2/5 + ... + u^7/15), u = t^2 <= 0.04 —
     a fixed-association Horner whose truncation error is < 3e-13
     relative; every coefficient is spelled ``(CAST(1 AS DOUBLE)/n)``
     (a correctly-rounded division of exact values — never a raw
     decimal literal, whose decimal->double path is the one thing we
     don't control);
  4. result = k * LN2 + ln(m); LN2 is the correctly-rounded double of
     ln 2 written as a CAST decimal literal (both engines round the
     same 16-digit decimal to the same double).

pexp(z) — e^z for z in [-60, 60]:
  1. k = floor(z/ln2 + 1/2) (multiply and add are each one rounded op
     on identical inputs; FLOOR is exact), r = z - k*LN2, |r| <= 0.35;
  2. e^r by degree-12 Taylor Horner (truncation < 2e-16 relative);
  3. scale by 2^k via an exact power-of-two CASE ladder (multiplying a
     double by a power of two is exact).

Both kernels are pure scalar expressions — they stay inside Spark's
whole-stage codegen (no UDF, no Python), so the unlock costs nothing
at 100 TB: a ~120-branch CASE per row is noise next to a shuffle.

Reproducibility caveats pinned by tests/test_portable_math.py:
Catalyst constant-folds literal subtrees with JVM doubles (same
correctly-rounded results) and does not reassociate floating-point
arithmetic; JVM >= 17 floating point is always strict (JEP 306).
"""

from __future__ import annotations

# correctly-rounded double of ln 2 / 1/ln 2, as decimal literals both
# engines convert identically (shortest round-trip representations)
_LN2 = "CAST(0.6931471805599453 AS DOUBLE)"
_INVLN2 = "CAST(1.4426950408889634 AS DOUBLE)"

# plog ladder domain: 2^-64 .. 2^62 (m0 in [1,2) requires v < 2^63)
_PLOG_KMIN = -64
_PLOG_KMAX = 62
# pexp 2^k ladder domain (z in [-60, 60] -> k in [-87, 87])
_PEXP_KMAX = 90


def _pow2_expr(k: int) -> str:
    """Exact SQL text for the double 2^k, |k| <= ~120.

    Integer literals stay within BIGINT; int->double casts of powers of
    two and divisions by powers of two are exact in both engines.
    """
    if k >= 0:
        if k <= 62:
            return f"CAST({1 << k} AS DOUBLE)"
        return f"(CAST({1 << 62} AS DOUBLE) * CAST({1 << (k - 62)} AS DOUBLE))"
    a = -k
    if a <= 62:
        return f"(CAST(1 AS DOUBLE) / CAST({1 << a} AS DOUBLE))"
    return (
        f"(CAST(1 AS DOUBLE) / CAST({1 << 62} AS DOUBLE)"
        f" / CAST({1 << (a - 62)} AS DOUBLE))"
    )


def _ladder(vd: str, value_of_k) -> str:
    """Flat descending CASE ladder: first power of two <= vd."""
    branches = [
        f"WHEN {vd} >= {_pow2_expr(k)} THEN {value_of_k(k)}"
        for k in range(_PLOG_KMAX, _PLOG_KMIN, -1)
    ]
    return (
        "CASE "
        + " ".join(branches)
        + f" ELSE {value_of_k(_PLOG_KMIN)} END"
    )


def _atanh_horner(u: str) -> str:
    """1 + u/3 + u^2/5 + ... + u^7/15, fixed Horner association."""
    expr = f"(CAST(1 AS DOUBLE) / 15)"
    for d in (13, 11, 9, 7, 5, 3):
        expr = f"(CAST(1 AS DOUBLE) / {d}) + {u} * ({expr})"
    return f"CAST(1 AS DOUBLE) + {u} * ({expr})"


def plog_stages(src: str, out: str, p: str) -> list[list[str]]:
    """Expression stages computing ``{out} = ln({src})`` portably.

    ``src``: numeric SQL expression, value in (2^-64, 2^63) — counts,
    ratios of counts, probabilities. Values outside the ladder clamp to
    the end exponents (document the domain at the call site; NULL in ->
    NULL out). ``p``: a per-call unique column prefix (e.g. ``_pl1``).

    Each inner list is one SELECT stage referencing only prior stages:
    apply with ``apply_stages`` (Spark) / ``sql_wrap_stages`` (DuckDB)
    so the engines evaluate the identical expression text.
    """
    vd, kc, pw, m0, m, ka, t, u = (
        f"{p}vd", f"{p}k", f"{p}pw2", f"{p}m0", f"{p}m", f"{p}ka",
        f"{p}t", f"{p}u",
    )
    return [
        [f"CAST(({src}) AS DOUBLE) AS {vd}"],
        [
            f"{_ladder(vd, lambda k: f'CAST({k} AS DOUBLE)')} AS {kc}",
            f"{_ladder(vd, _pow2_expr)} AS {pw}",
        ],
        [f"{vd} / {pw} AS {m0}"],
        [
            f"CASE WHEN {m0} >= 1.5 THEN {m0} * 0.5 ELSE {m0} END AS {m}",
            f"CASE WHEN {m0} >= 1.5 THEN {kc} + CAST(1 AS DOUBLE)"
            f" ELSE {kc} END AS {ka}",
        ],
        [f"({m} - CAST(1 AS DOUBLE)) / ({m} + CAST(1 AS DOUBLE)) AS {t}"],
        [f"{t} * {t} AS {u}"],
        [
            f"{ka} * {_LN2} + CAST(2 AS DOUBLE) * {t}"
            f" * ({_atanh_horner(u)}) AS {out}"
        ],
    ]


def _exp_horner(r: str) -> str:
    """Degree-12 Taylor of e^r, fixed Horner association."""
    from math import factorial

    expr = f"(CAST(1 AS DOUBLE) / {factorial(12)})"
    for d in range(11, 1, -1):
        expr = f"(CAST(1 AS DOUBLE) / {factorial(d)}) + {r} * ({expr})"
    return f"CAST(1 AS DOUBLE) + {r} * (CAST(1 AS DOUBLE) + {r} * ({expr}))"


def pexp_stages(src: str, out: str, p: str) -> list[list[str]]:
    """Expression stages computing ``{out} = exp({src})`` portably.

    ``src``: double expression with |value| <= 60 (beyond that the 2^k
    ladder saturates at +-2^90 and the result clamps; keep call sites
    bounded). NULL in -> NULL out.
    """
    kf, kd, r = f"{p}kf", f"{p}kd", f"{p}r"
    branches = " ".join(
        f"WHEN {kf} = {k} THEN {_pow2_expr(k)}"
        for k in range(-_PEXP_KMAX, _PEXP_KMAX + 1)
    )
    pw = f"CASE {branches} WHEN {kf} > {_PEXP_KMAX} THEN {_pow2_expr(_PEXP_KMAX)} ELSE {_pow2_expr(-_PEXP_KMAX)} END"
    return [
        [
            f"CAST(FLOOR(({src}) * {_INVLN2} + CAST(1 AS DOUBLE)"
            f" / CAST(2 AS DOUBLE)) AS BIGINT) AS {kf}"
        ],
        [f"CAST({kf} AS DOUBLE) AS {kd}"],
        [f"({src}) - {kd} * {_LN2} AS {r}"],
        [f"({_exp_horner(r)}) * ({pw}) AS {out}"],
    ]


# Abramowitz & Stegun 7.1.26 rational erf approximation: coefficients
# as decimal literals both engines round identically. Max abs error
# 1.5e-7 on erf — i.e. p-values good to ~1e-7, documented per caller.
# (Unlike plog/pexp this is an APPROXIMATION by construction; its
# virtue here is bit-reproducibility, which a libm erf cannot give.)
_ERF_P = "CAST(0.3275911 AS DOUBLE)"
_ERF_A = (
    "CAST(0.254829592 AS DOUBLE)",
    "CAST(-0.284496736 AS DOUBLE)",
    "CAST(1.421413741 AS DOUBLE)",
    "CAST(-1.453152027 AS DOUBLE)",
    "CAST(1.061405429 AS DOUBLE)",
)


def pnorm_stages(src: str, out: str, p: str) -> list[list[str]]:
    """Expression stages computing the standard normal CDF Phi(src).

    Phi(z) = (1 + erf(|z|/sqrt 2) * sign(z)) / 2 with erf by the
    fixed-order A&S 7.1.26 rational form (abs error <= 1.5e-7) and
    exp(-a^2) through the portable exp kernel — every op correctly
    rounded on identical inputs, so the CDF is bitwise-equal across
    engines.

    Saturation is explicit: for a = |z|/sqrt2 > 8 (|z| > ~11.3,
    erfc(8) ~ 1.1e-29, far below the 1.5e-7 approximation error) erfa
    pins to exactly 1 via a CASE shared by both engines. Without the
    clamp the pexp 2^k ladder bottoms out at a*a > ~62 and the tail
    polynomial is evaluated far outside |r| <= 0.35, which can push
    the "p-value" slightly NEGATIVE (~-1e-11) — large-n rate/logrank
    z-stats plausibly reach |z| > 11 at scale. With it, Phi stays in
    [0, 1] for every input.
    """
    a, t, poly, erfa = f"{p}a", f"{p}t", f"{p}poly", f"{p}erf"
    horner = f"{_ERF_A[4]}"
    for c in (_ERF_A[3], _ERF_A[2], _ERF_A[1], _ERF_A[0]):
        horner = f"{c} + {t} * ({horner})"
    return (
        [
            [
                f"abs(CAST(({src}) AS DOUBLE))"
                f" / sqrt(CAST(2 AS DOUBLE)) AS {a}"
            ],
            [f"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + {_ERF_P} * {a}) AS {t}"],
        ]
        + pexp_stages(f"CAST(0 AS DOUBLE) - {a} * {a}", f"{p}e", f"{p}x_")
        + [
            [f"{t} * ({horner}) AS {poly}"],
            [
                f"CASE WHEN {a} > CAST(8 AS DOUBLE) THEN CAST(1 AS DOUBLE)"
                f" ELSE CAST(1 AS DOUBLE) - {poly} * {p}e END AS {erfa}"
            ],
            [
                f"CASE WHEN CAST(({src}) AS DOUBLE) >= CAST(0 AS DOUBLE)"
                f" THEN (CAST(1 AS DOUBLE) + {erfa}) * CAST(0.5 AS DOUBLE)"
                f" ELSE (CAST(1 AS DOUBLE) - {erfa}) * CAST(0.5 AS DOUBLE)"
                f" END AS {out}"
            ],
        ]
    )


def kolmogorov_q_stages(src: str, out: str, p: str) -> list[list[str]]:
    """Kolmogorov limiting survival Q(lambda) = 2 sum_{k>=1} (-1)^{k-1}
    e^{-2 k^2 lambda^2}, truncated at k = 12 — the asymptotic two-sample
    KS p-value.

    One portable exp gives u = e^{-2 lambda^2}; u^(k^2) then comes from
    an exact-order squaring chain (u^2, u^4, ..., u^128) and fixed
    products — every multiply correctly rounded on identical inputs,
    so the whole series is bitwise-equal across engines. Truncation at
    k = 12 is < 1e-13 for lambda >= 0.3; below 0.3 the series needs
    many terms and Q is 1 to ~5e-5 anyway, so the result clamps to 1
    there (documented cutoff, identical CASE in both engines).
    """
    lam2 = f"{p}l2"
    stages: list[list[str]] = [
        [f"CAST(({src}) AS DOUBLE) * CAST(({src}) AS DOUBLE) AS {lam2}"]
    ]
    stages += pexp_stages(
        f"CAST(-2 AS DOUBLE) * {lam2}", f"{p}u1", f"{p}x_"
    )
    # squaring chain u^(2^j)
    chain = [1, 2, 4, 8, 16, 32, 64, 128]
    sq = []
    for a, b in zip(chain, chain[1:]):
        sq.append(f"{p}u{a} * {p}u{a} AS {p}u{b}")
    stages.append(sq[:1])
    stages.append(sq[1:2])
    stages.append(sq[2:3])
    stages.append(sq[3:4])
    stages.append(sq[4:5])
    stages.append(sq[5:6])
    stages.append(sq[6:7])
    # k^2 for k = 1..12 as fixed products of chain powers
    decomp = {
        1: (1,), 4: (4,), 9: (8, 1), 16: (16,), 25: (16, 8, 1),
        36: (32, 4), 49: (32, 16, 1), 64: (64,), 81: (64, 16, 1),
        100: (64, 32, 4), 121: (64, 32, 16, 8, 1), 144: (128, 16),
    }
    terms = []
    for k in range(1, 13):
        parts = decomp[k * k]
        expr = " * ".join(f"{p}u{a}" for a in parts)
        terms.append(("-" if k % 2 == 0 else "+", f"({expr})"))
    series = terms[0][1]
    for sign, t in terms[1:]:
        series = f"({series} {sign} {t})"
    stages.append(
        [
            f"CASE WHEN CAST(({src}) AS DOUBLE) < CAST(0.3 AS DOUBLE)"
            f" THEN CAST(1 AS DOUBLE)"
            f" ELSE CAST(2 AS DOUBLE) * {series} END AS {out}"
        ]
    )
    return stages


def apply_stages(df, stages):
    """Spark side: fold the stages onto a DataFrame via selectExpr."""
    for stage in stages:
        df = df.selectExpr("*", *stage)
    return df


def sql_wrap_stages(inner_sql: str, stages) -> str:
    """DuckDB side: nest the stages as SELECT *, ... wrappers."""
    sql = f"({inner_sql})"
    for stage in stages:
        sql = f"(SELECT *, {', '.join(stage)} FROM {sql})"
    return sql
