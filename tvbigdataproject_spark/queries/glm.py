"""Distributed GLM training with a bitwise oracle: logistic regression
by IRLS/Newton, 3 fixed iterations, exactly replicated in DuckDB.

The suite has scored with FIXED logistic weights since
infotheory2.py; this TRAINS them. Each Newton step is:

  per row:   z = b0 + b1 f1 + b2 f2;  mu = sigmoid(z) [portable exp];
             w = mu (1 - mu);         r = y - mu
  reduce:    the 6 unique entries of X^T W X and the 3 of X^T r,
             each a scaled-BIGINT stable sum of bitwise-identical
             per-row doubles (order-free, exact)
  solve:     beta += (X^T W X)^{-1} X^T r via the closed-form Cramer
             3x3 (the ols_qty_discount convention) — one identical
             double expression per coefficient

Three iterations unrolled into the plan (the BPE/PCA fixed-round
convention: a deterministic ESTIMATOR, not an until-convergence
loop); from beta = 0, Newton on a well-conditioned 2-feature design
is accurate to ~1e-3 by step 3, and both engines compute the
IDENTICAL number bit for bit. The final log-likelihood goes through
portable ln on mu and 1 - mu.

Scale shape per step: one cross join of a one-row beta table onto the
per-doc feature aggregate (broadcast), one map-side-combined 9-sum
reduce. The feature aggregate's exchange is reused across steps; the
corpus is scanned once per LAZY plan evaluation, and nothing
driver-side ever sees a row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.portable import (
    apply_stages,
    pexp_stages,
    plog_stages,
    sql_wrap_stages,
)
from tvbigdataproject_spark.operators.materialize import Scope
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_S = 1_000_000_000  # stable-sum scale

# features: token count / 100 and mean word length / 10 — both vary in
# the corpus (digit ratio is constant 0 in the synthetic docs, which
# would make the normal equations singular)
_FEATS_SQL = """
    SELECT CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS y,
           CAST(n_tok AS DOUBLE) / CAST(100 AS DOUBLE) AS f1,
           CAST(n_chr AS DOUBLE)
               / (CAST(n_tok AS DOUBLE) * CAST(10 AS DOUBLE)) AS f2
    FROM (
        SELECT doc_id, lang, COUNT(*) AS n_tok,
               CAST(SUM(length(w)) AS BIGINT) AS n_chr
        FROM (SELECT doc_id, lang,
                     unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY 1, 2
    )
"""

# per-row stages given columns (y, f1, f2, b0, b1, b2)
_ROW_Z = "(b0 + b1 * f1) + b2 * f2 AS zz"
_ROW_POST = [
    "CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + _ez) AS mu",
]
_ROW_WR = [
    "mu * (CAST(1 AS DOUBLE) - mu) AS ww",
    "y - mu AS rr",
]

_SUMS = {
    "sa": "ww",
    "sb": "ww * f1",
    "sc": "ww * f2",
    "sd": "ww * f1 * f1",
    "se": "ww * f1 * f2",
    "sf": "ww * f2 * f2",
    "g1": "rr",
    "g2": "rr * f1",
    "g3": "rr * f2",
}

# Cramer 3x3 on the symmetric system [[sa,sb,sc],[sb,sd,se],[sc,se,sf]]
_DET = (
    "(sa * (sd * sf - se * se) - sb * (sb * sf - sc * se))"
    " + sc * (sb * se - sc * sd)"
)
# numerator determinants by full column replacement (no shortcuts)
_D0 = (
    "(g1 * (sd * sf - se * se) - sb * (g2 * sf - g3 * se))"
    " + sc * (g2 * se - g3 * sd)"
)
_D1 = (
    "(sa * (g2 * sf - g3 * se) - g1 * (sb * sf - sc * se))"
    " + sc * (sb * g3 - sc * g2)"
)
_D2 = (
    "(sa * (sd * g3 - se * g2) - sb * (sb * g3 - sc * g2))"
    " + g1 * (sb * se - sc * sd)"
)

_STEP_OUT = [
    f"b0 + ({_D0}) / ({_DET}) AS nb0",
    f"b1 + ({_D1}) / ({_DET}) AS nb1",
    f"b2 + ({_D2}) / ({_DET}) AS nb2",
]


def _sum_exprs() -> list[str]:
    return [
        f"CAST(SUM(CAST(ROUND(({e}) * {_S}) AS BIGINT)) AS DOUBLE)"
        f" / CAST({_S} AS DOUBLE) AS {k}"
        for k, e in _SUMS.items()
    ]


def _irls_step_sql(feats: str, beta: str, it: int) -> str:
    """One Newton step: (beta 1-row) x feats -> new 1-row beta."""
    rows = f"""
    SELECT f.*, b.b0, b.b1, b.b2 FROM ({feats}) f CROSS JOIN ({beta}) b
    """
    rows = f"(SELECT *, {_ROW_Z} FROM ({rows}))"
    rows = sql_wrap_stages(
        rows, pexp_stages("CAST(0 AS DOUBLE) - zz", "_ez", f"_i{it}_")
    )
    rows = f"(SELECT *, {_ROW_POST[0]} FROM {rows})"
    rows = (
        f"(SELECT *, {_ROW_WR[0]}, {_ROW_WR[1]} FROM {rows})"
    )
    sums = (
        f"(SELECT MAX(b0) AS b0, MAX(b1) AS b1, MAX(b2) AS b2,"
        f" {', '.join(_sum_exprs())} FROM {rows})"
    )
    return (
        f"(SELECT {_STEP_OUT[0].replace(' AS nb0', ' AS b0')},"
        f" {_STEP_OUT[1].replace(' AS nb1', ' AS b1')},"
        f" {_STEP_OUT[2].replace(' AS nb2', ' AS b2')} FROM {sums})"
    )


def _glm_sql() -> str:
    beta = (
        "(SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,"
        " CAST(0 AS DOUBLE) AS b2)"
    )
    for it in range(3):
        beta = _irls_step_sql(_FEATS_SQL, beta, it)
    # final log-likelihood at the fitted beta
    rows = f"""
    SELECT f.*, b.b0, b.b1, b.b2 FROM ({_FEATS_SQL}) f
    CROSS JOIN {beta} b
    """
    rows = f"(SELECT *, {_ROW_Z} FROM ({rows}))"
    rows = sql_wrap_stages(
        rows, pexp_stages("CAST(0 AS DOUBLE) - zz", "_ez", "_fl_")
    )
    rows = f"(SELECT *, {_ROW_POST[0]} FROM {rows})"
    rows = sql_wrap_stages(rows, plog_stages("mu", "_lmu", "_fm_"))
    rows = sql_wrap_stages(
        rows,
        plog_stages("CAST(1 AS DOUBLE) - mu", "_lom", "_fo_"),
    )
    return f"""
    SELECT MAX(b0) AS beta0, MAX(b1) AS beta1, MAX(b2) AS beta2,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND((y * _lmu
                                + (CAST(1 AS DOUBLE) - y) * _lom)
                               * {_S}) AS BIGINT)) AS DOUBLE)
               / CAST({_S} AS DOUBLE) AS log_lik
    FROM {rows}
    """


@query(
    "logistic_irls_fit",
    sql=_glm_sql(),
    tags=("llm", "ml-train", "inference", "infotheory"),
)
def logistic_irls_fit(spark, sf_dir):
    """Train a logistic regression (en-vs-rest on token count / mean
    word length) by THREE unrolled IRLS/Newton steps from beta = 0, plus the
    final log-likelihood — distributed GLM training whose every
    coefficient is value-hash-checked against DuckDB. See the module
    docstring for the step algebra; determinism comes from (a) the
    portable sigmoid/ln kernels, (b) scaled-BIGINT stable sums for all
    nine normal-equation entries, (c) identically-spelled Cramer 3x3
    solves.

    Scale shape: per step, the one-row beta broadcasts onto the
    per-doc feature AGGREGATE (whose exchange is reused across steps)
    and reduces map-side to 9 sums; no driver loop, no collect — the
    full three-step trainer is ONE lazy plan.
    """
    docs = read_table(spark, sf_dir, "documents")
    feats = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.length("w")).cast("long").alias("n_chr"),
        )
        .selectExpr(
            "CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)"
            " ELSE CAST(0 AS DOUBLE) END AS y",
            "CAST(n_tok AS DOUBLE) / CAST(100 AS DOUBLE) AS f1",
            "CAST(n_chr AS DOUBLE)"
            " / (CAST(n_tok AS DOUBLE) * CAST(10 AS DOUBLE)) AS f2",
        )
    )
    beta = spark.range(1).selectExpr(
        "CAST(0 AS DOUBLE) AS b0",
        "CAST(0 AS DOUBLE) AS b1",
        "CAST(0 AS DOUBLE) AS b2",
    )

    def step(prev, r):
        rows = feats.crossJoin(F.broadcast(prev))
        rows = rows.selectExpr("*", _ROW_Z)
        rows = apply_stages(
            rows,
            pexp_stages("CAST(0 AS DOUBLE) - zz", "_ez", f"_i{r - 1}_"),
        )
        rows = rows.selectExpr("*", _ROW_POST[0])
        rows = rows.selectExpr("*", *_ROW_WR)
        sums = rows.agg(
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            F.max("b2").alias("b2"),
            *[F.expr(e) for e in _sum_exprs()],
        )
        return sums.selectExpr(
            _STEP_OUT[0].replace(" AS nb0", " AS b0"),
            _STEP_OUT[1].replace(" AS nb1", " AS b1"),
            _STEP_OUT[2].replace(" AS nb2", " AS b2"),
        )

    # eager-checkpoint the ONE-ROW beta after every step (the
    # embed_pca_power_iteration convention): without the barrier the
    # three unrolled kernel ladders nest into one plan whose
    # analysis/codegen dominates wall time; with it each step is a
    # small independent job and values are bit-identical
    with Scope() as s:
        beta = s.keep(s.rounds(beta, step, n=3, every=1)[0])
    rows = feats.crossJoin(F.broadcast(beta))
    rows = rows.selectExpr("*", _ROW_Z)
    rows = apply_stages(
        rows, pexp_stages("CAST(0 AS DOUBLE) - zz", "_ez", "_fl_")
    )
    rows = rows.selectExpr("*", _ROW_POST[0])
    rows = apply_stages(rows, plog_stages("mu", "_lmu", "_fm_"))
    rows = apply_stages(
        rows, plog_stages("CAST(1 AS DOUBLE) - mu", "_lom", "_fo_")
    )
    return rows.agg(
        F.max("b0").alias("beta0"),
        F.max("b1").alias("beta1"),
        F.max("b2").alias("beta2"),
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"CAST(SUM(CAST(ROUND((y * _lmu"
            f" + (CAST(1 AS DOUBLE) - y) * _lom)"
            f" * {_S}) AS BIGINT)) AS DOUBLE)"
            f" / CAST({_S} AS DOUBLE)"
        ).alias("log_lik"),
    )
