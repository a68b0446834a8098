"""LLM-ops batch 16 (r12): retrieval and dedup-design operators —

- query_likelihood_dirichlet  Dirichlet-smoothed query-likelihood
                              retrieval (Zhai & Lafferty 2001), the
                              standard LM baseline next to BM25: every
                              document scores every query term through
                              the smoothed p(t|d), so "missing term"
                              costs a principled penalty instead of a
                              hard zero
- minhash_scurve_design       the LSH design curve evaluated on the
                              corpus's OWN measured pair-similarity
                              distribution: expected candidate yield
                              and expected recall@0.4 for each
                              (bands, rows) configuration — the tool
                              that answers "which (b, r) should
                              dedup_minhash_lsh run at 100 TB"
                              BEFORE the full job runs

Log discipline: both lns ride the portable log kernel
(functions/portable.py::plog_stages) on INTEGER arguments — the
Dirichlet score ln((tf*T + mu*ctf) / (T*(dl + mu))) splits into two
integer-argument lns exactly like bm25_log_topk's half-integer idf.
Power discipline: the S-curve's s^r and (1-s^r)^b are explicit
fixed-association products generated from ONE text helper (no
POWER(), whose libm rounding is not pinned cross-engine).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.portable import (
    apply_stages,
    plog_stages,
    sql_wrap_stages,
)
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table, read_table_spread

# ------------------------------------------------------------- Q392

_QL_TERMS = ("vector", "hash", "scan")  # the fixed lexical query the
# BM25 family (llm_ops9 / infotheory4) already scores — shared so the
# rankings are directly comparable
_QL_MU = 2000  # Dirichlet prior mass (standard TREC setting)
_QL_TOPK = 20


def _ql_sql() -> str:
    in_list = ", ".join(f"'{t}'" for t in _QL_TERMS)
    per = f"""
    SELECT d.doc_id, q.term,
           COALESCE(tf.tf, 0) AS tf, d.dl, ctf.ctf, st.tot
    FROM (SELECT doc_id, COUNT(*) AS dl FROM
            (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             FROM documents) GROUP BY 1) d
    CROSS JOIN (SELECT UNNEST([{in_list}]) AS term) q
    LEFT JOIN (SELECT doc_id, term, COUNT(*) AS tf FROM
            (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             FROM documents)
         WHERE term IN ({in_list}) GROUP BY 1, 2) tf
        ON tf.doc_id = d.doc_id AND tf.term = q.term
    JOIN (SELECT term, COUNT(*) AS ctf FROM
            (SELECT unnest(string_split(lower(text), ' ')) AS term
             FROM documents)
         WHERE term IN ({in_list}) GROUP BY 1) ctf ON ctf.term = q.term
    CROSS JOIN (SELECT COUNT(*) AS tot FROM
            (SELECT unnest(string_split(lower(text), ' ')) AS term
             FROM documents)) st
    """
    per = sql_wrap_stages(
        per,
        plog_stages(
            f"CAST(tf AS BIGINT) * tot + {_QL_MU} * ctf", "_lnum", "_q1_"
        ),
    )
    per = sql_wrap_stages(
        per,
        plog_stages(f"tot * (dl + {_QL_MU})", "_lden", "_q2_"),
    )
    pivot = ",\n           ".join(
        f"MAX(CASE WHEN term = '{t}' THEN _lnum - _lden END) AS s_{t}"
        for t in _QL_TERMS
    )
    add = " + ".join(f"s_{t}" for t in _QL_TERMS)
    return f"""
    SELECT doc_id, {add} AS ql_score FROM (
        SELECT doc_id, {pivot}
        FROM {per}
        GROUP BY doc_id
    )
    ORDER BY ql_score DESC, doc_id
    LIMIT {_QL_TOPK}
    """


@query(
    "query_likelihood_dirichlet",
    sql=_ql_sql(),
    tags=("llm", "retrieval", "infotheory"),
)
def query_likelihood_dirichlet(spark, sf_dir):
    """Top-{k} documents for the fixed query {terms} under
    Dirichlet-smoothed query likelihood: score(q, d) = sum over t of
    ln((tf + mu*p(t|C)) / (dl + mu)), mu = {mu} — the language-model
    retrieval baseline (Zhai & Lafferty 2001) beside BM25: smoothing
    gives every document a score for every term, so a one-term miss
    costs a graded penalty, not a zero.

    Exactness: the score splits as ln(tf*T + mu*ctf) - ln(T*(dl+mu))
    with BOTH arguments exact BIGINTs (T = corpus tokens; bounded
    ~2.5e9 at sf1, far inside the portable-log ladder); both lns ride
    the plog kernel and the 3-term sum is the fixed-order pivot (the
    bm25_log_topk discipline verbatim).

    Scale shape: the tf table is filtered to 3 terms at the scan; the
    doc-length table joins on doc_id; ctf and T broadcast (1-row / 3-
    row); the scoring table is corpus x 3 with no shuffle fan-out
    beyond the length join; TakeOrdered top-{k}.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    qt = toks.where(F.col("term").isin(*_QL_TERMS))
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ctf = qt.groupBy("term").agg(F.count(F.lit(1)).alias("ctf"))
    st = toks.agg(F.count(F.lit(1)).alias("tot"))
    terms = F.broadcast(
        spark.createDataFrame([(t,) for t in _QL_TERMS], "term string")
    )
    per = (
        dl.crossJoin(terms)
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "term",
            F.coalesce("tf", F.lit(0)).alias("tf"),
            "dl",
        )
        .join(F.broadcast(ctf), "term")
        .crossJoin(F.broadcast(st))
    )
    per = apply_stages(
        per,
        plog_stages(
            f"CAST(tf AS BIGINT) * tot + {_QL_MU} * ctf", "_lnum", "_q1_"
        ),
    )
    per = apply_stages(
        per, plog_stages(f"tot * (dl + {_QL_MU})", "_lden", "_q2_")
    )
    piv = per.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(
                    F.col("term") == t, F.col("_lnum") - F.col("_lden")
                )
            ).alias(f"s_{t}")
            for t in _QL_TERMS
        ]
    )
    add = " + ".join(f"s_{t}" for t in _QL_TERMS)
    return (
        piv.selectExpr("doc_id", f"{add} AS ql_score")
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(_QL_TOPK)
    )


query_likelihood_dirichlet.__doc__ = query_likelihood_dirichlet.__doc__.format(
    k=_QL_TOPK, terms=_QL_TERMS, mu=_QL_MU
)


# ------------------------------------------------------------- Q393

_SC_CONFIGS = ((2, 2), (4, 2), (8, 2), (2, 4), (4, 4), (8, 4))
_SC_MIN_JACC = 0.2  # measure the spectrum below the 0.4 target too
_SC_SCALE = 10**6


def _sq_chain(base: str, power: int) -> str:
    """x^power for power in {2,4,8,16} as explicit nested squares with
    ONE fixed association — no POWER(), no libm variance."""
    expr = base
    p = 1
    while p < power:
        expr = f"({expr} * {expr})"
        p *= 2
    assert p == power, power
    return expr


def _scurve_p(b: int, r: int) -> str:
    sr = _sq_chain("s", r) if r > 1 else "s"
    q = f"(CAST(1 AS DOUBLE) - {sr})"
    qb = _sq_chain(q, b) if b > 1 else q
    return f"(CAST(1 AS DOUBLE) - {qb})"


def _scurve_sql() -> str:
    # prefix-filtered candidates at the 0.2 measurement floor (the
    # r12 _PAIRS_CTE discipline — the naive all-shingle aggregate is
    # exactly what dies at sf1)
    legs = []
    for b, r in _SC_CONFIGS:
        p = _scurve_p(b, r)
        legs.append(f"""
        SELECT {b} AS bands, {r} AS rows_per_band,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(ROUND({p} * {_SC_SCALE}) AS BIGINT))
                    AS BIGINT) * 1.0 / {_SC_SCALE} AS exp_candidates,
               CAST(SUM(CASE WHEN s >= 0.4
                        THEN CAST(ROUND({p} * {_SC_SCALE}) AS BIGINT)
                        ELSE 0 END) AS BIGINT) * 1.0 / {_SC_SCALE}
                   / (SELECT COUNT(*) FROM sims WHERE s >= 0.4)
                   AS exp_recall_04
        FROM sims""")
    union = " UNION ALL ".join(legs)
    return f"""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                  FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    sfreq AS (SELECT s, COUNT(*) AS f FROM sh GROUP BY 1),
    ranked AS (
        SELECT sh.doc_id, sh.s,
               ROW_NUMBER() OVER (
                   PARTITION BY sh.doc_id ORDER BY sfreq.f, sh.s
               ) AS rk,
               sz.n
        FROM sh
        JOIN sfreq ON sfreq.s = sh.s
        JOIN sizes sz ON sz.doc_id = sh.doc_id
    ),
    pfx AS (
        SELECT doc_id, s FROM ranked
        WHERE rk <= n - CAST(CEIL({_SC_MIN_JACC} * n) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY 1, 2
    ),
    sims AS (
        SELECT i * 1.0 / (sa.n + sb.n - i) AS s
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= {_SC_MIN_JACC}
    )
    SELECT * FROM ({union})
    ORDER BY rows_per_band, bands
    """


@query(
    "minhash_scurve_design",
    sql=_scurve_sql(),
    tags=("llm", "dedup", "lsh", "design"),
)
def minhash_scurve_design(spark, sf_dir):
    """LSH design-curve evaluation on the corpus's OWN measured pair-
    similarity spectrum: for each (bands b, rows r) in {configs}, the
    expected candidate yield sum(1 - (1 - s^r)^b) over all pairs with
    Jaccard >= {floor}, and the expected recall among true near-dups
    (s >= 0.4) — the capacity-planning answer to "which (b, r) should
    dedup_minhash_lsh run" computed BEFORE any signature job: more
    bands buy recall at the price of candidate volume, and this query
    prices both on real data instead of the textbook curve.

    Exactness: similarities are shared-text doubles from exact
    intersection/size integers; s^r and (1-s^r)^b are explicit nested-
    square products (one fixed association, no POWER()); each pair's
    probability is rounded ONCE at 1e-6 and summed as BIGINT (stable-
    sum), so every expectation is exact integer arithmetic after the
    per-pair rounding.

    Scale shape: candidates ride the SAME prefix-filtered blocked
    join as the dedup tier (rare-shingle collisions only — the r12
    oracle rewrite); the 6 config legs reuse one sims table; output
    is 6 rows.
    """
    from tvbigdataproject_spark.operators.materialize import session_checkpoint
    from tvbigdataproject_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    # the 6 config legs + the n04 scalar all re-read the sims table —
    # materialize the shingle-join output ONCE (it is a 1-double-column
    # pair list) instead of replaying the blocked join per consumer
    # (r12: this query's wall was ~7x one join). The blocks back the
    # returned plan and are released with the session.
    sims = session_checkpoint(
        ngram_jaccard_pairs(docs, n=3, threshold=_SC_MIN_JACC).select(
            F.col("jacc").alias("s")
        )
    )
    n04 = sims.where(F.col("s") >= 0.4).agg(
        F.count(F.lit(1)).alias("n04")
    )
    base = sims.crossJoin(F.broadcast(n04))
    out = None
    for b, r in _SC_CONFIGS:
        p = _scurve_p(b, r)
        leg = base.selectExpr(
            "s",
            "n04",
            f"CAST(ROUND({p} * {_SC_SCALE}) AS BIGINT) AS pterm",
        ).agg(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (
                F.sum("pterm").cast("long") * F.lit(1.0) / _SC_SCALE
            ).alias("exp_candidates"),
            (
                F.sum(
                    F.when(F.col("s") >= 0.4, F.col("pterm")).otherwise(
                        F.lit(0)
                    )
                ).cast("long")
                * F.lit(1.0)
                / _SC_SCALE
                / F.max("n04")
            ).alias("exp_recall_04"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("rows_per_band", "bands")


minhash_scurve_design.__doc__ = minhash_scurve_design.__doc__.format(
    configs=_SC_CONFIGS, floor=_SC_MIN_JACC
)
