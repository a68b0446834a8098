"""Embeddings batch 4: greedy k-center coreset selection (Gonzalez) —
the data-selection primitive training pipelines use to pick a maximally
spread subset (seed centroids, eval probes, diverse few-shot pools):
repeatedly take the point FARTHEST from everything selected so far.
The classic 2-approximation to the k-center objective, and the farthest
point's distance at each step IS the current covering radius, so the
output doubles as a coverage curve.

Reference scope: the reference engine stops at pairwise similarity
(RetweetTagsJaccardGraph.py:158-183); selection/coverage over an
embedding column is north-star surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.clustering import (
    QUANT_SCALE,
    quantize_vectors,
)
from tvbigdataproject_spark.operators.materialize import Scope
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_KC_K = 8
_KC_DIM = 64


def _dist_sql(v: str, c: str) -> str:
    return " + ".join(
        f"({v}[{i}] - {c}[{i}]) * ({v}[{i}] - {c}[{i}])"
        for i in range(1, _KC_DIM + 1)
    )


def _kc_sql() -> str:
    ctes = [
        f"""q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * {QUANT_SCALE}.0) AS BIGINT))
                   AS qv
        FROM embeddings
    )""",
        # seed: minimum vec_id (deterministic Gonzalez start)
        """c1 AS MATERIALIZED (
        SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1
    )""",
        f"""d1 AS MATERIALIZED (
        SELECT v.vec_id, v.qv,
               CAST({_dist_sql('v.qv', 'c.qv')} AS BIGINT) AS dmin
        FROM q v CROSS JOIN c1 c
    )""",
    ]
    for r in range(2, _KC_K + 1):
        ctes.append(f"""c{r} AS MATERIALIZED (
        SELECT vec_id, qv, dmin FROM d{r - 1}
        ORDER BY dmin DESC, vec_id LIMIT 1
    )""")
        if r < _KC_K:
            ctes.append(f"""d{r} AS MATERIALIZED (
        SELECT v.vec_id, v.qv,
               LEAST(v.dmin,
                     CAST({_dist_sql('v.qv', 'c.qv')} AS BIGINT)) AS dmin
        FROM d{r - 1} v CROSS JOIN c{r} c
    )""")
    rows = ["SELECT 1 AS sel_round, vec_id, CAST(0 AS BIGINT)"
            " AS radius2 FROM c1"] + [
        f"SELECT {r} AS sel_round, vec_id, dmin AS radius2 FROM c{r}"
        for r in range(2, _KC_K + 1)
    ]
    return f"""
    WITH {', '.join(ctes)}
    SELECT * FROM ({' UNION ALL '.join(rows)})
    ORDER BY sel_round
    """


@query(
    "kcenter_coreset_embeddings",
    sql=_kc_sql(),
    tags=("embeddings", "selection", "coreset"),
)
def kcenter_coreset_embeddings(spark, sf_dir):
    """Greedy k-center (Gonzalez) selection of {k} embedding coreset
    points: seed at the minimum vec_id, then {k1} rounds of "take the
    point with the maximum distance to its nearest selected center".
    Output is (sel_round, vec_id, radius2) where radius2 is the
    selected point's squared distance to the previous set — the exact
    covering-radius curve (2-approximation guarantee to the optimal
    k-center radius).

    Exactness: vectors quantized to BIGINTs (the kmeans_lloyd
    contract: float * 2^20 is exact), so every distance is an exact
    integer and the argmax with (dmin DESC, vec_id) tiebreak is a
    total order both engines share.

    Scale shape: each round is ONE corpus scan (running-min distance
    column update against a single broadcast center row) + a
    TakeOrdered(1); {k} rounds total, no pairwise joins, no windows.
    The driver holds only the {k} selected rows (bounded by contract).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = quantize_vectors(emb).select("vec_id", "qv")

    def dist_to(center_qv):
        arr = F.array(*[F.lit(int(v)) for v in center_qv])
        return F.aggregate(
            F.zip_with(F.col("qv"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seed = q.orderBy("vec_id").limit(1).collect()[0]
    selected = [(1, int(seed["vec_id"]), 0)]
    # each round's distance table is cached so round r scans the
    # ROUND-(r-1) table once instead of replaying the whole chain from
    # the quantized scan (one-scan-per-round contract); the superseded
    # cache is released only after its successor has materialized.
    with Scope() as s:
        cur = s.persist(
            q.select("vec_id", "qv", dist_to(seed["qv"]).alias("dmin"))
        )
        hold = None
        for r in range(2, _KC_K + 1):
            top = (
                cur.orderBy(F.col("dmin").desc(), "vec_id")
                .limit(1)
                .collect()[0]
            )
            if hold is not None:
                s.release(hold)
            selected.append((r, int(top["vec_id"]), int(top["dmin"])))
            if r < _KC_K:
                nxt = s.persist(
                    cur.select(
                        "vec_id",
                        "qv",
                        F.least("dmin", dist_to(top["qv"])).alias("dmin"),
                    )
                )
                hold, cur = cur, nxt
    return spark.createDataFrame(
        selected, "sel_round int, vec_id long, radius2 long"
    ).orderBy("sel_round")


kcenter_coreset_embeddings.__doc__ = kcenter_coreset_embeddings.__doc__.format(
    k=_KC_K, k1=_KC_K - 1
)
