"""Semantic (embedding-space) corpus pruning: SemDeDup.

semdedup_survivors prunes semantically redundant vectors: assign each
embedding to its nearest centroid (argmax cosine over a small seeded
centroid set), then inside each cluster drop every vector within the
cosine threshold of a lower-id member. This is the embedding-space
step production pipelines run AFTER lexical dedup (exact/MinHash) —
near-identical meaning, different words — per SemDeDup (Abbas et al.
2023). The lexical tiers live in operators/dedup.py; this completes
the dedup ladder's semantic rung.

Exactness: centroids are the vectors with vec_id < 8 — a deterministic
"seed" set both engines can reconstruct (a production run would use
k-means centers, which are Spark-internal; the PLAN is identical, only
the centroid table's provenance differs — see embed_ivf_learned_topk
for the learned-centroid variant of the same shape). All cosines are
the proven bitwise-portable left-fold (functions/vectors.py), ties
break on centroid id, so assignment, pruning, and survivors all
hash-match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.similarity import semdedup_survivors
from tvbigdataproject_spark.queries.embeddings import _dot_of, _norm_of
from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_N_CENTROIDS = 8
_SEM_THRESHOLD = "0.3"  # both engines parse the same decimal literal
# to the same double; 0.3 matches embed_neardup_pairs (synthetic label
# clusters sit ~0.3 — production semantic dedup uses tighter, 0.95+)


@query(
    "semdedup_prune",
    sql=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding FROM embeddings
        WHERE vec_id < {_N_CENTROIDS}
    ),
    sim AS (
        SELECT a.vec_id AS vec_id, c.cid AS cid,
               ({_dot_of('a', 'c')}) / ({_norm_of('a')} * {_norm_of('c')})
                   AS cos
        FROM embeddings a CROSS JOIN cent c
    ),
    asg AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM sim
        ) WHERE rn = 1
    ),
    pruned AS (
        SELECT DISTINCT bb.vec_id
        FROM asg aa
        JOIN asg bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
        JOIN embeddings a ON a.vec_id = aa.vec_id
        JOIN embeddings b ON b.vec_id = bb.vec_id
        WHERE ({_dot_of('a', 'b')}) / ({_norm_of('a')} * {_norm_of('b')})
                  >= {_SEM_THRESHOLD}
    )
    SELECT g.vec_id, g.cell FROM asg g
    WHERE g.vec_id NOT IN (SELECT vec_id FROM pruned)
    """,
    tags=("embeddings", "dedup", "semantic"),
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup survivors over the embeddings table: nearest-centroid
    clustering (8 seeded centroids = vec_id < 8) + within-cluster
    lower-id cosine domination at 0.3. Output is the surviving
    (vec_id, cell) set — the rows a training pipeline would keep.

    Scale shape: the centroid sweep ships the bounded centroid matrix
    to every partition and argmaxes scan-locally over all 8 centroids
    in one mapInPandas stage, so each cell is the exact nearest one
    (one output row per corpus row — no per-(vector, centroid)
    row blowup, no shuffle; the earlier crossJoin+window form measured
    5.3x/decade super-linear on the density-scaled ladder, SCALE.md);
    within-cluster pruning rides the salted shuffle-hash pair join of
    cosine_neardup_pairs, and the final anti-join keys on vec_id. See
    operators/similarity.py semdedup_survivors for the
    greedy-vs-dominated semantics note.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_survivors(
        emb,
        emb.where(F.col("vec_id") < _N_CENTROIDS),
        threshold=float(_SEM_THRESHOLD),
    )
