"""Iterative graph queries round 4: bounded weighted shortest path over
the customer↔supplier trade graph, with a layer-for-layer unrolled SQL
oracle (full value-level gate, like pagerank_trade_graph)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.traversal import (
    bfs_levels_multi,
    luby_mis,
    sssp_bounded,
)
from tvbigdataproject_spark.operators.trade_edges import (
    trade_edges_bi,
    trade_edges_weighted_bi,
)
from tvbigdataproject_spark.queries.registry import query

_SSSP_SOURCE = 1
_SSSP_ROUNDS = 3


def _sssp_sql(rounds: int) -> str:
    """Unroll Bellman-Ford: each layer keeps every node's min distance
    over paths of <= k edges — bounded by |V| rows per layer, never the
    (exponential) walk count."""
    layers = [
        f"d0 AS (SELECT CAST({_SSSP_SOURCE} AS BIGINT) AS node,"
        " CAST(0 AS BIGINT) AS dist)"
    ]
    for k in range(1, rounds + 1):
        layers.append(
            f"""d{k} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d{k - 1} d JOIN bi e ON e.src = d.node
        ) u GROUP BY node
    )"""
        )
    joined = ",\n    ".join(layers)
    return f"""
    WITH e0 AS (
        SELECT o_custkey AS src, -l_suppkey AS dst, COUNT(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    bi AS (
        SELECT src, dst, w FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM e0
    ),
    {joined}
    SELECT node, dist FROM d{rounds}
    """


@query(
    "sssp_trade_graph",
    sql=_sssp_sql(_SSSP_ROUNDS),
    tags=("graph", "iterative", "sssp"),
)
def sssp_trade_graph(spark, sf_dir):
    """Weighted shortest path (<= 3 relaxation rounds) from customer #1
    over the bidirectional trade graph, edge weight = trade count per
    (customer, supplier) pair — integer weights, so every distance is
    exact and the unrolled-CTE oracle matches bitwise.

    The DataFrame side is operators/traversal.py::sssp_bounded — one
    equi-join + min-aggregate per round, the distance table
    checkpointed every round and broadcast into the join while its
    measured size fits the broadcast threshold (the round bfs_levels
    runs). Supplier ids are negated into their own id space (same
    convention as pagerank_trade_graph / bfs_hops_trade).
    """
    # weighted edges from the shared session-scoped pair-count table
    # (operators/trade_edges.py, r12)
    bi = trade_edges_weighted_bi(spark, sf_dir)
    return sssp_bounded(bi, source=_SSSP_SOURCE, rounds=_SSSP_ROUNDS)


_LANDMARK_K = 3
_LANDMARK_HOPS = 2


@query(
    "landmark_distances",
    sql=f"""
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    lm AS (
        SELECT src AS node FROM (SELECT DISTINCT src FROM bi WHERE src > 0)
        ORDER BY node LIMIT {_LANDMARK_K}
    ),
    bfs(landmark, node, hop) AS (
        SELECT node, node, 0 FROM lm
        UNION
        SELECT b.landmark, e.dst, b.hop + 1
        FROM bfs b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_LANDMARK_HOPS}
    )
    SELECT landmark, node, MIN(hop) AS hop
    FROM bfs GROUP BY landmark, node
    """,
    tags=("graph", "iterative", "bfs", "landmarks"),
)
def landmark_distances(spark, sf_dir):
    """Hop distances from the 3 lowest-id customers (deterministic
    landmark pick) to every node within 2 hops of the bidirectional
    trade graph — the landmark/sketch primitive behind closeness
    centrality estimates, graph-diameter lower bounds, and approximate
    shortest-path oracles (Thorup-Zwick style): at 100 TB you never run
    all-pairs BFS; you run k landmark sweeps and triangulate.

    The DataFrame side is ONE multi-source frontier loop keyed by
    (landmark, node) (operators/traversal.py::bfs_levels_multi), not k
    sequential BFS runs — the round count stays max_hops. The oracle is
    the recursive CTE with UNION-distinct recursion, whose state is
    bounded by landmarks x nodes x hops, never the walk count.
    """
    bi = trade_edges_bi(spark, sf_dir)
    landmarks = (
        bi.df.where(F.col("src") > 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_LANDMARK_K)
    )
    return bfs_levels_multi(bi, landmarks, max_hops=_LANDMARK_HOPS)


@query(
    "harmonic_closeness_landmarks",
    sql=f"""
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    lm AS (
        SELECT src AS node FROM (SELECT DISTINCT src FROM bi WHERE src > 0)
        ORDER BY node LIMIT {_LANDMARK_K}
    ),
    bfs(landmark, node, hop) AS (
        SELECT node, node, 0 FROM lm
        UNION
        SELECT b.landmark, e.dst, b.hop + 1
        FROM bfs b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_LANDMARK_HOPS}
    ),
    dist AS (
        SELECT landmark, node, MIN(hop) AS hop FROM bfs
        GROUP BY landmark, node
    )
    SELECT node, COUNT(*) AS n_reached,
           CAST(SUM(12 // hop) AS BIGINT) AS harmonic_x12
    FROM dist WHERE hop > 0 GROUP BY node
    """,
    tags=("graph", "iterative", "closeness", "landmarks"),
)
def harmonic_closeness_landmarks(spark, sf_dir):
    """Landmark-estimated harmonic closeness: per node, sum of 1/d
    over the landmark set (d = hop distance, unreached contributes 0)
    — the centrality estimator that behaves sanely on disconnected
    graphs, computed from k sweeps instead of all-pairs BFS.

    Exactness trick: with hop depth capped at 2 (and sound to 4), 1/d
    is emitted as the exact INTEGER 12/d (12 = lcm(1..4)) — the
    harmonic sum becomes pure integer arithmetic, so an estimator
    that textbooks write with floats rides the bitwise value hash.

    Scale shape: one multi-source frontier loop (bfs_levels_multi)
    plus a node-keyed agg over the k x reachable distance table.
    """
    bi = trade_edges_bi(spark, sf_dir)
    landmarks = (
        bi.df.where(F.col("src") > 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_LANDMARK_K)
    )
    dist = bfs_levels_multi(bi, landmarks, max_hops=_LANDMARK_HOPS)
    return (
        dist.where(F.col("hop") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.expr("12 DIV hop")).alias("harmonic_x12"),
        )
    )


_MIS_ROUNDS = 2
_MIS_PKEY = (
    "('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 4))::BIGINT * 4294967296"
    " + (node + 2147483648)"
)


def _mis_sql(rounds: int) -> str:
    parts = [
        f"""
    WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    a1 AS (
        SELECT node, {_MIS_PKEY} AS pkey
        FROM (SELECT DISTINCT src AS node FROM bi)
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    nbmin{r} AS (
        SELECT e.src AS node, MIN(n.pkey) AS m
        FROM bi e JOIN a{r} n ON e.dst = n.node GROUP BY e.src
    ),
    sel{r} AS (
        SELECT a.node FROM a{r} a LEFT JOIN nbmin{r} b ON a.node = b.node
        WHERE b.m IS NULL OR a.pkey < b.m
    ),
    rm{r} AS (
        SELECT DISTINCT e.dst AS node
        FROM bi e JOIN sel{r} s ON e.src = s.node
    ),
    a{r + 1} AS (
        SELECT a.node, a.pkey FROM a{r} a
        WHERE a.node NOT IN (SELECT node FROM sel{r})
          AND a.node NOT IN (SELECT node FROM rm{r})
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT node, CAST({r} AS INT) AS round FROM sel{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n    " + selects


@query(
    "mis_trade_graph",
    sql=_mis_sql(_MIS_ROUNDS),
    tags=("graph", "iterative", "mis", "symmetry-breaking"),
)
def mis_trade_graph(spark, sf_dir):
    """Luby maximal-independent-set (2 rounds) over the bidirectional
    trade graph — the distributed symmetry-breaking primitive behind
    graph coloring, parallel scheduling, and correlation clustering.
    Each round a node joins the set iff its priority beats every
    still-active neighbor's; winners and their neighbors deactivate.

    The priority is the md5-portable 16-bit node hash extended with
    the id (collision-proof, deterministic), so the oracle unrolls the
    exact run — selection, removal, and round attribution are all
    value-checked. DataFrame side: operators/traversal.py::luby_mis
    with the iterative tier's checkpoint-release discipline.
    """
    bi = trade_edges_bi(spark, sf_dir)
    return luby_mis(bi, rounds=_MIS_ROUNDS)


_LPA_ROUNDS = 2


def _lpa_cte(rounds: int) -> str:
    """The shared WITH-body unrolling synchronous label propagation:
    each layer is one neighbor-label count + per-node deterministic
    argmax (ties to the smallest label), replaying
    operators/components.py::label_propagation exactly. Reused by the
    lpa_communities oracle and the community_modularity oracle."""
    parts = [
        """
    WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    l1 AS (
        SELECT node, node AS label
        FROM (SELECT DISTINCT src AS node FROM bi)
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    c{r} AS (
        SELECT e.src AS node, n.label, COUNT(*) AS c
        FROM bi e JOIN l{r} n ON e.dst = n.node
        GROUP BY e.src, n.label
    ),
    l{r + 1} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{r}
        ) WHERE rn = 1
    )"""
        )
    return "".join(parts)


def _lpa_sql(rounds: int) -> str:
    return (
        _lpa_cte(rounds)
        + f"\n    SELECT node, label AS community FROM l{rounds + 1}"
    )


def _modularity_sql(rounds: int) -> str:
    """Newman modularity of the round-`rounds` LPA partition, as exact
    integers: with T = total directed edge count (= 2m), intra_c =
    directed intra-community edges, D_c = community degree sum,
    Q = sum_c [intra_c/T - (D_c/T)^2], so Q*T^2 = T*sum(intra_c) -
    sum(D_c^2) — every term a BIGINT (T = sum(D_c), and Cauchy-Schwarz
    bounds every term by T^2). The only float is one final division of
    the SAME two BIGINTs in both engines (IEEE-identical)."""
    return (
        _lpa_cte(rounds)
        + f""",
    lab AS (SELECT node, label FROM l{rounds + 1}),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM bi GROUP BY src),
    dc AS (
        SELECT l.label AS community,
               CAST(SUM(CAST(d.deg AS DECIMAL(38,0))) AS BIGINT) AS dsum
        FROM lab l JOIN deg d ON l.node = d.node
        GROUP BY l.label
    ),
    intra AS (
        SELECT ls.label AS community, COUNT(*) AS intra
        FROM bi e
        JOIN lab ls ON e.src = ls.node
        JOIN lab ld ON e.dst = ld.node
        WHERE ls.label = ld.label
        GROUP BY ls.label
    ),
    stats AS (
        SELECT d.community, d.dsum,
               COALESCE(i.intra, CAST(0 AS BIGINT)) AS intra
        FROM dc d LEFT JOIN intra i ON d.community = i.community
    ),
    g AS (
        SELECT COUNT(*) AS communities,
               CAST(SUM(CAST(intra AS DECIMAL(38,0))) AS BIGINT)
                   AS intra_edges,
               CAST(SUM(CAST(dsum AS DECIMAL(38,0))) AS BIGINT)
                   AS total_degree,
               CAST(SUM(CAST(dsum * dsum AS DECIMAL(38,0))) AS BIGINT)
                   AS sum_deg_sq
        FROM stats
    )
    SELECT communities, intra_edges, total_degree,
           total_degree * intra_edges - sum_deg_sq AS modularity_num,
           total_degree * total_degree AS modularity_den,
           CAST(total_degree * intra_edges - sum_deg_sq AS DOUBLE)
               / CAST(total_degree * total_degree AS DOUBLE) AS modularity
    FROM g
    """
    )


@query(
    "lpa_communities",
    sql=_lpa_sql(_LPA_ROUNDS),
    tags=("graph", "iterative", "community"),
)
def lpa_communities(spark, sf_dir):
    """Label-propagation community detection (2 synchronous sweeps)
    over the bidirectional trade graph — the classic near-linear
    community detector (Raghavan et al. 2007), closing the one
    distributed-graph primitive the iterative tier lacked. Ties break
    to the smallest label, so the run is deterministic and the oracle
    unrolls it layer for layer (full value gate, like
    pagerank_trade_graph / mis_trade_graph).

    DataFrame side: operators/components.py::label_propagation — per
    sweep one node-keyed join, one partially-aggregated (node, label)
    count, one bounded per-node argmax window; checkpoint-every-2 with
    tracked release.
    """
    from tvbigdataproject_spark.operators.components import label_propagation

    bi = trade_edges_bi(spark, sf_dir)
    return label_propagation(bi, rounds=_LPA_ROUNDS)


@query(
    "community_modularity",
    sql=_modularity_sql(_LPA_ROUNDS),
    tags=("graph", "iterative", "community"),
)
def community_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition — upgrades the community
    tier from "labels match" to "partition quality matches". Computed
    in exact integers (see _modularity_sql: Q*T^2 = T*sum(intra_c) -
    sum(D_c^2), every term a BIGINT); the only float is one final
    division of the SAME two BIGINTs in both engines (IEEE-identical).

    Scale shape: deg is one count shuffle on node; dc one label-keyed
    agg; intra tags each directed edge with both endpoint labels — two
    node-keyed equi-joins over the edge list (the standard distributed
    modularity evaluation; nothing all-pairs, state bounded by |E|);
    everything then collapses through map-side partial aggregation to
    one global row. The edge list rides the SESSION-SCOPED shared
    checkpoint (operators/trade_edges.py) — it feeds three consumers
    (LPA rounds, the degree count, the intra-edge tagging), and
    without materialization each re-derives the lineitem-orders
    join + distinct from the scan (measured 5.5 s -> the build done
    once at sf0.1; exchange reuse does not fire across the
    differently-shaped branches). LPA releases its superseded rounds
    before returning; its final labels, which the returned plan reads,
    belong to the session registry like the edge table, and
    ``release_session_caches`` frees both.
    """
    from tvbigdataproject_spark.operators.components import label_propagation

    # the edge list rides the session-scoped shared checkpoint
    # (operators/trade_edges.py, r12): materialized once per
    # (context, sf_dir), reused by every graph query — this query's
    # three consumers (LPA rounds, degree count, intra tagging) all
    # scan the same persisted rows, and the blocks are NOT released
    # here (they belong to the shared cache, not this call)
    bi = trade_edges_bi(spark, sf_dir)
    lab = label_propagation(bi, rounds=_LPA_ROUNDS)

    deg = bi.df.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    dc = (
        lab.join(deg, "node")
        .groupBy(F.col("community"))
        .agg(
            F.sum(F.col("deg").cast("decimal(38,0)"))
            .cast("long")
            .alias("dsum")
        )
    )
    ls = lab.select(F.col("node").alias("src"), F.col("community").alias("cs"))
    ld = lab.select(F.col("node").alias("dst"), F.col("community").alias("cd"))
    intra = (
        bi.df.join(ls, "src")
        .join(ld, "dst")
        .where(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra"))
    )
    stats = dc.join(intra, "community", "left").select(
        "community",
        "dsum",
        F.coalesce(F.col("intra"), F.lit(0).cast("long")).alias("intra"),
    )
    g = stats.agg(
        F.count(F.lit(1)).alias("communities"),
        F.sum(F.col("intra").cast("decimal(38,0)"))
        .cast("long")
        .alias("intra_edges"),
        F.sum(F.col("dsum").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_degree"),
        F.sum((F.col("dsum") * F.col("dsum")).cast("decimal(38,0)"))
        .cast("long")
        .alias("sum_deg_sq"),
    )
    num = (
        F.col("total_degree") * F.col("intra_edges") - F.col("sum_deg_sq")
    ).alias("modularity_num")
    den = (F.col("total_degree") * F.col("total_degree")).alias(
        "modularity_den"
    )
    return g.select(
        "communities",
        "intra_edges",
        "total_degree",
        num,
        den,
        (
            (
                F.col("total_degree") * F.col("intra_edges")
                - F.col("sum_deg_sq")
            ).cast("double")
            / (F.col("total_degree") * F.col("total_degree")).cast("double")
        ).alias("modularity"),
    )


_ED_HOPS = 4  # deep enough that >=90% of reachable pairs resolve


@query(
    "effective_diameter_landmarks",
    sql=f"""
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    bi AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    lm AS (
        SELECT src AS node FROM (SELECT DISTINCT src FROM bi WHERE src > 0)
        ORDER BY node LIMIT {{k}}
    ),
    bfs(landmark, node, hop) AS (
        SELECT node, node, 0 FROM lm
        UNION
        SELECT b.landmark, e.dst, b.hop + 1
        FROM bfs b JOIN bi e ON e.src = b.node
        WHERE b.hop < {_ED_HOPS}
    ),
    dist AS (
        SELECT landmark, node, MIN(hop) AS hop
        FROM bfs GROUP BY landmark, node
    ),
    hops AS (SELECT hop, COUNT(*) AS c FROM dist GROUP BY hop),
    cum AS (
        SELECT hop,
               CAST(SUM(c) OVER (ORDER BY hop) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS total
        FROM hops
    )
    SELECT MAX(total) AS n_pairs,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN hop END) AS BIGINT)
               AS eff_diameter_90,
           CAST(MAX(hop) AS BIGINT) AS max_hop
    FROM cum
    """.replace("{k}", "3"),
    tags=("graph", "iterative", "landmarks", "stats"),
)
def effective_diameter_landmarks(spark, sf_dir):
    """Effective diameter (90th percentile of landmark-pair distances):
    the smallest hop count covering >= 90% of the (landmark, node)
    pairs reached within 4 hops — the standard small-world readout
    (Leskovec et al.'s shrinking-diameters metric) computed the only
    way it is ever computed at scale: from k landmark BFS sweeps, never
    all-pairs.

    Exactness: hop counts are exact integers; the 90% pick is a
    cross-multiplied integer comparison (10*cum >= 9*total), no float
    percentile.

    Scale shape: one multi-source frontier loop keyed by (landmark,
    node) — the landmark_distances machinery at depth 4 — then a
    <=5-row hop histogram; the cumulative window runs over that
    bounded grid.
    """
    bi = trade_edges_bi(spark, sf_dir)
    landmarks = (
        bi.df.where(F.col("src") > 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_LANDMARK_K)
    )
    dist = bfs_levels_multi(bi, landmarks, max_hops=_ED_HOPS)
    hops = dist.groupBy("hop").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w_cum = Window.orderBy("hop").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hops.select(
        "hop",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("total"),
    )
    return cum.agg(
        F.max("total").alias("n_pairs"),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("hop"))
        ).cast("long").alias("eff_diameter_90"),
        F.max("hop").cast("long").alias("max_hop"),
    )
