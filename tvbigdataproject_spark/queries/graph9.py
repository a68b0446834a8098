"""Graph batch 9: Katz centrality on the trade graph.

katz_centrality_trade completes the centrality family (degree,
pagerank, HITS, betweenness/harmonic-closeness landmarks) with the
attenuated-walk-count measure: katz(i) = sum over k >= 1 of
alpha^k (#walks of length k ending at i). PageRank answers "where does
a random surfer settle"; Katz answers "how many short ways lead here",
which is the link-prediction / influence prior the recommendation
tier keys on.

Exactness: alpha = 1/8 is an exact binary fraction and the iteration
runs in scaled integers — x_0 = 1e6 per node, x_{k+1}(i) =
(sum over in-neighbors j of x_k(j)) div 8 — so every round is an
exact BIGINT sum followed by a deterministic floor-div (the
holt/markov integer-recursion discipline); no float accumulation
order anywhere. Truncation at K = 3 is the declared estimator
(walks of length <= 3), not an approximation of the infinite sum.

Scale shape: one round = one colors-onto-edges equi-join + a keyed
sum — the WL/pagerank frontier-join shape, 3 unrolled rounds; the
final top-k is TakeOrdered. Sums stay inside int64 for in-degrees up
to ~1e6 per the scaling argument in the docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.sources import read_table

_KZ_S = 1_000_000  # starting mass per node (1e6-scaled)
_KZ_ALPHA_DIV = 8  # alpha = 1/8, exact in binary
_KZ_ROUNDS = 3
_KZ_TOPK = 20


def _kz_sql() -> str:
    # rounds as MATERIALIZED CTEs: round k feeds both round k+1 and
    # the final union, so the nested-subquery form would expand it
    # twice per successor (exponential oracle text/memory — the WL sf1
    # lesson, graph8.py)
    ctes = [
        """e0 AS MATERIALIZED (
        SELECT o_custkey AS src, -l_suppkey AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    )""",
        """bi AS MATERIALIZED (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    )""",
        f"""x0 AS MATERIALIZED (
        SELECT dst AS node, CAST({_KZ_S} AS BIGINT) AS x
        FROM bi GROUP BY 1
    )""",
    ]
    for i in range(_KZ_ROUNDS):
        ctes.append(f"""x{i + 1} AS MATERIALIZED (
        SELECT e.dst AS node,
               CAST(SUM(p.x) // {_KZ_ALPHA_DIV} AS BIGINT) AS x
        FROM bi e JOIN x{i} p ON e.src = p.node
        GROUP BY 1
    )""")
    walks = " UNION ALL ".join(
        f"SELECT node, x FROM x{i + 1}" for i in range(_KZ_ROUNDS)
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT node, CAST(SUM(x) AS BIGINT) AS katz_scaled
    FROM ({walks})
    GROUP BY 1
    ORDER BY katz_scaled DESC, node
    LIMIT {_KZ_TOPK}
    """


@query(
    "katz_centrality_trade",
    sql=_kz_sql(),
    tags=("graph", "centrality", "iterative"),
)
def katz_centrality_trade(spark, sf_dir):
    """Top-{k} nodes of the bi-directed customer-supplier trade graph
    by truncated Katz centrality: sum over k = 1..{r} of
    alpha^k (#length-k walks ending at the node), alpha = 1/8 — the
    attenuated-walk influence prior (pagerank's unnormalized cousin:
    counts ways-to-reach rather than random-surfer mass, which is why
    link prediction uses it as a score and not a distribution).

    Exactness: scaled-integer iteration (x0 = 1e6, each round an exact
    BIGINT neighbor-sum then div 8) — alpha is an exact binary
    fraction, so the only rounding is the deterministic floor, and the
    DuckDB oracle replays every round bit-for-bit.

    Scale shape: {r} unrolled frontier joins (the WL/pagerank shape),
    one keyed sum per round; the three per-round tables union into a
    keyed sum and a TakeOrdered top-{k}. int64 headroom bound covers
    the FULL 3-round recursion, not just round 1: the pre-div sum at
    round k is <= d^k * 1e6 / 8^(k-1) for max degree d, worst at k=3
    (d^3 * 1e6 / 64 < 9.2e18 => d <= ~8e4). A hub-heavier graph must
    drop x0 a decade per extra degree-decade (same argument as the WL
    color cap) or accumulate the per-round sums in decimal(38,0);
    Spark's non-ANSI SUM(long) would wrap silently past the bound
    while DuckDB promotes to HUGEINT, so the bound is a parity
    invariant, not just an accuracy one.
    """
    # The edge build (size-gated SHUFFLE_HASH + materialize-once —
    # the r11 Katz treatment: SHUFFLE_HASH halves the SMJ edge build
    # when the orders side fits per-partition heap, and the eager
    # checkpoint stops the O(2^r) subplan re-execution of the naive
    # unrolled form) moved to the SHARED session-scoped table in
    # operators/trade_edges.py (r12): one materialization per
    # (context, sf_dir) serves the whole graph family, which also
    # retires the latest-wins _KZ_PREV_CKPT stash — repeated bench
    # reps now REUSE the blocks instead of rebuilding + releasing
    # (the c100 rep-degradation that stash existed to prevent), and
    # the cache is keyed by applicationId so a context restart can
    # never release unrelated RDDs (ADVICE r11).
    from tvbigdataproject_spark.operators.trade_edges import trade_edges_bi

    bi = trade_edges_bi(spark, sf_dir).df
    # carry-total recursion: y_k = (node, x_k, t_k = t_{k-1} + x_k), so
    # every x_k is referenced EXACTLY once (by y_{k+1}) and the final
    # answer is t_r — no union that would re-reference (and re-execute)
    # every round's chain. The per-round floor-div arithmetic is
    # untouched, so the oracle's unrolled-CTE replay is bit-identical.
    # Measured at sf1 (SCALE.md r11): 16.4 s (r10) -> 5.9-7.9 s warm
    # (session-dependent), at/ahead of the DuckDB oracle's 6.8 s for
    # the first time.
    y = (
        bi.select(F.col("dst").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(_KZ_S).cast("long").alias("x"),
            F.lit(0).cast("long").alias("t"),
        )
    )
    for _ in range(_KZ_ROUNDS):
        xk = (
            bi.join(
                y.select(F.col("node").alias("src"), "x"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(f"CAST(SUM(x) div {_KZ_ALPHA_DIV} AS BIGINT)").alias(
                    "x"
                )
            )
        )
        y = xk.join(y.select("node", "t"), "node", "left").select(
            "node",
            "x",
            (F.col("x") + F.coalesce(F.col("t"), F.lit(0))).alias("t"),
        )
    return (
        y.select("node", F.col("t").alias("katz_scaled"))
        .orderBy(F.col("katz_scaled").desc(), "node")
        .limit(_KZ_TOPK)
    )


katz_centrality_trade.__doc__ = katz_centrality_trade.__doc__.format(
    k=_KZ_TOPK, r=_KZ_ROUNDS
)


# ---------------------------------------------------------------- MSF


def _msf_edges_sql() -> str:
    return """
    SELECT LEAST(o_custkey, -l_suppkey) AS u,
           GREATEST(o_custkey, -l_suppkey) AS v,
           MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS w
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """


def _check_msf(spark, sf_dir, rows, colnames):
    """Bounded check: replay the unique MSF with a driver-side Kruskal
    (union-find) over the SAME canonical edge list read through DuckDB
    — the forest is unique under the (w, u, v) total order, so the
    comparison is exact multiset equality, not a heuristic bound."""
    import duckdb

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    edges = con.execute(
        f"SELECT u, v, w FROM ({_msf_edges_sql()}) ORDER BY w, u, v"
    ).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    want = set()
    for u, v, w in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            want.add((u, v, w))
    idx = {c: i for i, c in enumerate(colnames)}
    got = {
        (r[idx["u"]], r[idx["v"]], r[idx["w"]]) for r in rows
    }
    if len(got) != len(rows):
        return f"{len(rows) - len(got)} duplicate forest edges"
    if got != want:
        return (
            f"forest mismatch: {len(got - want)} extra, "
            f"{len(want - got)} missing of {len(want)} Kruskal edges"
        )
    return None


@query(
    "msf_trade_backbone",
    sql=None,
    tags=("graph", "iterative", "mst"),
    check=_check_msf,
)
def msf_trade_backbone(spark, sf_dir):
    """Minimum spanning forest of the customer-supplier trade graph,
    weighted by the cheapest observed line item between each pair —
    the minimum-cost backbone that keeps every trading community
    connected (the classic network-design / hierarchy-extraction
    primitive; single-linkage clustering is this forest's dendrogram).

    Correctness: the (w, u, v) total order makes the forest UNIQUE, so
    the registered bounded check replays it exactly with a driver-side
    Kruskal over the same canonical edges — multiset equality, the
    strongest check a non-SQL-expressible iterative op can carry
    (DuckDB has no recursive aggregate for union-find, hence sql=None).

    Scale shape: Boruvka rounds (operators/mst.py) — per round two
    label joins + a per-component struct-min + pointer-jumping
    contraction, all keyed shuffles, O(log n) rounds, eager checkpoint
    with tracked release.
    """
    from tvbigdataproject_spark.operators.mst import boruvka_msf

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
            cents.alias("w"),
        )
    )
    return boruvka_msf(pairs, weight="w")
