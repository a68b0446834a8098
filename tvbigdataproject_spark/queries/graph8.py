"""Graph batch 8: Weisfeiler-Leman structure fingerprinting.

wl_colors_trade_graph runs 3 rounds of 1-WL color refinement on the
bipartite customer-supplier trade graph — the canonical graph-
structure signature (two nodes share a round-k color iff their
k-neighborhood unfoldings agree), used for graph featurization,
role discovery, and subgraph dedup. The color histogram after 3
rounds is the graph's structural spectrum.

Determinism: a WL color is a 60-bit integer carved from
md5(own_color || '|' || sorted neighbor colors) — md5 is the suite's
portable hash, the neighbor multiset is an ORDER BY-sorted list of
decimal-rendered longs (duplicates kept) in both engines, and the
string assembly is identical, so every color agrees bit-for-bit
across engines. 60-bit ids make cross-color collisions negligible
(#colors <= #nodes; birthday bound ~n^2/2^61), and any collision is
identical in both engines so the parity gate still binds.

Scale shape: one round = one join (colors onto the bi-directed edge
list, keyed on the neighbor) + one grouped sorted-list aggregate —
the frontier-join shape of the pagerank/BFS tier, 3 unrolled rounds.
Colors are dictionary-encoded as 8-byte longs the moment they are
born (never materialized as 32-char digest strings), so the color
table, both join keys, and every collect_list element carried
through the per-round shuffles are fixed-width longs — ~10x less
shuffle/heap per edge than digest-string colors, which is what kept
the c100 ladder rung inside the default heap. The per-node concat is
O(degree); on the trade graph customer degree is bounded by
orders-per-customer (the ra_link_prediction argument), and a
production run on a hub-heavy graph would cap or sample neighbor
lists (documented, not needed here).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.trade_edges import trade_edges_bi
from tvbigdataproject_spark.queries.registry import query

_WL_ROUNDS = 3
_WL_TOPK = 20
# 15 hex chars = 60 bits: the widest md5 prefix that is exact in a
# signed 64-bit lane in both engines ('0x…'::BIGINT / conv(…,16,10)).
_WL_HEX = 15


def _wl_sql() -> str:
    # every round is a MATERIALIZED CTE so the oracle evaluates each
    # color table exactly once — the f-string-nested form duplicated
    # round k's subquery twice per successor (2^rounds expansions),
    # which blew DuckDB's memory at sf1
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
        """c0 AS MATERIALIZED (
        SELECT src AS node,
               CASE WHEN src > 0 THEN 0 ELSE 1 END AS c
        FROM bi GROUP BY 1
    )""",
    ]
    for i in range(_WL_ROUNDS):
        # neighbor multiset aggregated FIRST; own color joins the
        # per-node aggregate, never the edge-wide rows (mirrors the
        # Spark plan; identical md5 input either way)
        ctes.append(f"""c{i + 1} AS MATERIALIZED (
        SELECT a.node,
               ('0x' || substr(md5(
                   CAST(own.c AS VARCHAR) || '|' || a.nbs
               ), 1, {_WL_HEX}))::BIGINT AS c
        FROM (SELECT e.src AS node,
                     string_agg(CAST(nb.c AS VARCHAR), ','
                                ORDER BY nb.c) AS nbs
              FROM bi e
              JOIN c{i} nb ON e.dst = nb.node
              GROUP BY e.src) a
        JOIN c{i} own ON a.node = own.node
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT c AS color, COUNT(*) AS n_nodes
    FROM c{_WL_ROUNDS}
    GROUP BY 1
    ORDER BY n_nodes DESC, color
    LIMIT {_WL_TOPK}
    """


@query(
    "wl_colors_trade_graph",
    sql=_wl_sql(),
    tags=("graph", "structure", "fingerprint"),
)
def wl_colors_trade_graph(spark, sf_dir):
    """Top-{k} 1-WL colors (with node counts) after {r} refinement
    rounds on the trade graph, seeded by node type (customer=0 /
    supplier=1) — the structural-role histogram: nodes sharing a
    color are indistinguishable by {r}-hop structure, and the
    histogram's shape is the graph's fingerprint (two feeds with the
    same degree sequence but different wiring separate here).

    Determinism: colors are 60-bit ints carved from md5(own || '|' ||
    sorted neighbor multiset) on the portable hash; the sorted list
    keeps duplicates and renders longs as plain decimal in both
    engines; ranking ties break on the color value.

    Scale shape: {r} unrolled rounds of (edge join colors -> grouped
    sorted-list aggregate) — the iterative frontier-join shape; the
    final histogram is a keyed count + TakeOrdered. Colors are
    dictionary-encoded to 8-byte longs at birth so the per-round
    shuffles never carry digest strings.
    """
    bi = trade_edges_bi(spark, sf_dir).df
    colors = bi.select("src").distinct().select(
        F.col("src").alias("node"),
        F.when(F.col("src") > 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("c"),
    )
    for _ in range(_WL_ROUNDS):
        nb = colors.select(
            F.col("node").alias("dst"), F.col("c").alias("nc")
        )
        # Aggregate the neighbor multiset FIRST, then attach the node's
        # own color to the (small) per-node table — the own-color join
        # must not ride the full edge table through a second wide
        # shuffle (at c100 that second 110M-row shuffle was the heap
        # cliff; post-agg it joins #nodes rows instead of #edges).
        nbs = (
            bi.join(nb, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("nc")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("nbs")
            )
        )
        colors = nbs.join(colors, "node").select(
            "node",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("c").cast("string"),
                            F.lit("|"),
                            F.col("nbs"),
                        )
                    ),
                    1,
                    _WL_HEX,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("c"),
        )
    return (
        colors.groupBy(F.col("c").alias("color"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "color")
        .limit(_WL_TOPK)
    )


wl_colors_trade_graph.__doc__ = wl_colors_trade_graph.__doc__.format(
    k=_WL_TOPK, r=_WL_ROUNDS
)
