"""Property-graph operators as plain DataFrame algebra.

The reference wraps its vertex/edge DataFrames in GraphFrames
(RetweetTagsJaccardGraph.py:42,46,276) and uses three of its features:
motif finding as a join engine (:158), filterEdges with string-built SQL
(:262-263,271-272), and a driver-side loop for neighborhood expansion
(:265-272). All three are DataFrame joins in disguise, so this engine's
graph is just a dataclass of two DataFrames — no external package, no
injection-prone SQL strings, no driver materialization.

Edge schema: (src, dst, w, type); vertex schema: (id). Weights are
numeric (the reference's string-typed weights are a UDF accident,
SURVEY.md §1.4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tvbigdataproject_spark.operators.skew import shuffle_partition_count


@dataclass(frozen=True)
class Graph:
    """A property graph = two DataFrames (reference G1:
    GraphFrame(v, e) at RetweetTagsJaccardGraph.py:42)."""

    vertices: DataFrame
    edges: DataFrame

    def filter_edges(self, condition) -> "Graph":
        """Subgraph by edge predicate (reference G3: g.filterEdges with a
        string-concatenated SQL filter, RetweetTagsJaccardGraph.py:262-263
        — here a bound Column expression, no injection surface)."""
        e = self.edges.where(condition)
        return Graph(vertices_from_edges(e), e)


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Induced vertex set: src ∪ dst, distinct (reference G5:
    RetweetTagsJaccardGraph.py:68-70,131-133,188-190,274-276)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex in/out degree and strength (weighted degree)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree"), F.sum("w").alias("out_strength")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree"), F.sum("w").alias("in_strength")
    )
    return (
        out_d.join(in_d, "id", "full")
        .na.fill(0, ["out_degree", "in_degree"])
        .na.fill(0.0, ["out_strength", "in_strength"])
    )


def filter_edges_by_nodes(
    edges: DataFrame, node_ids: DataFrame, types: list[str] | None = None
) -> DataFrame:
    """Distinct edges incident to any node in ``node_ids`` (a 1-column
    frame).

    The reference builds ``src in (...) OR dst in (...)`` strings from a
    Python list (RetweetTagsJaccardGraph.py:262-263,270-272) which caps
    the frontier at what fits in a SQL string. Here the same predicate
    takes ``node_ids`` as an IN-subquery: one pass over the edges with
    two existence joins (the id side broadcast when small), no cap.
    The ``distinct()`` makes repeated input rows come back once.
    """
    ids = node_ids.select(node_ids.columns[0])
    out = edges.where(F.col("src").isin(ids) | F.col("dst").isin(ids)).distinct()
    if types is not None:
        out = out.where(F.col("type").isin(types))
    return out


def k_hop_neighborhood(
    edges: DataFrame,
    seed_id: str,
    hops: int = 2,
    follow_dst_only: bool = True,
    exclude_types_from_hop: tuple[str, ...] = ("HT",),
) -> Graph:
    """Distributed k-hop neighborhood subgraph around ``seed_id``.

    Replaces the reference's extractNeighbours
    (RetweetTagsJaccardGraph.py:252-276), which collects hop-1 edges to
    the driver, loops in Python, and re-filters with a string IN-list —
    two jobs with a driver bottleneck proportional to the frontier.
    Here the frontier stays a DataFrame: each hop takes the ``dst`` of
    the edges whose ``src`` is IN the frontier (without
    ``follow_dst_only``, also the ``src`` of those whose ``dst`` is) —
    IN-subqueries, planned as semi-joins and broadcast when small — and
    a ``left_anti`` join drops the visited ids. The two directions stay
    two filters: one ``src IN f OR dst IN f`` plans as existence joins
    that re-run every earlier hop's jobs at three hops and more. The
    anti-join is kept over ``NOT IN`` because ``NOT IN`` is null-aware:
    one null frontier id would empty every later hop. The seed is a
    one-row JVM literal cast to the type of ``src``, so no Python list
    reaches ``createDataFrame`` and no Python worker starts.

    Reference quirks preserved behind flags (SURVEY.md §7.4):
    - ``follow_dst_only``: the reference's loop appends only row["dst"]
      (:267-268), never src, so expansion follows out-edges only;
    - ``exclude_types_from_hop``: hop expansion skips HT edges
      (``if row["type"] != "HT"`` :267), though HT edges incident to the
      frontier still appear in the final subgraph (:271-272).

    ``hops`` must be at least 1: the 1-hop subgraph is the edges
    incident to ``seed_id``.
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    seed = F.lit(seed_id).cast(edges.schema["src"].dataType).alias("id")
    frontier = edges.sparkSession.range(1, numPartitions=1).select(seed)
    visited = frontier
    hoppable = edges
    if exclude_types_from_hop:
        hoppable = edges.where(~F.col("type").isin(list(exclude_types_from_hop)))
    for _ in range(hops - 1):
        nxt = hoppable.where(F.col("src").isin(frontier)).select(F.col("dst").alias("id"))
        if not follow_dst_only:
            back = hoppable.where(F.col("dst").isin(frontier)).select(F.col("src").alias("id"))
            nxt = nxt.unionByName(back)
        # distinct and disjoint from ``visited`` (bar null ids, which
        # match nothing), so the union needs no distinct() of its own
        frontier = nxt.distinct().join(visited, "id", "left_anti")
        visited = visited.unionByName(frontier)
    sub_edges = filter_edges_by_nodes(edges, visited)
    return Graph(vertices_from_edges(sub_edges), sub_edges)


def pair_candidates(
    item_edges: DataFrame,
    min_shared: int = 2,
    src_col: str = "src",
    item_col: str = "dst",
    max_item_degree: int | None = None,
    carry: str | None = None,
    unique: bool = False,
) -> DataFrame:
    """Entity pairs sharing ≥ ``min_shared`` distinct items.

    Native rewrite of the reference's 4-way GraphFrames motif
    ``(c)-[e]->(a); (d)-[e1]->(a); (c)-[e2]->(b); (d)-[e3]->(b)`` with
    ``a.id > b.id AND c.id > d.id`` post-filters
    (RetweetTagsJaccardGraph.py:158-165): a self-equi-join on the shared
    item plus a count gate produces the identical candidate set with
    hash joins.

    Returns (id_a, id_b, shared) with id_a < id_b. ``carry`` names a
    column that is a function of the entity (e.g. its set size); it
    rides through the join and comes back as ``<carry>_a`` and
    ``<carry>_b``. ``unique=True`` says ``item_edges`` already has one
    row per (entity, item), and skips the ``distinct()`` that makes
    ``shared`` count distinct items.

    Scale note: a hub item with degree d contributes O(d²) pairs — the
    quadratic hazard the reference inherits too (SURVEY.md §7.4).
    ``max_item_degree`` drops items above a degree cap before pairing
    (standard practice: an item shared by everyone carries no similarity
    signal); AQE skew-join splitting handles the moderate skew below the
    cap.
    """
    cols = [F.col(src_col).alias("ent"), F.col(item_col).alias("item")]
    if carry is not None:
        cols.append(F.col(carry).alias("carry"))
    pairs_src = item_edges.select(*cols)
    if not unique:
        pairs_src = pairs_src.distinct()
    if max_item_degree is not None:
        keep = (
            pairs_src.groupBy("item")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") <= max_item_degree)
            .select("item")
        )
        pairs_src = pairs_src.join(keep, "item", "left_semi")
    nparts = shuffle_partition_count(pairs_src)
    a = pairs_src.repartition(nparts, "item").alias("a")
    b = pairs_src.repartition(nparts, "item").alias("b")
    keys = [F.col("a.ent").alias("id_a"), F.col("b.ent").alias("id_b")]
    if carry is not None:
        keys += [F.col("a.carry").alias(f"{carry}_a"), F.col("b.carry").alias(f"{carry}_b")]
    return (
        # both sides are the full (entity, item) edge table: broadcast
        # would ship the corpus to every executor (and the driver) —
        # shuffle-hash on the item key is right at every scale, and the
        # identical shuffles collapse via ReusedExchange (tradeoff vs
        # MERGE under heap pressure: see operators/dedup.py docstring).
        # The explicit repartition-by-number is the AQE-coalescing guard
        # (see skew.shuffle_partition_count): without it a few MB of
        # shuffle input collapse the quadratic pair fan-out to one task.
        a.hint("SHUFFLE_HASH")
        .join(
            b.hint("SHUFFLE_HASH"),
            (F.col("a.item") == F.col("b.item")) & (F.col("a.ent") < F.col("b.ent")),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
