"""Relational operator queries (SURVEY.md §2.2-2.7).

Covers: projections/filters (P1-P7), joins inner/left/semi/anti/broadcast
(J1-J5, J7), hash aggregation (A1-A2), distinct (A6), count-distinct (A8),
cube/rollup (A7), set ops (U1-U3), scalar string/date/case/JSON functions
(F1-F11), explode (F7), and deterministic top-k.

Scale notes baked into the plans:
- dimension joins (region/nation/customer at TPC-H ratios) are broadcast
  explicitly; fact-fact joins shuffle on their keys and rely on AQE for
  skew splitting;
- aggregates are expressed groupBy→agg so Catalyst plans partial (map-side)
  aggregation before the shuffle;
- every LIMIT is preceded by a total order (value + key tiebreak) so the
  selected set is deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.queries.registry import query
from tvbigdataproject_spark.queries._stable import (
    sql_stable_avg,
    sql_stable_sum,
    stable_avg,
    stable_sum,
)
from tvbigdataproject_spark.schemas import EVENT_PROPS_SCHEMA
from tvbigdataproject_spark.sources import read_table


# --- A1/A2: hash aggregation with partial aggregates ----------------------

@query(
    "pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_stable_sum('l_quantity', 2)}                            AS sum_qty,
           {sql_stable_sum('l_extendedprice', 2)}                       AS sum_base_price,
           {sql_stable_sum('l_extendedprice * (1 - l_discount)', 4)}    AS sum_disc_price,
           {sql_stable_avg('l_quantity', 2)}                            AS avg_qty,
           {sql_stable_avg('l_extendedprice', 2)}                       AS avg_price,
           COUNT(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch-q1"),
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the flagship hash aggregate.

    Filter reaches the parquet scan (timestamp pushdown); two-key groupBy
    plans partial+final hash agg; all arithmetic stays in codegen.
    Double-valued measures aggregate via stable_sum (scaled-integer sums)
    so results are independent of partial-aggregation order.
    """
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_sum(F.col("l_quantity"), 2).alias("sum_qty"),
            stable_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            stable_sum(disc_price, 4).alias("sum_disc_price"),
            stable_avg(F.col("l_quantity"), 2).alias("avg_qty"),
            stable_avg(F.col("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_count",
    sql="SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    tags=("agg",),
)
def agg_count(spark, sf_dir):
    """Plain groupBy count (reference A1: RetweetTagsJaccardGraph.py:64-65)."""
    return read_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "agg_stats_per_part",
    sql=f"""
    SELECT l_partkey,
           COUNT(*)                                         AS n_items,
           {sql_stable_avg('l_extendedprice', 2)}           AS avg_price,
           MIN(l_extendedprice)                             AS min_price,
           MAX(l_extendedprice)                             AS max_price,
           {sql_stable_sum('l_quantity', 2)}                AS sum_qty
    FROM lineitem GROUP BY l_partkey
    """,
    tags=("agg",),
)
def agg_stats_per_part(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            stable_avg(F.col("l_extendedprice"), 2).alias("avg_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            stable_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "distinct_segments",
    sql="SELECT DISTINCT c_mktsegment FROM customer",
    tags=("distinct",),
)
def distinct_segments(spark, sf_dir):
    """DISTINCT (reference A6: .distinct() on unions,
    RetweetTagsJaccardGraph.py:39,44-45)."""
    return read_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "count_distinct_suppliers",
    sql="""
    SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem GROUP BY l_partkey
    """,
    tags=("agg",),
)
def count_distinct_suppliers(spark, sf_dir):
    """Exact distinct aggregation (A8). The approx variant
    (approx_count_distinct) is the 100 TB default but has no exact oracle."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


# --- J1-J5, J7: joins ------------------------------------------------------

@query(
    "join_inner_agg",
    sql=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_stable_sum('o_totalprice', 2)} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "agg"),
)
def join_inner_agg(spark, sf_dir):
    """Inner equi-join fact→dim (J1/J2). Customer is smaller than orders
    but still linear in SF, so no hard broadcast hint — at 100 TB a
    forced broadcast of customer is a driver OOM. The size-based planner
    / AQE broadcasts it whenever it actually fits (it does at test SFs),
    and degrades to a shuffle join when it doesn't."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            stable_sum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "join_left_count",
    sql="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("join",),
)
def join_left_count(spark, sf_dir):
    """Left outer join keeping customers with no orders (J3/J4 —
    reference: RetweetTagsJaccardGraph.py:207-208,217-218)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    tags=("join",),
)
def join_semi(spark, sf_dir):
    """Left-semi join (J7) — the existence-check primitive dedup pipelines
    use to subtract an already-seen corpus without materializing the join."""
    customer = read_table(spark, sf_dir, "customer")
    big_orders = read_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_anti(spark, sf_dir):
    """Left-anti join (J7): customers that never ordered."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_broadcast_dims",
    sql="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    tags=("join",),
)
def join_broadcast_dims(spark, sf_dir):
    """Dim-dim broadcast join — zero shuffle."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "top_orders_by_revenue",
    sql=f"""
    SELECT o_orderkey,
           {sql_stable_sum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           ANY_VALUE(o_orderdate) AS o_orderdate
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk"),
)
def top_orders_by_revenue(spark, sf_dir):
    """TPC-H Q3-style fact-fact join + agg + deterministic top-k.

    orders⋈lineitem is the genuine shuffle join of the suite (both sides
    fact-sized at 100 TB); AQE picks the strategy and splits skew. The
    LIMIT is safe because the order is total (revenue, then key).
    """
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.any_value(F.col("o_orderdate")).alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
    )


# --- A7: cube / rollup -----------------------------------------------------

@query(
    "agg_cube",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_stable_sum('l_quantity', 2)} AS sum_qty, COUNT(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(stable_sum(F.col("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "agg_rollup",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_stable_sum('l_extendedprice', 2)} AS sum_price
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_rollup(spark, sf_dir):
    return (
        read_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(stable_sum(F.col("l_extendedprice"), 2).alias("sum_price"))
    )


# --- U1-U3: set operations -------------------------------------------------

@query(
    "set_union_distinct",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_union_distinct(spark, sf_dir):
    """UNION + distinct (U2 — reference: union().distinct() at
    RetweetTagsJaccardGraph.py:39,70). unionByName kills the positional
    coercion hazard of SURVEY.md §1.4.3."""
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "set_intersect",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_intersect(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_except(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract = EXCEPT DISTINCT (set semantics; exceptAll is the bag variant)
    return c.subtract(s)


# --- F1-F11: scalar functions ---------------------------------------------

@query(
    "string_funcs",
    sql="""
    SELECT p_partkey,
           UPPER(p_name)                  AS name_upper,
           LENGTH(p_name)                 AS name_len,
           SUBSTR(p_type, 1, 4)           AS type_prefix,
           CONCAT(p_brand, '/', p_type)   AS brand_type
    FROM part
    """,
    tags=("scalar",),
)
def string_funcs(spark, sf_dir):
    """String scalar surface (F1-F4 class) — all codegen'd."""
    return read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "date_funcs",
    sql=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER)  AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           COUNT(*)                                         AS n_orders,
           {sql_stable_sum('o_totalprice', 2)}              AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    """,
    tags=("scalar", "agg"),
)
def date_funcs(spark, sf_dir):
    """Date/time scalar surface (F11) + time-bucketed aggregation."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            stable_sum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "case_when_buckets",
    sql="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 250000 THEN 'mid'
                ELSE 'high' END AS price_band,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
    tags=("scalar",),
)
def case_when_buckets(spark, sf_dir):
    """Conditional expression (P5 — reference: when/otherwise at
    bigdata/__init__.py:87-90)."""
    band = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 250000, "mid")
        .otherwise("high")
    )
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(band.alias("price_band"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "json_props",
    sql="""
    SELECT event_type,
           AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "json"),
)
def json_props(spark, sf_dir):
    """JSON scalar functions (F11) over events.props using from_json with
    an explicit schema (get_json_object re-parses per extraction; a typed
    from_json parses once and prunes)."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", EVENT_PROPS_SCHEMA).getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.avg("k").alias("avg_k"), F.max("k").alias("max_k")
    )


@query(
    "explode_words",
    sql="""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT UNNEST(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    """,
    tags=("generator",),
)
def explode_words(spark, sf_dir):
    """explode (F7 — reference: RetweetTagsJaccardGraph.py:119)."""
    return (
        read_table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "range_join_bands",
    sql=f"""
    WITH bands(band, lo, hi) AS (VALUES
        ('budget', 0.0, 500.0), ('standard', 500.0, 1200.0), ('premium', 1200.0, 100000.0))
    SELECT band, COUNT(*) AS n_parts, {sql_stable_avg('p_retailprice', 2)} AS avg_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    tags=("join", "range"),
)
def range_join_bands(spark, sf_dir):
    """Range (theta) join against a tiny bands dim (J8). The small side is
    broadcast so the inequality join is a broadcast nested-loop over 3
    rows — the only sane physical shape for non-equi conditions."""
    part = read_table(spark, sf_dir, "part")
    # a JVM literal table (createDataFrame would start Python workers)
    bands = spark.sql(
        """SELECT * FROM VALUES
            ('budget', 0.0D, 500.0D), ('standard', 500.0D, 1200.0D), ('premium', 1200.0D, 100000.0D)
        AS bands(band, lo, hi)"""
    )
    joined = part.join(
        F.broadcast(bands),
        (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_parts"),
        stable_avg(F.col("p_retailprice"), 2).alias("avg_price"),
    )


@query(
    "filter_pushdown_project",
    sql="""
    SELECT l_orderkey, l_partkey, l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity > 30
    """,
    tags=("filter",),
)
def filter_pushdown_project(spark, sf_dir):
    """Filter + narrow projection (P1/P2/P6): predicate and 5-column read
    schema both reach the parquet scan — verified via explain() in tests."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 30))
        .select(
            "l_orderkey",
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )
