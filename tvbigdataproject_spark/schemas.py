"""Explicit schemas for every source the engine reads.

The reference infers its tweet schema on every read (reference:
RetweetTagsJaccardGraph.py:33, bigdata/__init__.py:85) — an eager full
scan of the input *and* a correctness hazard (field types drift with the
sample). At 100 TB an inference pass is a non-starter, so every
production read here binds one of these StructTypes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Tweet schema — reconstructed from the reference's field accesses
# (reference: RetweetTagsJaccardGraph.py:61-63,92-95,106-108;
#  bigdata/__init__.py:87-90). Only fields the pipelines touch.
# ---------------------------------------------------------------------------

_HASHTAG_ENTITY = T.StructType([T.StructField("text", T.StringType())])

_RETWEETED_STATUS = T.StructType(
    [
        T.StructField("user", T.StructType([T.StructField("id", T.LongType())])),
        T.StructField("text", T.StringType()),
        T.StructField("hashtagEntities", T.ArrayType(_HASHTAG_ENTITY)),
        T.StructField("hashtagEntitiesArray", T.ArrayType(T.StringType())),
    ]
)

TWEET_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StructType([T.StructField("id", T.LongType())])),
        T.StructField("text", T.StringType()),
        T.StructField("hashtagEntities", T.ArrayType(_HASHTAG_ENTITY)),
        T.StructField("hashtagEntitiesArray", T.ArrayType(T.StringType())),
        T.StructField("retweeted_status", _RETWEETED_STATUS),
    ]
)

# ---------------------------------------------------------------------------
# TESTDATA star schema (TESTDATA.md / FIXTURES.md §B) — parquet embeds its
# schema so no inference happens, but binding these keeps reads honest and
# documents the surface for planners.
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            # the testdata parquet stores wall-clock timestamps (NTZ micros)
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    # events.ts has shipped as parquet TIMESTAMP(NANOS) and
    # TIMESTAMP(MICROS) across testdata generations; either way it is
    # read as a raw long (NANOS requires
    # spark.sql.legacy.parquet.nanosAsLong=true) and converted to
    # TIMESTAMP_NTZ micros in sources.io.read_table, which sniffs the
    # file's actual unit from the footer.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# events.props is a JSON object; its parsed shape.
EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])
