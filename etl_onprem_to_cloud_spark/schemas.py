"""Declared schemas for every table the engine touches.

The reference infers schemas twice (Spark ``inferSchema=True`` at
etl/transform.py:22, then the Glue crawler re-infers over S3,
README.md:145-182).  At 100 TB an inference scan is a full extra pass
over the data and a correctness hazard; the engine declares schemas once
here and every reader uses them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _st(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# --- Reference input: netflix_titles.csv (12 string columns; the
# reference reads them via inferSchema, SURVEY.md FIXTURES.md section A).
NETFLIX_TITLES = _st(
    ("show_id", StringType()),
    ("type", StringType()),
    ("title", StringType()),
    ("director", StringType()),
    ("cast", StringType()),
    ("country", StringType()),
    ("date_added", StringType()),
    ("release_year", StringType()),
    ("rating", StringType()),
    ("duration", StringType()),
    ("listed_in", StringType()),
    ("description", StringType()),
)

# --- Reference output: the 8-column cleaned table
# (reference etl/transform.py:188-197).
NETFLIX_CLEAN = _st(
    ("show_id", StringType()),
    ("title", StringType()),
    ("country", StringType()),
    ("release_year", IntegerType()),
    ("rating", StringType()),
    ("rating_meaning", StringType()),
    ("main_genre", StringType()),
    ("genre_group", StringType()),
)

# --- Driver fixture tables (TESTDATA.md), read by sources.load_table.
# Every timestamp is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false),
# which Spark reads as TIMESTAMP_NTZ.
REGION = _st(("r_regionkey", IntegerType()), ("r_name", StringType()))
NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)
CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)
SUPPLIER = _st(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)
PART = _st(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)
ORDERS = _st(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampNTZType()),
    ("o_orderpriority", StringType()),
)
LINEITEM = _st(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampNTZType()),
)
EVENTS = _st(
    ("event_id", LongType()),
    ("ts", TimestampNTZType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),  # JSON string {"k": int}
)
DOCUMENTS = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)
EMBEDDINGS = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),
    ("label", IntegerType()),
)

FIXTURE_TABLES: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
