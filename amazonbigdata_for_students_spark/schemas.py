"""Explicit StructTypes — the schema contract for every table the engine reads.

Two families:
  * TESTDATA_SCHEMAS — the driver-generated TPC-H-ish star schema +
    events/documents/embeddings (TESTDATA.md / FIXTURES.md §B): the table
    names and the declared contract. Parquet reads of these tables take
    the schema Spark inferred from the file itself — inferred once per
    file version, then passed explicitly (sources.readers.table_schema).
  * Reference-domain schemas — transcribed from the reference workload
    generator (reference: log-generator/generator.py:167-193 for view/review
    events, :71-84 for users/items); used by the fixture generator and the
    bot-detection / popularity / spam pipelines.

Schema-drift policy mirrors the reference's Glue-crawler LOG policy
(reference: cloudformation/glue_cf_template.json:90-93): `check_drift`
compares an inferred schema against the declared contract and reports —
it never fails the pipeline.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- driver-generated testdata (TESTDATA.md) --------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
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
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

# events.parquet stores ts as INT64 TIMESTAMP(NANOS); the loader converts the
# nanos long to a microsecond TimestampType column (see sources.readers).
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# The first five events columns as the JSON and CSV landing fixtures write
# them: ts is its ISO text, parsed back after the read.
EVENTS_TEXT_TS = T.StructType(
    [T.StructField("ts", T.StringType()) if f.name == "ts" else f for f in EVENTS.fields[:5]]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
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

# --- reference-domain schemas (FIXTURES.md §A) ------------------------------

# Raw view event exactly as emitted (reference: log-generator/generator.py:167-175):
# all strings at ingest; "NULL" sentinel for device_id (generator.py:75).
VIEW_EVENT_RAW = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("device_type", T.StringType()),
        T.StructField("device_id", T.StringType()),
        T.StructField("user_ip", T.StringType()),
    ]
)

# Review event = view event + title/text/stars (generator.py:178-193).
REVIEW_EVENT_RAW = T.StructType(
    VIEW_EVENT_RAW.fields
    + [
        T.StructField("review_title", T.StringType()),
        T.StructField("review_text", T.StringType()),
        T.StructField("review_stars", T.IntegerType()),
    ]
)

# Silver (typed) view event after ingestion normalization (SURVEY.md §1.4).
VIEW_EVENT = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("device_type", T.StringType()),
        T.StructField("device_id", T.StringType()),  # nullable, sentinel mapped
        T.StructField("user_ip", T.StringType()),
    ]
)

ITEMS = T.StructType(  # generator.py:80-84,110-114
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("category", T.IntegerType()),
    ]
)

SUSPICIOUS_IPS = T.StructType(  # FIXTURES.md §A5; diagram comp. 5 (KV+TTL)
    [
        T.StructField("user_ip", T.StringType()),
        T.StructField("detected_at", T.TimestampType()),
        T.StructField("expires_at", T.TimestampType()),
        T.StructField("reason", T.StringType()),
    ]
)


def check_drift(declared: T.StructType, inferred: T.StructType) -> list[str]:
    """Glue-crawler-style drift detection with LOG policy (reference:
    cloudformation/glue_cf_template.json:82-103): return human-readable
    diffs between the declared contract and an inferred schema; callers log
    them — schema drift never fails ingestion."""
    issues: list[str] = []
    dec = {f.name: f.dataType.simpleString() for f in declared.fields}
    inf = {f.name: f.dataType.simpleString() for f in inferred.fields}
    for name in dec.keys() - inf.keys():
        issues.append(f"missing column: {name} ({dec[name]})")
    for name in inf.keys() - dec.keys():
        issues.append(f"new column: {name} ({inf[name]})")
    for name in dec.keys() & inf.keys():
        if dec[name] != inf[name]:
            issues.append(f"type drift: {name} {dec[name]} -> {inf[name]}")
    return issues
