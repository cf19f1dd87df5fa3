"""Batch sources (SURVEY.md §2.1 S1-S5, S10-S11).

Parquet is the analytical storage layer (S11): columnar scan with predicate
pushdown + column pruning, which Catalyst applies as long as we express
filters/projections declaratively (verified by plan-shape tests).

The hourly-CSV batch source (S1) and JSONL stream-landing source (S2/S3)
mirror the reference's layouts: one CSV per hour under ``YYYY/MM/DD/HH.csv``
with header (reference: log-generator/generator.py:227-245) and JSON lines
with sorted keys (generator.py:158). CSV and JSONL reads take the declared
schemas. An input parquet table's schema is inferred once per file
version (``table_schema``) and then passed explicitly to every read — the
Glue-catalog analogue of the reference, where the crawler stores the schema
once and every Athena query reads with it (glue_cf_template.json:82-103).
The other inference is the crawler analogue (S10) feeding schema-drift
logging.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import schemas

# Tables whose parquet footer stores INT64 TIMESTAMP(NANOS,...), which Spark's
# parquet reader rejects. We read nanos as long (legacy conf, set in
# session.configure_runtime and table_schema) and rebuild a microsecond
# timestamp. Integer `div` keeps full precision — float division loses it
# above 2^53 ns.
_NANOS_TS_TABLES = {"events": ["ts"]}


def sf_suffix(sf_dir: str) -> str:
    """Identifier-safe session-scoping suffix derived from the fixture
    dir — THE one definition of the convention (ADVICE r9: every
    session-scoped mutable name — temp views, session variables,
    catalog tables — is sf-suffixed so concurrent scales in one shared
    SparkSession cannot cross-bind). Consumers:
    join_bucketed_colocated, sql_execute_immediate, engine_cost_whatif,
    and their tests."""
    return (
        os.path.basename(os.path.normpath(sf_dir)).replace(".", "_").replace("-", "_")
    )


# path -> ((st_mtime_ns, st_ino), inferred StructType). The version check
# re-infers a file rewritten in place and a directory Spark overwrote (new
# mtime or inode); one entry per path keeps the dict bounded. The stat comes
# before the inference, so a rewrite racing it (or a racing thread storing
# an older entry) only costs one more inference on the next call.
_SCHEMAS: dict[str, tuple[tuple[int, int], T.StructType]] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The parquet schema of table ``name``: inferred by Spark on the first
    read of each file version (a one-task footer job), then served from this
    process's memory, so a query's reads plan without a job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet timestamps read as TIMESTAMP (LTZ) under the pinned-UTC
    # session — see session.configure_runtime for the full rationale.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    version = (st.st_mtime_ns, st.st_ino)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != version:
        hit = _SCHEMAS[path] = (version, spark.read.parquet(path).schema)
    return hit[1]


def rebuild_nanos_ts(df: DataFrame, name: str, schema: T.StructType) -> DataFrame:
    """Turn the nanos-as-long columns of table ``name`` (its stored
    ``schema`` says bigint) back into microsecond timestamps."""
    types = {f.name: f.dataType for f in schema}
    for c in _NANOS_TS_TABLES.get(name, []):
        if isinstance(types.get(c), T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one input parquet table with its stored schema."""
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return rebuild_nanos_ts(df, name, schema)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    names = names or list(schemas.TESTDATA_SCHEMAS)
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register every testdata table as a temp view (the Athena-surface
    analogue, SURVEY.md §3.3): ``spark.sql`` over these views goes through
    the same Catalyst pipeline as the DataFrame API."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_hourly_csv(
    spark: SparkSession,
    root: str,
    schema,
    null_sentinel: str = "NULL",
) -> DataFrame:
    """S1 — hourly batch CSV scan over ``root/YYYY/MM/DD/HH.csv`` (reference:
    log-generator/generator.py:241-245). Recursive lookup + regex-extracted
    partition columns (year/month/day/hour) from the file path, so hour-range
    predicates prune at the file level; the "NULL" device_id sentinel
    (generator.py:75) maps to SQL NULL at read (P4)."""
    df = (
        spark.read.option("header", True)
        .option("nullValue", null_sentinel)
        .option("recursiveFileLookup", True)
        .schema(schema)
        .csv(root)
        .withColumn("_path", F.input_file_name())
    )
    pat = r".*/(\d{4})/(\d{2})/(\d{2})/(\d{2})\.csv$"
    return (
        df.withColumn("year", F.regexp_extract("_path", pat, 1).cast("int"))
        .withColumn("month", F.regexp_extract("_path", pat, 2).cast("int"))
        .withColumn("day", F.regexp_extract("_path", pat, 3).cast("int"))
        .withColumn("hour", F.regexp_extract("_path", pat, 4).cast("int"))
        .drop("_path")
    )


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """S2 (batch flavor) / S3 — JSON-lines scan with an explicit schema
    (stream records are JSON lines with sorted keys; reference:
    log-generator/generator.py:158)."""
    return spark.read.schema(schema).json(path)


def infer_and_check(spark: SparkSession, path: str, declared) -> list[str]:
    """S10 — the Glue-crawler analogue (reference:
    cloudformation/glue_cf_template.json:82-103, run_flow.py:147-160):
    infer the landed JSON's schema and return drift vs. the declared
    contract (LOG policy — caller logs, never fails)."""
    inferred = spark.read.json(path).schema
    return schemas.check_drift(declared, inferred)


def read_jsonl_tolerant(spark: SparkSession, path: str, schema) -> DataFrame:
    """S2 with production failure semantics: PERMISSIVE parse where a
    malformed line lands whole in `_corrupt_record` (and its typed columns
    null) instead of failing the job — the ingest-side quarantine every
    at-scale landing zone needs. Split downstream with
    `filter(col("_corrupt_record").isNull())` / `.isNotNull()`. Spark
    disallows queries that reference ONLY the corrupt column straight off
    the raw scan — `.cache()` (or persist to the silver layer first) before
    corrupt-only filters."""
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
