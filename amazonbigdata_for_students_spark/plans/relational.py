"""Relational core — SURVEY.md §2.2-2.4, §2.6-2.8 operators as named queries.

Every query here is a (PySpark builder, DuckDB oracle SQL) pair registered
in the registry. The Spark side is written the way we'd run it at 100 TB:
declarative plans (pushdown/pruning reach the parquet scan), explicit
broadcasts for dimension joins, decimal-routed sums for deterministic
distributed aggregation, no collect().

Reference parity notes (what each operator corresponds to in the surveyed
reference) are in each docstring as SURVEY.md §2 ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..sources.readers import load_table, register_views
from .registry import davg, dsum, dsum2, query

# DuckDB twin of the events table: parquet stores ns timestamps which Spark
# truncates to micros — truncate the oracle identically.
EVENTS = "(SELECT * REPLACE (CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts) FROM events)"


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (P2 + A3 + A7 + O1)
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 2) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("P2", "A3", "A7", "O1", "S11"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→hash-aggregate. The shipdate filter and the
    9-column projection both push to the parquet scan; the aggregate runs
    partial→final (map-side combine) so the shuffle carries one row per
    (flag, status) per partition — the shape that survives 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum2("l_extendedprice").alias("sum_base_price"),
            dsum2(disc_price).alias("sum_disc_price"),
            dsum2(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            (dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (dsum2("l_extendedprice") / F.count("*")).alias("avg_price"),
            (dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# §2.2 Projection / filter / predicates
# --------------------------------------------------------------------------
@query(
    "projection_rename",
    oracle="""
    SELECT o_orderkey AS order_key,
           o_totalprice AS total_price,
           date_trunc('day', o_orderdate) AS order_date
    FROM orders
    """,
    tags=("P1",),
)
def projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — column projection + rename; ReadSchema on the scan must list
    only the three referenced columns (plan-shape-tested)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
        F.date_trunc("day", F.col("o_orderdate")).alias("order_date"),
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_quantity BETWEEN 10 AND 20
      AND l_linestatus IN ('F', 'O')
      AND NOT (l_discount > 0.05)
    """,
    tags=("P2",),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — compound predicate (equality, range, IN, negation); all four
    conjuncts reach PushedFilters on the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & F.col("l_quantity").between(10, 20)
        & F.col("l_linestatus").isin("F", "O")
        & ~(F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query(
    "null_normalization",
    oracle=f"""
    SELECT event_id,
           nullif(event_type, 'error') AS event_type_clean,
           coalesce(nullif(event_type, 'error'), 'unknown') AS event_type_filled,
           (nullif(event_type, 'error') IS NULL) AS was_sentinel
    FROM {EVENTS} e
    """,
    tags=("P4", "F5"),
)
def null_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/F5 — sentinel→NULL normalization, the ingestion rule for the
    reference's literal "NULL" device_id (reference:
    log-generator/generator.py:75): nullif + coalesce + null predicate."""
    ev = load_table(spark, sf_dir, "events")
    clean = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        clean.alias("event_type_clean"),
        F.coalesce(clean, F.lit("unknown")).alias("event_type_filled"),
        clean.isNull().alias("was_sentinel"),
    )


@query(
    "derived_time_columns",
    oracle=f"""
    SELECT event_id,
           year(ts) AS y, month(ts) AS mo, day(ts) AS d, hour(ts) AS h, minute(ts) AS mi,
           date_trunc('hour', ts) AS ts_hour,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
    FROM {EVENTS} e
    """,
    tags=("P5", "F1"),
)
def derived_time_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F1 — event-time decomposition: the reference partitions hourly by
    path YYYY/MM/DD/HH (reference: log-generator/generator.py:244); these
    derived columns are that layout as expressions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.date_trunc("hour", F.col("ts")).alias("ts_hour"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )


@query(
    "conditional_case",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           CASE c_mktsegment WHEN 'BUILDING' THEN 1 ELSE 0 END AS is_building
    FROM customer
    """,
    tags=("F5",),
)
def conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — searched + simple CASE (device_type-style branching,
    SURVEY.md §2.2 P5)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("is_building"),
    )


@query(
    "casting",
    oracle="""
    SELECT c_custkey,
           CAST(c_custkey AS VARCHAR) AS key_str,
           CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
           CAST(c_nationkey AS DOUBLE) AS nation_d,
           (c_acctbal > 0) AS has_credit
    FROM customer
    """,
    tags=("F6",),
)
def casting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — cast family (ids-as-strings → ints and back, SURVEY.md §1.4).
    double→int goes through floor() because bare CAST truncates in Spark
    but rounds in DuckDB."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("key_str"),
        F.floor("c_acctbal").cast("long").alias("bal_floor"),
        F.col("c_nationkey").cast("double").alias("nation_d"),
        (F.col("c_acctbal") > 0).alias("has_credit"),
    )


@query(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           length(p_name) AS name_len,
           substring(p_type, 1, 5) AS type_prefix,
           concat_ws('|', p_brand, p_type) AS brand_type,
           trim(p_name) AS name_trim,
           split_part(p_type, ' ', 1) AS type_first,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           replace(p_brand, '#', '-') AS brand_dash,
           contains(p_type, 'BRASS') AS is_brass
    FROM part
    """,
    tags=("F2",),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — string family: lower/upper/length/substring/concat/trim/split/
    regexp_extract/replace/contains (review-text manipulation surface,
    reference: log-generator/generator.py:181-183)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.split("p_type", " ").getItem(0).alias("type_first"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dash"),
        F.contains(F.col("p_type"), F.lit("BRASS")).alias("is_brass"),
    )


@query(
    "json_functions",
    oracle=f"""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL) AS has_k
    FROM {EVENTS} e
    """,
    tags=("F3",),
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — JSON field extraction from the props string column (the
    reference's event lines are JSON, reference: log-generator/
    generator.py:158)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("prop_k"), k.isNotNull().alias("has_k"))


@query(
    "hash_functions",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256
    FROM customer
    """,
    tags=("F8",),
)
def hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — stable record keys for dedup (E3): md5 + sha2-256 hex digests."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
    )


@query(
    "math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)), 2) AS DOUBLE) AS disc_amount,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_quantity / 10) AS BIGINT) AS qty_decile,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(l_orderkey % 7 AS BIGINT) AS bucket7,
           round(power(l_quantity, 2), 6) AS qty_sq,
           round(sqrt(l_extendedprice), 6) AS price_sqrt
    FROM lineitem
    """,
    tags=("F4",),
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — arithmetic/rounding family used by rate-threshold math
    (SURVEY.md §2.8)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round(double, 2) is engine-dependent at half boundaries (Spark
        # rounds the shortest decimal repr, DuckDB the exact binary value);
        # decimal(38,6) first makes the midpoint handling identical.
        F.round((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(38,6)"), 2)
        .cast("double")
        .alias("disc_amount"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 10).alias("qty_decile"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_orderkey") % 7).cast("long").alias("bucket7"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
    )


# --------------------------------------------------------------------------
# §2.3 Joins
# --------------------------------------------------------------------------
@query(
    "join_broadcast_enrich",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS segment_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("J1", "A3"),
    bench=True,
)
def join_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact×dim enrichment (the items-table join, reference diagram
    comp. 8). No forced broadcast hint: customer grows linearly with SF, so
    a hard `F.broadcast` would OOM the driver at 100×. AQE converts the
    shuffle join to a broadcast join at runtime whenever the projected
    2-column customer side actually fits (it does at bench SF); at scale
    the plan degrades gracefully to SMJ instead of failing."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("segment_revenue"),
        )
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    tags=("J2", "P3"),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P3 — anti-membership: the IP-filter semantics (drop records whose
    key is in the suspicious set; reference diagram comp. 3). Anti joins
    only need the exclusion KEYS, so project + distinct the right side
    first (orders is a fact table — forcing a broadcast of it would OOM at
    scale); AQE demotes the shuffle to a broadcast at runtime whenever the
    distinct key set actually is dimension-sized."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_left_semi",
    oracle="""
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    """,
    tags=("J3",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — membership (EXISTS): only parts that ever shipped."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


@query(
    "join_outer_left",
    oracle="""
    SELECT n_name,
           count(c_custkey) AS n_customers,
           CAST(coalesce(sum(CAST(c_acctbal AS DECIMAL(38,6))), 0) AS DOUBLE) AS total_balance
    FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
    tags=("J6",),
)
def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — left outer: nations with zero customers still appear (items with
    zero views per hour, SURVEY.md §2.3)."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left_outer")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.coalesce(dsum("c_acctbal"), F.lit(0.0)).alias("total_balance"),
        )
    )


@query(
    "join_outer_full",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(cn.k, sn.k) AS nationkey,
           coalesce(n_cust, 0) AS n_customers,
           coalesce(n_supp, 0) AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    """,
    tags=("J6",),
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — full outer over pre-aggregated sides (aggregate-before-join:
    shuffles the small aggregates, not the facts)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("k")).agg(F.count("*").alias("n_cust"))
    sn = s.groupBy(F.col("s_nationkey").alias("k")).agg(F.count("*").alias("n_supp"))
    return cn.join(sn, "k", "full_outer").select(
        F.col("k").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_large_facts",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    tags=("J7", "A3"),
    bench=True,
)
def join_large_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — large×large equi-join (views×reviews scale shape). Both sides
    shuffle on l_orderkey/o_orderkey; AQE handles skew splitting. The
    o_orderstatus filter pushes below the join into the orders scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_lines"), dsum2(disc_price).alias("revenue"))
    )


@query(
    "join_range",
    oracle="""
    SELECT o_orderkey,
           count(*) AS n_shipped_90d
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderkey
    """,
    tags=("J8",),
    bench=True,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — range/theta join bounded by an equi-key: the equi conjunct keeps
    it a hash join (the range predicate is a post-join filter), never a
    nested-loop. This is the registered STRESS variant (measured 2.8x growth
    at 10x from the 90-day residual fan-out); the default at scale is the
    bucketed rewrite — see ``bucketize_interval_join`` and the
    ``join_interval_buckets`` demonstration, per the PLANS.md range-join
    policy."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < F.expr("o_orderdate + INTERVAL 90 DAYS"))
    )
    return li.join(o, cond).groupBy("o_orderkey").agg(F.count("*").alias("n_shipped_90d"))


def bucketize_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_us: Column,
    start_col: str = "s_us",
    end_col: str = "e_us",
    bucket_us: int = 86_400_000_000,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """The range-join policy helper (PLANS.md): rewrite `point BETWEEN
    start AND end` — which Spark can only execute as a nested-loop join —
    into an equi join on a derived fixed-width bucket plus the exact range
    predicate as a residual filter.

    Each interval is exploded into the integer buckets it covers
    (``[start div w .. (end-1) div w]``), each point maps to exactly one
    bucket, and the equi join on the bucket makes the pairing hash-based:
    work is O(|points| + |intervals| x avg-buckets-per-interval) instead of
    O(|points| x |intervals|). All boundary math is integer microseconds so
    no float drift crosses a bucket edge. ``bucket_us`` should be on the
    order of the median interval width — too fine explodes the interval
    side, too coarse weakens the prefilter. With ``broadcast_intervals``
    (the common shape: bounded window/calendar table vs. a fact table) the
    fact side never shuffles.

    Returns points⋈intervals rows with the helper's ``_pt_us`` point-micros
    column retained and the join bucket dropped.
    """
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.expr(f"{start_col} div {bucket_us}"),
                F.expr(f"({end_col} - 1) div {bucket_us}"),
            )
        ),
    )
    if broadcast_intervals:
        iv = F.broadcast(iv)
    pts = points.withColumn("_pt_us", point_us).withColumn(
        "_bucket", F.expr(f"_pt_us div {bucket_us}")
    )
    return (
        pts.join(iv, "_bucket")
        .filter(
            (F.col("_pt_us") >= F.col(start_col)) & (F.col("_pt_us") < F.col(end_col))
        )
        .drop("_bucket")
    )


@query(
    "join_interval_buckets",
    oracle=f"""
    WITH b AS (
      SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) + 1 AS t1 FROM {EVENTS} e
    ),
    w AS (
      SELECT i AS window_id,
             t0 + (i * (t1 - t0)) // 8 AS s_us,
             t0 + ((i + 1) * (t1 - t0)) // 8 AS e_us
      FROM b, (SELECT unnest(range(0, 8)) AS i)
    )
    SELECT window_id,
           make_timestamp(s_us) AS w_start,
           make_timestamp(e_us) AS w_end,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM {EVENTS} e JOIN w
      ON epoch_us(e.ts) >= w.s_us AND epoch_us(e.ts) < w.e_us
    GROUP BY 1, 2, 3
    """,
    tags=("J8",),
)
def join_interval_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 at 100 TB — the interval join WITHOUT an equi key, done the scale
    way. join_range leans on its equi conjunct to stay a hash join; when the
    condition is purely `ts BETWEEN start AND end` Spark's only direct plan
    is a nested-loop join — O(|events| x |windows|). The scale shape instead
    derives an equi key: explode each interval into the day buckets it
    covers, equi-join events on their day bucket, then apply the exact range
    predicate as a residual filter. Work becomes O(|events| x avg
    buckets-per-event-window) with a broadcastable bucket table, and the
    fact side never shuffles (map-side broadcast join + one aggregate).
    All boundary math is integer micros (epoch_us both engines), so the
    eight data-derived windows hash-match the oracle exactly."""
    day_us = 86_400_000_000
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        (F.unix_micros(F.max("ts")) + F.lit(1)).alias("t1"),
    )
    w = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("window_id"), "t0", "t1"
        )
        .select(
            "window_id",
            # integer `div` end to end: epoch-micros products exceed double's
            # 53-bit mantissa, so float division here would drift boundaries
            F.expr("t0 + (window_id * (t1 - t0)) div 8").alias("s_us"),
            F.expr("t0 + ((window_id + 1) * (t1 - t0)) div 8").alias("e_us"),
        )
    )
    return (
        bucketize_interval_join(ev, w, F.unix_micros(F.col("ts")), bucket_us=day_us)
        .groupBy("window_id", "s_us", "e_us")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "window_id",
            F.timestamp_micros(F.col("s_us")).alias("w_start"),
            F.timestamp_micros(F.col("e_us")).alias("w_end"),
            "n_events",
            "n_users",
        )
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
    tags=("J10",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — tiny×tiny cross join (calendar×category scaffolds)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


# --------------------------------------------------------------------------
# §2.4 Aggregations
# --------------------------------------------------------------------------
@query(
    "agg_count_per_key",
    oracle=f"SELECT user_id, count(*) AS n_events FROM {EVENTS} e GROUP BY user_id",
    tags=("A1",),
)
def agg_count_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — events per key: the bot-detection core shape (reference:
    log-generator/generator.py:137-154 defines the rate gap it detects)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.count("*").alias("n_events"))


@query(
    "agg_rate_per_window",
    oracle=f"""
    SELECT user_id, date_trunc('hour', ts) AS win, count(*) AS n
    FROM {EVENTS} e
    GROUP BY user_id, date_trunc('hour', ts)
    HAVING count(*) >= 2
    """,
    tags=("A2",),
)
def agg_rate_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — rate per key per window with threshold (suspicious-IP batch job,
    reference diagram comp. 4): partial aggregation makes the shuffle carry
    (key, window) partial counts only."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("win"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )


@query(
    "agg_multi_metric",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(value) AS avg_value,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM {EVENTS} e
    GROUP BY event_type
    """,
    tags=("A3",),
)
def agg_multi_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — multi-metric aggregate (avg/min/max/sum stars per item,
    SURVEY.md §2.4)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        davg("value").alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "agg_count_distinct",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM {EVENTS} e
    GROUP BY event_type
    """,
    tags=("A4",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — exact distinct count (distinct devices per IP shape). Spark
    expands this to a two-stage aggregate; exact but shuffle-heavy — the
    approx twin below is the 100 TB path."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_approx_count_distinct",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           true AS within_bound
    FROM {EVENTS} e
    GROUP BY event_type
    """,
    tags=("A5",),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — approx distinct (HLL++): unique visitors at 100 TB where exact
    distinct would shuffle every key. rsd=1% keeps the sketch ~constant
    size per group regardless of cardinality. The HLL++ estimate itself is
    engine-specific, so the hash-checkable form emits the exact count plus
    a within_bound flag (|approx-exact| <= 5*rsd*exact) that the oracle
    asserts true — the exact arm exists only to make the estimate
    verifiable; the production query is the estimate alone."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01) - F.countDistinct("user_id")
            )
            <= 0.05 * F.countDistinct("user_id")
        ).alias("within_bound"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A6",),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — hierarchical rollup: (flag, status), (flag), () in one pass
    (popularity by item/category/all, reference diagram comp. 6)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(CAST(user_id % 10 AS BIGINT), -1) AS user_bucket,
           count(*) AS n
    FROM {EVENTS} e
    GROUP BY CUBE (event_type, CAST(user_id % 10 AS BIGINT))
    """,
    tags=("A6",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — full cube over two dimensions."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("user_bucket_raw", (F.col("user_id") % 10).cast("long"))
        .cube("event_type", "user_bucket_raw")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("user_bucket_raw", F.lit(-1)).alias("user_bucket"),
            "n",
        )
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT c_nationkey AS nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("A8",),
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — collect-set aggregation, sorted + joined for deterministic
    comparison (collection order is nondeterministic in any distributed
    engine)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A9",),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — exact interpolated percentiles (both engines use the (n-1)*p
    linear-interpolation definition). At 100 TB switch to approx_percentile —
    exact percentile materializes per-group sorted values."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 6).alias("p95_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50_price"),
    )


# --------------------------------------------------------------------------
# §2.6 Sorts / top-k; §2.7 set ops
# --------------------------------------------------------------------------
@query(
    "sort_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("O1", "O2"),
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — global top-k: Catalyst plans TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a full sort. Tiebreak on the key
    keeps it deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


@query(
    "set_union_by_name",
    oracle="""
    SELECT k AS nationkey, count(*) AS n_parties FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL
      SELECT s_nationkey AS k FROM supplier
    ) GROUP BY k
    """,
    tags=("E1",),
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — unionByName over aligned projections (stitching hourly files,
    reference layout log-generator/generator.py:244)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return (
        c.unionByName(s)
        .groupBy(F.col("k").alias("nationkey"))
        .agg(F.count("*").alias("n_parties"))
    )


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("E2",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — INTERSECT (distinct semantics in both engines)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT event_type FROM events
    EXCEPT
    SELECT * FROM (VALUES ('purchase'), ('signup')) AS t(event_type)
    """,
    tags=("E2",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — EXCEPT (distinct semantics): observed event types minus a known
    allowlist — the "IPs seen in views but never in reviews" shape."""
    ev = load_table(spark, sf_dir, "events").select("event_type")
    known = spark.createDataFrame([("purchase",), ("signup",)], ["event_type"])
    return ev.subtract(known)


@query(
    "dedup_exact_rows",
    oracle=f"SELECT DISTINCT user_id, event_type FROM {EVENTS} e",
    tags=("E3",),
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — exact dedup over a projection (at-least-once replay dedup,
    SURVEY.md §2.7): hash-aggregate with partial dedup before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS order_key,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o.o_orderdate AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, order_key
    LIMIT 10
    """,
    tags=("J1", "J7", "O2", "A3"),
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style 3-way join: segment-filtered customers (selective —
    broadcast side) x date-filtered orders x shipdate-filtered lineitem,
    aggregate revenue per order, top-10. All three filters push to their
    scans; the segment-filtered customer side is still ~1/5 of a linearly
    scaling table, so no forced broadcast — AQE picks BHJ when the runtime
    size allows; TakeOrderedAndProject caps the result without a global
    sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("order_key"), F.col("o_orderdate").alias("order_date"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("order_key", "revenue", "order_date")
        .orderBy(F.col("revenue").desc(), "order_key")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("J1", "J7", "A3", "A7"),
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 6-way join (the join-ordering stress test): two fact
    tables (orders, lineitem) shuffle-join on orderkey; nation/region are
    constant-size dims so they keep explicit broadcast hints, while
    customer and supplier scale linearly with SF — no forced hint, AQE
    demotes those shuffles to broadcasts at runtime when they fit. The
    customer-nation = supplier-nation conjunct rides the supplier join.
    Region filter prunes before any join touches facts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name AS customer, o.o_orderkey AS order_key,
           o.o_orderdate AS order_date,
           CAST(o.o_totalprice AS DOUBLE) AS total_price,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY total_price DESC, order_key
    LIMIT 20
    """,
    tags=("A1", "J3", "J7", "O2"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-style large-orders: an aggregate-derived key set (orders
    whose total quantity crosses the threshold — a HAVING on the fact
    table) semi-drives a join back through orders and customers. The big
    set is aggregate output, but its size is data-dependent (a HAVING
    result can be anything), and customer scales with SF — so neither gets
    a forced broadcast hint; AQE sees their runtime sizes and picks BHJ
    when safe (at bench SF the final plan is all-broadcast with exactly
    one exchange: the HAVING aggregate's partial shuffle — the main
    lineitem scan never shuffles). At sizes where AQE keeps SMJ instead,
    both lineitem branches shuffle on the same key and the exchange is
    reused."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_name").alias("customer"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("total_price").desc(), "order_key")
        .limit(20)
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS ship_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    tags=("J1", "J7", "F1", "A3"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style bi-nation trade volume: the two nation dimensions
    join twice under different roles (supplier vs customer side), and the
    symmetric OR country-pair predicate sits ABOVE both joins — Catalyst
    can't push it into either scan, so the filter placement (after the
    cheap dim joins, before the aggregate) is the plan that matters.
    Nation (constant 25 rows) keeps its broadcast hints; customer and
    supplier scale with SF, so AQE decides those at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("P2", "A3", "A7"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style forecast revenue: the pure scan-filter-aggregate
    probe — three conjunctive range predicates, no join, one global sum.
    Every predicate pushes to the parquet scan (min/max row-group pruning
    does most of the work at scale) and the aggregate is a single
    partial→final pair whose shuffle carries one row per partition. This
    is the query that measures raw scan bandwidth; any plan with more
    than one exchange here is wrong."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey AS cust_key, c.c_name AS cust_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, cust_key
    LIMIT 20
    """,
    tags=("J1", "J7", "A3", "O2"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style returned-item ranking: which customers returned the
    most revenue in a quarter. Quarter filter pushes to the orders scan,
    returnflag to lineitem; the fact-fact join shuffles on orderkey, the
    customer join on custkey, and constant-size nation keeps its broadcast
    hint (customer does not — it scales). TakeOrderedAndProject caps the
    top-20 without a global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("cust_key", "cust_name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "cust_key")
        .limit(20)
    )


@query(
    "q12_priority_lines",
    oracle="""
    SELECT l.l_returnflag AS return_flag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
             AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    tags=("J7", "A3", "F5"),
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-style conditional aggregation over a fact-fact join (the
    slimmed schema has no shipmode/commit-date columns, so order priority
    plays their role): count urgent/high-priority vs other lines per
    return flag. The CASE folds into the aggregate — one join shuffle on
    orderkey, one 3-group aggregate; the date filter pushes to the
    lineitem scan before the join touches orders."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(100.0
             * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE),
           6) AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    tags=("J1", "A3", "F5"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-style promo revenue share: the ratio of two decimal-exact
    sums over a month of lineitem joined to part. Part scales with SF, so
    no forced broadcast (AQE converts at runtime when it fits); the month
    filter pushes to the lineitem scan so the join input is ~1/80 of the
    table. Single-row output, ratio rounded to 6 so the double division
    can't diverge between engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * dsum(promo) / dsum(disc), 6).alias("promo_revenue_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE)
             AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("J7", "P2", "A3"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-style disjunctive predicate join: three (brand,
    size-range, quantity-range) branches OR-ed ABOVE the join — the
    optimizer stress case, because no single branch can push whole, yet
    Catalyst still derives the pushable residuals (brand/size union to the
    part scan, quantity union to lineitem) and evaluates the full
    disjunction once post-join. The join itself is a plain equi-join on
    partkey despite the theta-looking predicate — that separation is what
    keeps it scalable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branches = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#21") & size.between(10, 30) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(20, 50) & qty.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branches)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS supp_key, s.s_name AS supp_name,
           round(rev.total_revenue, 2) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.suppkey
    WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY supp_key
    """,
    tags=("A3", "J3", "O2"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-style top supplier: a derived revenue view consumed twice
    — once for its max (a 1-row aggregate-of-aggregate), once to select
    the supplier(s) achieving it. The view materializes as one shuffle on
    suppkey; its max broadcasts back as a 1-row join (never a global
    sort), and the supplier join is dimension-shaped. The revenue
    equality is safe cross-engine because both sides route the sum
    through exact decimal before the double cast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("suppkey") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            F.round("total_revenue", 2).alias("total_revenue"),
        )
        .orderBy("supp_key")
    )


@query(
    "q22_idle_customers",
    oracle="""
    WITH cutoff AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / count(c_acctbal) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nation_key,
           count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM customer c, cutoff
    WHERE c.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """,
    tags=("J2", "A3", "P2"),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-style idle high-balance customers: the scalar-subquery +
    anti-join combination — customers above the positive-balance average
    with no order since 2000, rolled up per nation. The average
    broadcasts as a 1-row cross join (computed through exact decimal so
    the threshold is partitioning-independent — a raw double sum would
    make the filter nondeterministic); the idleness test is a left anti
    join on custkey whose orders side is date-pruned at the scan before
    it reaches the join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "agg_corr_stddev",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag AS return_flag, n,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS stddev_qty,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
    FROM m
    """,
    tags=("A3", "F4"),
)
def agg_corr_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev, Pearson correlation) computed
    DETERMINISTICALLY: Spark's built-in corr/stddev accumulate doubles in
    partition order, so their last bits change run to run — useless under
    a hash gate and subtly irreproducible in production. Routing the five
    raw moments (Sx, Sy, Sxx, Syy, Sxy) through exact decimal sums makes
    the final double formulas order-independent, at the cost of one extra
    multiplication per row — the same map-side-combined single aggregate
    otherwise. The products stay exact in doubles (2-decimal prices,
    integer quantities), so decimal conversion loses nothing."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.count("*").alias("n"),
        dsum(qty).alias("sx"),
        dsum(price).alias("sy"),
        dsum(qty * qty).alias("sxx"),
        dsum(price * price).alias("syy"),
        dsum(qty * price).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "return_flag",
        "n",
        F.round(F.sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6).alias("stddev_qty"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
    )


@query(
    "timeseries_gapfill",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM {EVENTS} e
    ),
    grid AS (
      SELECT t.event_type, h.h AS hour
      FROM (SELECT DISTINCT event_type FROM {EVENTS} e) t,
           bounds, unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 HOUR)) AS h(h)
    ),
    actual AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      FROM {EVENTS} e GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour, coalesce(a.n, 0) AS n
    FROM grid g LEFT JOIN actual a USING (event_type, hour)
    """,
    tags=("F1", "J6", "A1"),
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling — the densification step dashboards and
    forecasting models need: every (type, hour) cell of the calendar
    grid, zero-filled where no events landed. The grid is GENERATED
    (sequence over the 1-row global bounds, exploded per type), so its
    cost is types x hours regardless of data size; the left join back to
    the hourly counts is grid-sized, tiny next to the scan. Nothing
    scans the events table twice except the 1-row bounds aggregate."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    actual = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    return grid.join(actual, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


@query(
    "set_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
    tags=("E2",),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — EXCEPT ALL (bag semantics): per-value multiplicities subtract
    instead of collapsing, so a nation with 60 customers and 4 suppliers
    keeps 56 rows — the shape for "remove one matched occurrence per
    return event" reconciliation where DISTINCT would destroy counts.
    Spark plans this as a single aggregate computing per-key count
    deltas then a generate (no join): one shuffle on the value, output
    bounded by the left multiset."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


@query(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
    """,
    tags=("E2",),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — INTERSECT ALL (bag semantics): keeps min(multiplicity) per
    value across the two inputs — the multiset overlap that audits "how
    many paired occurrences exist", not just which values occur."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s)


@query(
    "sql_not_in_null_trap",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      (SELECT count(*) FROM customer) AS n_customers,
      (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe))
        AS n_not_in,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
        AS n_not_exists
    """,
    tags=("J2", "F5"),
)
def sql_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN three-valued-logic trap, pinned as a contract: when the
    subquery produces even ONE NULL, `x NOT IN (...)` is never TRUE (x <>
    NULL is UNKNOWN, and the conjunction stays UNKNOWN), so the filter
    returns ZERO rows — while NOT EXISTS with an equality predicate
    returns the real anti-set. Every engine implements this per the SQL
    standard, and every data team gets burned by it once; this query
    encodes both counts side by side (n_not_in = 0, n_not_exists = the
    true complement) so the engines' agreement on the trap itself is
    hash-gated. The planning consequence at scale: NOT IN over a nullable
    key compiles to null-aware anti join (single-key broadcast or a
    dreaded cartesian fallback), which is why pipelines should write
    NOT EXISTS / left_anti — the reference's IP-blocklist filter (P3)
    follows that rule."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        WITH probe AS (
          SELECT CASE WHEN o_custkey % 100 = 0 THEN NULL ELSE o_custkey END AS k
          FROM orders
        )
        SELECT
          (SELECT count(*) FROM customer) AS n_customers,
          (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM probe))
            AS n_not_in,
          (SELECT count(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
            AS n_not_exists
        """
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey % 5 END AS k
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    b AS (
      SELECT CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey % 5 END AS k,
             count(*) AS n_b
      FROM orders WHERE o_orderkey % 4 = 1
      GROUP BY 1
    )
    SELECT coalesce(CAST(a.k AS VARCHAR), '<null>') AS k,
           count(*) AS n_a,
           CAST(min(b.n_b) AS BIGINT) AS n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
    tags=("J1", "F5"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the join a
    CDC/merge pipeline needs when the business key is NULLABLE: plain
    equality silently drops every NULL-keyed row (NULL = NULL is
    UNKNOWN), so records whose key is legitimately absent never match
    their counterpart and updates are lost. The null-safe operator makes
    NULL a real join value while staying a HASH join (Spark plans <=> as
    an equi-key, not a residual) — same shuffle, same plan shape, no
    nested loop. Both sides plant NULLs on the same rule so the NULL
    bucket's row accounting is part of the hash-gated answer."""
    o = load_table(spark, sf_dir, "orders")
    key = F.when(F.col("o_custkey") % 10 == 0, F.lit(None)).otherwise(
        F.col("o_custkey") % 5
    )
    a = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", key.alias("k")
    )
    b = (
        o.filter(F.col("o_orderkey") % 4 == 1)
        .select(key.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
    )
    joined = a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("ka"), "n_b"
    )
    return joined.groupBy(
        F.coalesce(F.col("ka").cast("string"), F.lit("<null>")).alias("k")
    ).agg(F.count("*").alias("n_a"), F.min("n_b").alias("n_b"))


@query(
    "win_gap_islands",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM {EVENTS} e
    ),
    keyed AS (
      SELECT user_id, d,
             CAST(d - DATE '1970-01-01' AS BIGINT)
             - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
      FROM days
    )
    SELECT user_id,
           strftime(min(d), '%Y-%m-%d') AS streak_start,
           strftime(max(d), '%Y-%m-%d') AS streak_end,
           count(*) AS n_days
    FROM keyed
    GROUP BY user_id, island
    HAVING count(*) >= 3
    """,
    tags=("W2", "W3", "A1"),
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — consecutive-active-day streaks per user (the
    engagement/retention streak metric, and the canonical SQL interview
    classic done the scalable way): distinct active days, then the
    epoch_day − row_number trick turns every maximal run of consecutive
    days into a constant island key in ONE user-partitioned window pass
    — no self-join, no recursive expansion. Streaks of ≥3 days emit
    (start, end, length). All integer/date arithmetic — exact; windows
    and aggregates all partition by user, the 100 TB shape."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    keyed = days.withColumn(
        "island",
        F.datediff("d", F.lit("1970-01-01").cast("date")).cast("long")
        - F.row_number().over(w),
    )
    return (
        keyed.groupBy("user_id", "island")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("streak_end"),
            F.count("*").alias("n_days"),
        )
        .filter(F.col("n_days") >= 3)
        .drop("island")
    )


@query(
    "agg_trend_slope",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             count(*) AS y
      FROM {EVENTS} e GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round((n * sxy - CAST(sx AS DOUBLE) * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) * sx), 6) AS slope_per_day,
           round((CAST(sy AS DOUBLE) - ((n * sxy - CAST(sx AS DOUBLE) * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n, 6) AS intercept
    FROM m
    """,
    tags=("A3", "F4", "F1"),
)
def agg_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type traffic trend line — least-squares slope of daily event
    counts over time, the capacity-planning/regression-detection metric
    (is click volume growing, and how fast?). The two-level shape keeps
    it scale-free: the events-sized aggregate reduces to daily grain
    first, then the regression moments (Σx, Σy, Σx², Σxy) accumulate
    over DAYS — and because x is an epoch-day int and y an integer
    count, every moment is an exact int64 sum, so the closed-form
    slope/intercept doubles are IEEE-identical across engines (only
    +,-,*,/ on exact integers; round(6) is belt-and-braces). The same
    pattern extends to any metric: exact moments first, floats only in
    the final closed form."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("x"),
    ).agg(F.count("*").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"),
    )


@query(
    "timeseries_resample_ohlc",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type,
             date_trunc('hour', ts) AS bar,
             value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM {{EVENTS}} e
      WHERE day(ts) <= 7
    )
    SELECT event_type, bar,
           CAST(max(CASE WHEN rn_open = 1 THEN value END) AS DOUBLE) AS open,
           max(value) AS high,
           min(value) AS low,
           CAST(max(CASE WHEN rn_close = 1 THEN value END) AS DOUBLE) AS close,
           count(*) AS n_ticks,
           CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS volume
    FROM ranked
    GROUP BY event_type, bar
    """.format(EVENTS=EVENTS),
    tags=("F1", "W1", "A3"),
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — resample an irregular event stream into hourly
    bars with open (first value by time), high, low, close (last value by
    time) and volume: the classic tick→candlestick operator under every
    market-data and metrics pipeline, and the general "first/last by
    timestamp within bucket" aggregation shape. The deterministic tie on
    equal timestamps is (ts, event_id) — first/last must be total-ordered
    or two engines legally disagree. Spark side: ONE window over
    (type, hour) ordered by the tiebreak computes both row_numbers (the
    descending rank is frame-free arithmetic off count(*) — no second
    sort), then a hash aggregate; at 100 TB this is a single shuffle on
    the bar key, and the window state is per-bar bounded."""
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.dayofmonth("ts") <= 7)
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar"),
            "ts",
            "event_id",
            "value",
        )
    )
    w = W.partitionBy("event_type", "bar").orderBy("ts", "event_id")
    ranked = ev.select(
        "event_type",
        "bar",
        "value",
        F.row_number().over(w).alias("rn_open"),
        (F.count("*").over(W.partitionBy("event_type", "bar"))
         - F.row_number().over(w) + 1).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "bar").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_ticks"),
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("volume"),
    )


_ITP_SCALE = 1_000_000


@query(
    "timeseries_interpolate_linear",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
             count(*) AS n
      FROM {EVENTS} e GROUP BY 1, 2),
    span AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM cells GROUP BY 1),
    grid AS (SELECT s.event_type, g.h
             FROM span s, unnest(generate_series(s.lo, s.hi)) AS g(h)),
    j AS (SELECT g.event_type, g.h, c.n
          FROM grid g LEFT JOIN cells c USING (event_type, h)),
    w AS (SELECT event_type, h, n,
      last_value(n IGNORE NULLS) OVER (
        PARTITION BY event_type ORDER BY h
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pn,
      last_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER (
        PARTITION BY event_type ORDER BY h
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
      first_value(n IGNORE NULLS) OVER (
        PARTITION BY event_type ORDER BY h
        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nn,
      first_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER (
        PARTITION BY event_type ORDER BY h
        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
      FROM j)
    SELECT event_type, h,
           CASE WHEN n IS NOT NULL THEN 'obs' ELSE 'interp' END AS kind,
           CAST(CASE WHEN n IS NOT NULL THEN n * {_ITP_SCALE}
                ELSE pn * {_ITP_SCALE}
                     + (((nn - pn) * {_ITP_SCALE} * (h - ph)) // (nh - ph))
                END AS BIGINT) AS n_scaled
    FROM w
    """,
    tags=("F1", "W3", "J6"),
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over time-series gaps — gapfill's sibling for
    metrics where zero-filling is WRONG (a sensor that didn't report is
    not a sensor that read zero). Per event type: hourly counts on an
    epoch-hour grid; interior gap cells get
    prev + (next-prev)·(h-prev_h)/(next_h-prev_h), kept exact
    cross-engine by scaling to BIGINT and floor-dividing (both engines
    truncate toward zero — verified). Neighbor discovery is two
    IGNORE NULLS window frames (last non-null before / first non-null
    after) over the type partition — one shuffle on event_type, no
    self-join, no per-gap probing. Every gap is interior by construction
    (the grid spans each type's own [min, max]), so the arithmetic is
    total. At scale the window partitions by series key — millions of
    independent series parallelize; a single monster series falls back
    to the range-bucketed variant (win_rolling_revenue_7d's pattern)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("n"))
    )
    span = cells.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = span.select("event_type", F.explode(F.sequence("lo", "hi")).alias("h"))
    j = grid.join(cells, ["event_type", "h"], "left")
    wprev = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wnext = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(1, W.unboundedFollowing)
    )
    marked_h = F.when(F.col("n").isNotNull(), F.col("h"))
    w = (
        j.withColumn("pn", F.last("n", ignorenulls=True).over(wprev))
        .withColumn("ph", F.last(marked_h, ignorenulls=True).over(wprev))
        .withColumn("nn", F.first("n", ignorenulls=True).over(wnext))
        .withColumn("nh", F.first(marked_h, ignorenulls=True).over(wnext))
    )
    interp = F.expr(
        f"pn * {_ITP_SCALE} + (((nn - pn) * {_ITP_SCALE} * (h - ph)) div (nh - ph))"
    )
    return w.select(
        "event_type",
        "h",
        F.when(F.col("n").isNotNull(), F.lit("obs"))
        .otherwise(F.lit("interp"))
        .alias("kind"),
        F.when(F.col("n").isNotNull(), F.col("n") * _ITP_SCALE)
        .otherwise(interp)
        .cast("long")
        .alias("n_scaled"),
    )


@query(
    "timeseries_ewma",
    oracle=f"""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS q
      FROM {EVENTS} e
    ),
    g AS (
      SELECT user_id, count(*) AS n_events,
             list(q ORDER BY ts, event_id) AS qs
      FROM q GROUP BY user_id
    )
    SELECT user_id, n_events,
           list_reduce(qs, (acc, x) -> (3 * acc + x) // 4) AS ewma_cents,
           round(list_reduce(qs, (acc, x) -> (3 * acc + x) // 4) / 100.0, 2)
             AS ewma_value
    FROM g
    """,
    tags=("W3", "F7", "A3"),
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per series (alpha = 1/4):
    e_t = (3*e_{t-1} + x_t) div 4 over the time-ordered event stream —
    the smoothing primitive behind anomaly baselines and trend monitors.
    EWMA is inherently sequential per key, so it folds a per-key ordered
    array (collect_list + array_sort by (ts, event_id) — unique tiebreak,
    then aggregate()): one shuffle on the series key, fold runs inside
    codegen, no iteration or driver loop. Values quantize to integer
    cents first so the truncating-division recurrence is EXACT and
    engine-independent (both Spark `div` and DuckDB `//` truncate toward
    zero — no float accumulation drift). At 100 TB the per-key array is
    bounded by series length; monster series would chunk via the
    segmented-fold pattern (fold chunks, then fold chunk results with
    carried state) — the recurrence is associative-composable because
    each step is an affine map x -> (3x + q) div 4 over a bounded range.
    """
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("q"),
    )
    g = q.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "q"))).alias("ss"),
    )
    fold = F.expr(
        "aggregate(slice(transform(ss, s -> s.q), 2, size(ss) - 1), "
        "transform(ss, s -> s.q)[0], (acc, x) -> (3L * acc + x) div 4L)"
    )
    return g.select(
        "user_id",
        "n_events",
        fold.alias("ewma_cents"),
        F.round(fold / 100.0, 2).alias("ewma_value"),
    )


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH qt AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(q) AS DOUBLE) AS s1,
             CAST(sum(q * q) AS DOUBLE) AS s2,
             CAST(sum(q * q * q) AS DOUBLE) AS s3,
             CAST(sum(q * q * q * q) AS DOUBLE) AS s4
      FROM qt GROUP BY l_returnflag
    ),
    m AS (
      SELECT l_returnflag, n,
             s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag, n,
           round(mean, 6) AS mean_qty,
           round(sqrt(m2), 6) AS stddev_pop,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness_pop,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
    FROM m
    """,
    tags=("A3", "F4"),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher central moments (population skewness / excess kurtosis)
    from exact power sums. The built-in skewness()/kurtosis() disagree
    BETWEEN engines on bias correction (sample vs population), so this
    computes sum(x^k) k=1..4 in pure BIGINT (exact — l_quantity is
    integer-valued 1..50, x^4 <= 6.25e6; int64 sums stay under 2^53
    through ~sf400, where the int->double cast is exact in BOTH engines
    — decimal(38,6) was NOT safe here: DuckDB's wide-decimal->double
    cast mis-rounds above ~1e10 while Spark's is correctly rounded) and
    derives the moments in double with the IDENTICAL expression tree on
    both sides: every +,-,*,/,sqrt is correctly rounded per IEEE-754, so
    equal exact inputs give bit-equal outputs before the final round(6).
    One
    map-side-combined groupBy — the moment sums are trivially mergeable,
    which is also why this works as a partial->final aggregation at any
    scale (and as an incremental/streaming accumulator)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    qd = F.col("q")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("s1"),
        F.sum(qd * qd).cast("double").alias("s2"),
        F.sum(qd * qd * qd).cast("double").alias("s3"),
        F.sum(qd * qd * qd * qd).cast("double").alias("s4"),
    )
    # Mirror the oracle's expression tree exactly (no algebraic reshuffle):
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = F.col("s3") / F.col("n") - F.lit(3) * mean * (F.col("s2") / F.col("n")) + F.lit(2) * mean * mean * mean
    m4 = (
        F.col("s4") / F.col("n")
        - F.lit(4) * mean * (F.col("s3") / F.col("n"))
        + F.lit(6) * mean * mean * (F.col("s2") / F.col("n"))
        - F.lit(3) * mean * mean * mean * mean
    )
    m = s.select("l_returnflag", "n", mean.alias("mean"), m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    return m.select(
        "l_returnflag",
        "n",
        F.round("mean", 6).alias("mean_qty"),
        F.round(F.sqrt("m2"), 6).alias("stddev_pop"),
        F.round(F.col("m3") / (F.col("m2") * F.sqrt("m2")), 6).alias("skewness_pop"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias("excess_kurtosis"),
    )


@query(
    "timeseries_holt_trend",
    oracle=f"""
    WITH RECURSIVE q AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS q
      FROM {EVENTS} e
    ),
    g AS (
      SELECT user_id, list(q ORDER BY ts, event_id) AS qs
      FROM q GROUP BY user_id
    ),
    st AS (
      SELECT user_id, qs, CAST(1 AS BIGINT) AS t,
             qs[1] AS l, CAST(0 AS BIGINT) AS b
      FROM g
      UNION ALL
      SELECT user_id, qs, t + 1,
             (qs[t+1] + 3 * (l + b)) // 4,
             (((qs[t+1] + 3 * (l + b)) // 4) - l + 3 * b) // 4
      FROM st WHERE t < len(qs)
    ),
    fin AS (SELECT user_id, t AS n_events, l, b FROM st WHERE t = len(qs))
    SELECT user_id, n_events,
           l AS level_cents, b AS trend_cents,
           l + b AS forecast_cents
    FROM fin
    """,
    tags=("W3", "F7", "A3"),
)
def timeseries_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double-exponential smoothing (level + trend, alpha = beta =
    1/4) per series — EWMA's sibling that tracks drift instead of
    flattening it; the final (level, trend) pair gives the 1-step-ahead
    forecast l + b. Same sequential-fold shape as timeseries_ewma — one
    shuffle on the series key, then an aggregate() fold inside codegen
    over the (ts, event_id)-sorted array — but with a TWO-field state,
    which is exactly the case where DuckDB's list_reduce struct
    accumulator is unsafe (field-order evaluation over a reused vector),
    so the oracle unrolls the recurrence as a recursive CTE instead:
      l' = (x + 3(l+b)) div 4,  b' = (l' - l + 3b) div 4
    — all BIGINT on quantized cents, truncating div, engine-exact. The
    Spark fold keeps the struct accumulator (Catalyst's aggregate() acc
    is a value, not a reused buffer)."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("q"),
    )
    g = q.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "q"))).alias("ss"),
    )
    fold = F.expr(
        "aggregate(slice(transform(ss, s -> s.q), 2, size(ss) - 1), "
        "named_struct('l', transform(ss, s -> s.q)[0], 'b', 0L), "
        "(acc, x) -> named_struct("
        "  'l', (x + 3L * (acc.l + acc.b)) div 4L, "
        "  'b', (((x + 3L * (acc.l + acc.b)) div 4L) - acc.l + 3L * acc.b) div 4L))"
    )
    return g.select(
        "user_id",
        "n_events",
        fold["l"].alias("level_cents"),
        fold["b"].alias("trend_cents"),
        (fold["l"] + fold["b"]).alias("forecast_cents"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
                    PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumw,
             CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
                    PARTITION BY l_returnflag) AS BIGINT) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(min(l_extendedprice) AS DOUBLE) AS weighted_median,
           CAST(min(totw) AS BIGINT) AS total_weight
    FROM w WHERE 2 * cumw >= totw
    GROUP BY l_returnflag
    """,
    tags=("A9", "W3"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group — the quantity-weighted price
    midpoint (half the shipped units cost less): the smallest price
    whose running weight reaches half the group's total, found in ONE
    windowed pass (cumulative weight ordered by (price, orderkey,
    linenumber) — a total order, so the crossing row is unique) instead
    of the collect-and-scan a naive implementation does. Quantities are
    integral, so 2*cumw >= totw is pure BIGINT — no ratio, no float
    midpoint. percentile_approx trades exactness for one pass; this
    shows the exact answer is ALSO one pass when the weight is additive.

    Scale: the window partitions by the group key — per-group parallel
    sort, no global order — and the qualifying-row reduction is a
    map-side min."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("l_returnflag")
    q = F.col("l_quantity").cast("long")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(q).over(w).cast("long").alias("cumw"),
        F.sum(q).over(wtot).cast("long").alias("totw"),
    )
    return (
        ranked.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").cast("double").alias("weighted_median"),
            F.min("totw").cast("long").alias("total_weight"),
        )
    )


@query(
    "timeseries_concurrent_peak",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(epoch_us(min(ts)) AS BIGINT) // 1000000 AS s,
             CAST(epoch_us(max(ts)) AS BIGINT) // 1000000 + 1 AS e
      FROM {EVENTS} ev GROUP BY 1, 2),
    edges AS (
      SELECT day, t, d, CAST(sum(d) AS BIGINT) AS w FROM (
        SELECT day, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT day, e AS t, -1 AS d FROM iv) u
      GROUP BY 1, 2, 3),
    run AS (
      SELECT day, t, d,
             sum(w) OVER (PARTITION BY day ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS r
      FROM edges),
    peak AS (SELECT day, CAST(max(r) AS BIGINT) AS peak_users FROM run GROUP BY day),
    nday AS (SELECT day, count(*) AS n_intervals FROM iv GROUP BY day)
    SELECT CAST(p.day AS VARCHAR) AS day, p.peak_users,
           min(CASE WHEN r.r = p.peak_users THEN r.t END) AS peak_epoch_s,
           min(n.n_intervals) AS n_intervals
    FROM peak p
    JOIN run r ON r.day = p.day
    JOIN nday n ON n.day = p.day
    GROUP BY 1, 2
    """,
    tags=("W3", "A2", "F1"),
)
def timeseries_concurrent_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line max-concurrency — per day, the PEAK number of
    simultaneously-active users and the first second attaining it, from
    activity intervals (each user's [first event, last event] span that
    day). The classic interval-overlap counting operator (capacity
    planning, connection-pool sizing, "how many sessions at once")
    expressed as +1/-1 boundary edges and a running sum — never an
    interval self-join (quadratic) or a per-second explode (the span
    width as a blowup factor).

    Determinism at tied timestamps: edges pre-aggregate to one row per
    (day, t, sign), and the running sum orders starts before ends
    (d DESC) — an interval beginning the second another ends counts as
    overlapping, and the within-tie max is independent of user order.

    Scale: the prefix sum is TWO-PHASE — per-hour partials, a per-day
    offset window over ~24 bucket-summary rows, then a within-bucket
    window — so no single ordered partition ever sees more than one
    hour of edges (the same distributed-prefix-sum shape as
    shard_by_token_budget). Peak extraction is an ordinary grouped max +
    conditional min; everything after the per-user groupBy moves only
    boundary edges, two rows per user-day regardless of activity."""
    ev = load_table(spark, sf_dir, "events")
    # iv / edges / run each feed 2+ consumers below; localCheckpoint the
    # BOUNDED reductions (2 rows per user-day at most) so the events scan
    # and per-user groupBy run once, not once per consumer.
    iv = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.unix_timestamp(F.min("ts")).alias("s"),
            (F.unix_timestamp(F.max("ts")) + 1).alias("e"),
        )
        .localCheckpoint(eager=False)
    )
    edges = (
        iv.select("day", F.col("s").alias("t"), F.lit(1).alias("d"))
        .unionByName(iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("d")))
        .groupBy("day", "t", "d")
        .agg(F.sum("d").cast("long").alias("w"))
        .withColumn("bucket", F.expr("t div 3600"))
        .localCheckpoint(eager=False)
    )
    bucket_sums = edges.groupBy("day", "bucket").agg(F.sum("w").alias("bsum"))
    woff = (
        W.partitionBy("day").orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        "day", "bucket", F.coalesce(F.sum("bsum").over(woff), F.lit(0)).alias("off")
    )
    wloc = (
        W.partitionBy("day", "bucket")
        .orderBy("t", F.col("d").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = (
        edges.join(offsets, ["day", "bucket"])
        .select("day", "t", (F.col("off") + F.sum("w").over(wloc)).alias("r"))
        .localCheckpoint(eager=False)
    )
    peak = run.groupBy("day").agg(F.max("r").alias("peak_users"))
    nday = iv.groupBy("day").agg(F.count("*").alias("n_intervals"))
    return (
        run.join(peak, "day")
        .groupBy("day", "peak_users")
        .agg(
            F.min(F.when(F.col("r") == F.col("peak_users"), F.col("t"))).alias(
                "peak_epoch_s"
            )
        )
        .join(nday, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_users",
            "peak_epoch_s",
            "n_intervals",
        )
    )


@query(
    "skyline_pareto_front",
    oracle="""
    WITH p AS (
      SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             p_size
      FROM part)
    SELECT p_partkey, price_cents, p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
    """,
    tags=("W3", "O2", "P2"),
)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query — parts not dominated on (cheaper
    price, larger size): no other part is both <= in price and >= in
    size with at least one strict. The multi-objective shortlist
    operator (supplier selection, config search, "best tradeoff"
    dashboards). The oracle states the semantics as the quadratic
    NOT EXISTS; the Spark side computes the SAME set in O(n log n) via
    the 2-D sort-and-prefix-max identity:

      1. per price level only the max-size rows can survive (anything
         smaller at the same price is strictly dominated in size);
      2. a price level survives iff its max size strictly exceeds the
         best size at ANY cheaper price — a prefix-max over the
         distinct-price table, here two-phase ($100 buckets: per-bucket
         summary, offset window over summaries, within-bucket window)
         so no ordered partition sees the whole price domain;
      3. join survivors back (duplicates of the same undominated
         (price, size) point all survive — no strict dominator exists).

    Price quantizes to integer cents for a cross-engine-exact key.
    Scale: the distinct-price table is bounded by the price domain, not
    the row count; the joins are broadcast-size after reduction; the
    wide data is touched by exactly one groupBy and one semi-join —
    dominance is never evaluated pairwise."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    lvl = p.groupBy("price_cents").agg(F.max("p_size").alias("lmax"))
    lvl = lvl.withColumn("bucket", F.expr("price_cents div 10000"))
    bmax = lvl.groupBy("bucket").agg(F.max("lmax").alias("bm"))
    wpre = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    boff = bmax.select("bucket", F.max("bm").over(wpre).alias("pre_bucket_max"))
    wloc = (
        W.partitionBy("bucket").orderBy("price_cents").rowsBetween(W.unboundedPreceding, -1)
    )
    front_prices = (
        lvl.join(boff, "bucket")
        .withColumn(
            "prev_max",
            F.greatest(
                F.coalesce(F.max("lmax").over(wloc), F.lit(-1)),
                F.coalesce(F.col("pre_bucket_max"), F.lit(-1)),
            ),
        )
        .filter(F.col("lmax") > F.col("prev_max"))
        .select("price_cents", "lmax")
    )
    fp = front_prices.select(
        F.col("price_cents").alias("fp_price"), F.col("lmax").alias("fp_size")
    )
    return p.join(
        F.broadcast(fp),
        (F.col("price_cents") == F.col("fp_price")) & (F.col("p_size") == F.col("fp_size")),
    ).select("p_partkey", "price_cents", "p_size")


@query(
    "timeseries_cusum_changepoint",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    mu AS (
      SELECT event_type,
             CAST(sum(x) AS BIGINT) * 1000000 // count(*) AS mu_s
      FROM cells GROUP BY 1),
    dev AS (
      SELECT c.event_type, c.h,
             c.x * 1000000 - (m.mu_s + m.mu_s // 10) AS dv,
             m.mu_s
      FROM cells c JOIN mu m USING (event_type)),
    cum0 AS (
      SELECT event_type, h, mu_s,
             sum(dv) OVER (PARTITION BY event_type ORDER BY h
                           ROWS UNBOUNDED PRECEDING) AS c
      FROM dev),
    cum AS (
      SELECT event_type, h, mu_s, c,
             min(c) OVER (PARTITION BY event_type ORDER BY h
                          ROWS UNBOUNDED PRECEDING) AS mn
      FROM cum0),
    s AS (
      SELECT event_type, h,
             c - CASE WHEN mn < 0 THEN mn ELSE 0 END AS st,
             mu_s * 3 AS thresh
      FROM cum)
    SELECT event_type,
           count(*) AS n_hours,
           CAST(max(st) AS BIGINT) AS max_cusum_scaled,
           CAST(count(*) FILTER (WHERE st > thresh) AS BIGINT) AS n_above,
           min(CASE WHEN st > thresh THEN h END) AS first_cross_h
    FROM s GROUP BY 1
    """,
    tags=("W3", "F4", "A2"),
)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per series — the
    drift-monitor primitive (data-quality regression alarms, rate-shift
    detection): s_t = max(0, s_{t-1} + x_t - (mu + k)) over hourly
    counts, allowance k = mu/10, alarm threshold 3*mu. The recurrence
    looks inherently sequential, but the clamp has a closed form:

        s_t = cum_t - min(0, min_{j<=t} cum_j)

    where cum is the plain prefix sum of deviations — so CUSUM becomes
    TWO stacked window aggregates (running sum, running min of it), no
    fold, no UDF, no collect. All math is exact scaled integers
    (counts x 1e6; mu floor-divided), so the hash-gated outputs carry
    no float window. Per series: series length, max CUSUM, hours above
    threshold, first alarm hour (NULL when never crossed).

    Scale: windows partition by series key — millions of independent
    series parallelize; the per-series state is the hour grid, already
    reduced from raw events by the first groupBy. A monster series
    would range-bucket the prefix sum exactly like
    timeseries_concurrent_peak; hourly granularity keeps even a year of
    one series under 10k rows."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    mu = cells.groupBy("event_type").agg(
        F.expr("sum(x) * 1000000L div count(*)").alias("mu_s")
    )
    dev = cells.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "h",
        "mu_s",
        (F.col("x") * 1000000 - (F.col("mu_s") + F.expr("mu_s div 10"))).alias("dv"),
    )
    wrun = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = dev.select(
        "event_type", "h", "mu_s", F.sum("dv").over(wrun).alias("c")
    ).select(
        "event_type", "h", "mu_s", "c", F.min("c").over(wrun).alias("mn")
    )
    s = cum.select(
        "event_type",
        "h",
        (F.col("c") - F.when(F.col("mn") < 0, F.col("mn")).otherwise(F.lit(0))).alias("st"),
        (F.col("mu_s") * 3).alias("thresh"),
    )
    return s.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.max("st").alias("max_cusum_scaled"),
        F.sum(F.when(F.col("st") > F.col("thresh"), 1).otherwise(0))
        .cast("long")
        .alias("n_above"),
        F.min(F.when(F.col("st") > F.col("thresh"), F.col("h"))).alias("first_cross_h"),
    )


@query(
    "win_sliding_median",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    w AS (
      SELECT event_type, h, x,
             list(x) OVER (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
      FROM cells)
    SELECT event_type, h, x,
           list_sort(win)[(len(win) + 1) // 2] AS med7
    FROM w
    """,
    tags=("W3", "F7", "A9"),
)
def win_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over a 7-row frame — the robust smoother that
    mean-based rolling windows can't give you (one outlier hour drags a
    mean for a week; it never moves the median). Median has no
    distributive merge, so the frame's values ride along explicitly:
    collect_list over ROWS 6 PRECEDING, sort the <=7-element array,
    index the lower median ((n+1) div 2, 1-based) — integer in, integer
    out, no float midpoint in the hash. Warm-up rows (< 7 back) take the
    median of what exists, matching the oracle's identical list frame.

    Scale: per-row state is the FRAME (7 values), not the partition —
    the window carries O(k) per row regardless of series length, and
    series parallelize by key. The input is already the hour grid, so
    even the collect_list frames move bounded integers, never events."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
    )
    wf = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(-6, W.currentRow)
    )
    return cells.withColumn(
        "win", F.array_sort(F.collect_list("x").over(wf))
    ).select(
        "event_type",
        "h",
        "x",
        F.expr("win[(size(win) + 1) div 2 - 1]").cast("long").alias("med7"),
    )


@query(
    "eval_spearman_trend",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    r AS (
      SELECT event_type, h, x,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rt,
             row_number() OVER (PARTITION BY event_type ORDER BY x, h) AS rx
      FROM cells),
    s AS (
      SELECT event_type,
             count(*) AS n_hours,
             sum(CAST((rx - rt) AS HUGEINT) * (rx - rt)) AS d2
      FROM r GROUP BY 1)
    SELECT event_type, n_hours,
           CAST((CAST(n_hours AS HUGEINT) * (CAST(n_hours AS HUGEINT) * n_hours - 1)
                 - 6 * d2) * 1000000
                // (CAST(n_hours AS HUGEINT) * (CAST(n_hours AS HUGEINT) * n_hours - 1))
             AS BIGINT) AS rho_ppm
    FROM s
    """,
    tags=("W1", "F4", "A3"),
)
def eval_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank-correlation trend test per series — "is this metric
    monotonically drifting?" answered robustly (rank-based: immune to
    outliers and any monotone rescaling, unlike the Pearson slope in
    agg_trend_slope). Over the hourly count grid: time ranks are 1..n by
    hour; value ranks break ties deterministically by hour; then the
    classic rho = 1 - 6*sum(d^2)/(n(n^2-1)), emitted as an exact
    floor-scaled ppm — n(n^2-1)*1e6 overflows int64 past n ~ 100k hours,
    so every product is lifted to decimal(38,0)/HUGEINT (the
    Mann-Whitney discipline). rho_ppm near +1e6 = sustained growth, near
    -1e6 = decay, near 0 = stationary.

    Scale: ranks are windows over the per-series HOUR GRID (bounded by
    the time span, not the event count — a decade is 87k rows), reduced
    from raw events by one groupBy; series parallelize by key."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
    )
    r = cells.select(
        "event_type",
        F.row_number().over(W.partitionBy("event_type").orderBy("h")).alias("rt"),
        F.row_number().over(W.partitionBy("event_type").orderBy("x", "h")).alias("rx"),
    )
    s = r.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum(
            (F.col("rx") - F.col("rt")).cast("decimal(38,0)")
            * (F.col("rx") - F.col("rt"))
        ).alias("d2"),
    )
    return s.select(
        "event_type",
        "n_hours",
        F.expr(
            "CAST((CAST(n_hours AS DECIMAL(38,0)) * (CAST(n_hours AS DECIMAL(38,0)) * n_hours - 1)"
            " - 6 * d2) * 1000000"
            " div (CAST(n_hours AS DECIMAL(38,0)) * (CAST(n_hours AS DECIMAL(38,0)) * n_hours - 1))"
            " AS BIGINT)"
        ).alias("rho_ppm"),
    )


@query(
    "quality_winsorize",
    oracle=f"""
    WITH q AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM {EVENTS} ev),
    hist AS (SELECT event_type, c, count(*) AS n FROM q GROUP BY 1, 2),
    cum AS (
      SELECT event_type, c, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY c
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM hist),
    thr AS (
      SELECT event_type,
             min(CASE WHEN cw >= (5 * tot + 99) // 100 THEN c END) AS lo_cents,
             min(CASE WHEN cw >= (95 * tot + 99) // 100 THEN c END) AS hi_cents
      FROM cum GROUP BY 1)
    SELECT q.event_type,
           count(*) AS n,
           min(t.lo_cents) AS lo_cents,
           min(t.hi_cents) AS hi_cents,
           CAST(count(*) FILTER (WHERE q.c < t.lo_cents) AS BIGINT) AS n_low,
           CAST(count(*) FILTER (WHERE q.c > t.hi_cents) AS BIGINT) AS n_high,
           CAST(sum(CAST(least(greatest(q.c, t.lo_cents), t.hi_cents) AS HUGEINT))
                AS BIGINT) AS winsorized_sum_cents
    FROM q JOIN thr t USING (event_type)
    GROUP BY 1
    """,
    tags=("A9", "P2", "F5"),
)
def quality_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clamp each series' values at its own exact
    nearest-rank p5/p95 before aggregating: the standard outlier
    containment for training-signal and metric pipelines (drop nothing,
    bound everything). The EXACT percentile never sorts the data: values
    quantize to cents, a value-domain histogram (bounded by the domain,
    not the row count) takes one cumulative window, and the nearest-rank
    thresholds (ceil(p*n) via integer arithmetic) read off it — the
    curriculum-ntile pattern. Thresholds broadcast back; the clamp is a
    map-side least/greatest. Outputs per series: thresholds, clamp
    counts each side, and the winsorized sum in exact integer cents.

    Scale: the wide data is touched by one histogram groupBy and one
    broadcast-join map pass — no global sort, no percentile_approx
    sketch error; the window runs over distinct cents per series."""
    ev = load_table(spark, sf_dir, "events")
    # q feeds the histogram AND the final clamp pass: deliberately NOT
    # checkpointed — it is corpus-sized, and two pushdown parquet scans of
    # 2 columns are cheaper than materializing the projection (the
    # checkpoint convention covers bounded reductions only).
    q = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    hist = q.groupBy("event_type", "c").agg(F.count("*").alias("n"))
    wcum = (
        W.partitionBy("event_type").orderBy("c").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "c",
        F.sum("n").over(wcum).alias("cw"),
        F.sum("n").over(wtot).alias("tot"),
    )
    thr = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cw") >= F.expr("(5 * tot + 99) div 100"), F.col("c"))
        ).alias("lo_cents"),
        F.min(
            F.when(F.col("cw") >= F.expr("(95 * tot + 99) div 100"), F.col("c"))
        ).alias("hi_cents"),
    )
    clamped = F.least(F.greatest(F.col("c"), F.col("lo_cents")), F.col("hi_cents"))
    return (
        q.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("lo_cents").alias("lo_cents"),
            F.min("hi_cents").alias("hi_cents"),
            F.sum(F.when(F.col("c") < F.col("lo_cents"), 1).otherwise(0))
            .cast("long")
            .alias("n_low"),
            F.sum(F.when(F.col("c") > F.col("hi_cents"), 1).otherwise(0))
            .cast("long")
            .alias("n_high"),
            F.sum(clamped.cast("decimal(38,0)")).cast("long").alias("winsorized_sum_cents"),
        )
    )


@query(
    "timeseries_theil_sen",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type,
             (b.x - a.x) * 1000000 // (b.h - a.h) AS s_ppm
      FROM cells a JOIN cells b
        ON b.event_type = a.event_type AND b.h > a.h),
    ranked AS (
      SELECT event_type, s_ppm,
             row_number() OVER (PARTITION BY event_type ORDER BY s_ppm) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM pairs)
    SELECT event_type, CAST(min(n_pairs) AS BIGINT) AS n_pairs,
           min(CASE WHEN 2 * rn >= n_pairs THEN s_ppm END) AS slope_ppm
    FROM ranked GROUP BY 1
    """,
    tags=("J8", "A9", "F4"),
)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope per series — the median of all pairwise
    slopes (x_j - x_i)/(h_j - h_i) over the hourly grid: breakdown
    point 29%, immune to the outlier hours that drag the least-squares
    slope (agg_trend_slope) arbitrarily far. Slopes quantize to exact
    floor-scaled ppm BEFORE the median (both engines truncate toward
    zero — the interpolate-linear precedent), so the statistic is
    defined over integers and the hash carries no float; the median is
    the lower median via the one-pass rank window (the
    agg_weighted_median pattern), never a collect-and-sort.

    Scale: the pair join is QUADRATIC IN THE GRID, linear in nothing
    else — the grid is bounded by the time span (30 days = 720 rows →
    260k pairs per series; a decade = 87k rows → 3.8G pairs, at which
    point the standard subsample — Theil-Sen over a bounded random
    h-stratified subset — caps it; the operator's cost is set by the
    RESOLUTION you ask for, not the event volume). Raw events are
    reduced by the first groupBy; series parallelize by key."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = cells.select("event_type", F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = cells.select("event_type", F.col("h").alias("hb"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("hb") > F.col("ha"))
        .select(
            "event_type",
            F.expr("(xb - xa) * 1000000 div (hb - ha)").alias("s_ppm"),
        )
    )
    wrk = W.partitionBy("event_type").orderBy("s_ppm")
    wn = W.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "s_ppm",
        F.row_number().over(wrk).alias("rn"),
        F.count("*").over(wn).alias("n_pairs"),
    )
    return ranked.groupBy("event_type").agg(
        F.min("n_pairs").cast("long").alias("n_pairs"),
        F.min(
            F.when(2 * F.col("rn") >= F.col("n_pairs"), F.col("s_ppm"))
        ).alias("slope_ppm"),
    )


@query(
    "eval_wilcoxon_signed_rank",
    oracle=f"""
    WITH halves AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                           THEN CAST(round(value * 100) AS BIGINT) END) AS HUGEINT)
               AS tc1,
             count(*) FILTER (WHERE CAST(ts AS DATE) <= DATE '2024-01-15') AS n1,
             CAST(sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                           THEN CAST(round(value * 100) AS BIGINT) END) AS HUGEINT)
               AS tc2,
             count(*) FILTER (WHERE CAST(ts AS DATE) > DATE '2024-01-15') AS n2
      FROM {EVENTS} ev GROUP BY 1),
    d AS (
      SELECT user_id,
             (tc2 * 1000000 * n1 - tc1 * 1000000 * n2) // (n1 * n2) AS d_ppm
      FROM halves WHERE n1 > 0 AND n2 > 0),
    nz AS (SELECT abs(d_ppm) AS d_abs, d_ppm > 0 AS pos FROM d WHERE d_ppm <> 0),
    grp AS (
      SELECT d_abs, count(*) AS cnt,
             count(*) FILTER (WHERE pos) AS npos
      FROM nz GROUP BY 1),
    ranked AS (
      SELECT d_abs, cnt, npos,
             coalesce(sum(cnt) OVER (ORDER BY d_abs
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM grp)
    SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs,
           CAST(sum((2 * off + cnt + 1) * npos) AS BIGINT) AS w_plus_2,
           CAST(sum((2 * off + cnt + 1) * (cnt - npos)) AS BIGINT) AS w_minus_2
    FROM ranked
    """,
    tags=("A9", "W3", "F4"),
)
def eval_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test statistic — the paired nonparametric
    before/after test (did per-user engagement change between the first
    and second half of the month?), the rank-based complement to
    McNemar (binary pairs) in the eval lane. Per user: the difference
    of half-month mean values in exact floor-scaled ppm (cross-engine
    truncation, decimal-lifted); zeros drop per the classical
    procedure; |d| ties take AVERAGE ranks, kept integral by doubling —
    a tie group occupying ranks [off+1, off+cnt] contributes
    (2·off+cnt+1) = 2×(average rank) per member, so W+·2 and W-·2 are
    exact integers with W+_2 + W-_2 = n(n+1) as a built-in invariant.

    Scale: the rank never sorts users globally — distinct |d| values
    aggregate first (the value-domain histogram pattern), and the
    cumulative offset runs two-phase (per-bucket partials over
    d_abs div 1e6, offset window over bucket summaries, within-bucket
    window — concurrent_peak's prefix-sum shape), so no ordered
    partition sees the full |d| domain."""
    ev = load_table(spark, sf_dir, "events")
    first_half = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    halves = ev.groupBy("user_id").agg(
        F.sum(F.when(first_half, cents)).cast("decimal(38,0)").alias("tc1"),
        F.sum(F.when(first_half, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~first_half, cents)).cast("decimal(38,0)").alias("tc2"),
        F.sum(F.when(~first_half, 1).otherwise(0)).alias("n2"),
    )
    d = halves.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.expr(
            "CAST((tc2 * 1000000 * n1 - tc1 * 1000000 * n2) div (n1 * n2) AS BIGINT)"
        ).alias("d_ppm")
    )
    nz = d.filter(F.col("d_ppm") != 0).select(
        F.abs(F.col("d_ppm")).alias("d_abs"), (F.col("d_ppm") > 0).alias("pos")
    )
    grp = (
        nz.groupBy("d_abs")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("npos"),
        )
        .withColumn("bucket", F.expr("d_abs div 1000000"))
        .localCheckpoint(eager=False)
    )
    bsum = grp.groupBy("bucket").agg(F.sum("cnt").alias("bc"))
    wpre = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    boff = bsum.select(
        "bucket", F.coalesce(F.sum("bc").over(wpre), F.lit(0)).alias("boff")
    )
    wloc = (
        W.partitionBy("bucket").orderBy("d_abs").rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = grp.join(F.broadcast(boff), "bucket").select(
        "cnt",
        "npos",
        (F.col("boff") + F.coalesce(F.sum("cnt").over(wloc), F.lit(0))).alias("off"),
    )
    r2 = 2 * F.col("off") + F.col("cnt") + 1
    return ranked.agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.sum(r2 * F.col("npos")).cast("long").alias("w_plus_2"),
        F.sum(r2 * (F.col("cnt") - F.col("npos"))).cast("long").alias("w_minus_2"),
    )


# Shared by rate_limit_token_bucket and its streaming twin
# (streaming.batch_twins.stream_token_bucket): the twins' contract is a
# byte-identical answer against the SAME oracle — one constant enforces it.
TOKEN_BUCKET_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(epoch_us(ts) AS BIGINT) // 1000000 AS t
      FROM {EVENTS} ev),
    dts AS (
      SELECT user_id, ts, event_id,
             (t - coalesce(lag(t) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id), t)) * 1000 AS dt_s
      FROM seq),
    folded AS (
      SELECT user_id, count(*) AS n_events,
             list_reduce(
               list_prepend([CAST(10000 AS BIGINT), CAST(0 AS BIGINT)],
                 list_transform(
                   list(dt_s ORDER BY ts, event_id),
                   v -> [CAST(v AS BIGINT), CAST(0 AS BIGINT)])),
               (acc, x) -> CASE
                 WHEN least(10000, acc[1] + x[1]) >= 1000
                 THEN [least(10000, acc[1] + x[1]) - 1000, acc[2] + 1]
                 ELSE [least(10000, acc[1] + x[1]), acc[2]] END) AS st
      FROM dts GROUP BY user_id)
    SELECT user_id, n_events, st[2] AS n_admitted, st[1] AS tokens_end_scaled
    FROM folded
    """


@query(
    "rate_limit_token_bucket",
    oracle=TOKEN_BUCKET_ORACLE,
    tags=("W2", "F7", "A8"),
)
def rate_limit_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiter replay — the admission-control primitive
    (API quotas, ingest throttling, bot damping) audited offline: per
    user, a bucket of capacity 10 tokens refilling at 1 token/sec; each
    event costs 1; events with an empty bucket are DENIED. Emits per
    user the admitted count and final bucket level. The recurrence
    min(cap, t + dt) - cost·admit is clamped on BOTH sides, so unlike
    CUSUM it has no prefix closed form — it folds a per-user ordered
    array (the timeseries_ewma shape): lag() for inter-event gaps in
    whole seconds (floor on both engines), then aggregate() with a
    two-slot integer state [tokens_milli, admitted] — exact integer
    milli-token arithmetic, no float drift, bucket level bounded by
    construction so the state never grows.

    Scale: one shuffle on the series key; the fold runs inside codegen
    per key. Monster keys chunk via the segmented-fold composition
    (token-bucket steps are monotone non-expansive maps — fold chunks,
    carry [tokens, admitted] across chunk boundaries)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", "ts", "event_id", F.unix_timestamp("ts").alias("t")
    )
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    dts = seq.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("t") - F.coalesce(F.lag("t").over(wlag), F.col("t"))) * 1000).alias(
            "dt_s"
        ),
    )
    g = dts.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "dt_s"))).alias("ss"),
    )
    fold = F.expr(
        "aggregate(transform(ss, s -> s.dt_s), array(10000L, 0L), "
        "(acc, x) -> IF(least(10000L, acc[0] + x) >= 1000L, "
        "array(least(10000L, acc[0] + x) - 1000L, acc[1] + 1L), "
        "array(least(10000L, acc[0] + x), acc[1])))"
    )
    return g.select(
        "user_id",
        "n_events",
        F.element_at(fold, 2).alias("n_admitted"),
        F.element_at(fold, 1).alias("tokens_end_scaled"),
    )


@query(
    "timeseries_autocorrelation",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM cells GROUP BY 1),
    lags AS (
      SELECT a.event_type, k.k,
             CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(a.x * b.x) AS HUGEINT) AS sab,
             CAST(sum(a.x) AS HUGEINT) AS sa,
             CAST(sum(b.x) AS HUGEINT) AS sb
      FROM cells a
      JOIN unnest(generate_series(1, 24)) AS k(k) ON true
      JOIN cells b ON b.event_type = a.event_type AND b.h = a.h + k.k
      GROUP BY 1, 2)
    SELECT l.event_type, CAST(l.k AS BIGINT) AS k, CAST(l.m AS BIGINT) AS n_pairs,
           CAST((t.n * t.n * l.sab - t.n * t.s * (l.sa + l.sb) + l.m * t.s * t.s)
                * 1000000
                // (t.n * t.n * t.sxx - t.n * t.s * t.s) AS BIGINT) AS acf_ppm
    FROM lags l JOIN tot t USING (event_type)
    """,
    tags=("W2", "F4", "J8"),
)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function — lag-1..24 ACF per series over the
    hourly count grid: THE periodicity detector (a daily cycle shows as
    an acf peak at k=24, burst persistence as slow lag-1 decay), feeding
    seasonal-model order selection the way timeseries_stl_decompose
    consumes a fixed period. Exactness trick: the mean-centered
    covariance ratio is a rational in (n, S=Σx, Σx², Σx_t·x_{t+k}, per-
    lag marginals) — multiplying num and den by n² clears every division
    until the final 1e6-scaled floor, so the hash sees only exact
    integers (n²Σx² overflows int64 at sf100 counts: every term is
    decimal(38,0)/HUGEINT-lifted, the Mann-Whitney discipline). Defined
    over OBSERVED hours (gap pairs absent on both engines identically).

    Scale: the lag join is (grid x 24), bounded by the time span — the
    wide data reduced away by the first groupBy; totals broadcast; the
    per-(series, lag) aggregate is the only shuffle after that."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    tot = cells.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    a = cells.select(
        "event_type", F.col("h").alias("ha"), F.col("x").alias("xa")
    ).withColumn("k", F.explode(F.sequence(F.lit(1), F.lit(24))))
    b = cells.select("event_type", F.col("h").alias("hb"), F.col("x").alias("xb"))
    lags = (
        a.join(b, (a.event_type == b.event_type) & (b.hb == a.ha + a.k))
        .drop(b.event_type)
        .groupBy("event_type", "k")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("m"),
            F.sum(F.col("xa") * F.col("xb")).cast("decimal(38,0)").alias("sab"),
            F.sum("xa").cast("decimal(38,0)").alias("sa"),
            F.sum("xb").cast("decimal(38,0)").alias("sb"),
        )
    )
    return lags.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("k").cast("long").alias("k"),
        F.col("m").cast("long").alias("n_pairs"),
        F.expr(
            "CAST((n * n * sab - n * s * (sa + sb) + m * s * s) * 1000000"
            " div (n * n * sxx - n * s * s) AS BIGINT)"
        ).alias("acf_ppm"),
    )


_XCORR_MAX_LAG = 12


@query(
    "timeseries_cross_correlation",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev
      WHERE event_type IN ('view', 'purchase')
      GROUP BY 1, 2),
    lags AS (
      SELECT k.k,
             CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(a.x * b.x) AS HUGEINT) AS sab,
             CAST(sum(a.x) AS HUGEINT) AS sa,
             CAST(sum(b.x) AS HUGEINT) AS sb,
             CAST(sum(a.x * a.x) AS HUGEINT) AS saa,
             CAST(sum(b.x * b.x) AS HUGEINT) AS sbb
      FROM cells a
      JOIN unnest(generate_series(0, {_XCORR_MAX_LAG})) AS k(k) ON true
      JOIN cells b ON b.event_type = 'purchase' AND b.h = a.h + k.k
      WHERE a.event_type = 'view'
      GROUP BY 1)
    SELECT CAST(k AS BIGINT) AS k, CAST(m AS BIGINT) AS n_pairs,
           CASE WHEN m * saa - sa * sa = 0 OR m * sbb - sb * sb = 0 THEN 0
                ELSE (CASE WHEN m * sab - sa * sb < 0 THEN -1 ELSE 1 END)
                     * CAST((m * sab - sa * sb) * (m * sab - sa * sb) * 1000000
                            // ((m * saa - sa * sa) * (m * sbb - sb * sb))
                            AS BIGINT) END AS xcorr_sppm
    FROM lags
    """,
    tags=("W2", "F4", "J8", "A1"),
)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event series — does the
    'view' series LEAD the 'purchase' series, and by how many hours?
    The classic marketing/latency diagnostic the ACF can't answer
    (timeseries_autocorrelation is a series against itself): for each
    lag k in 0..{_XCORR_MAX_LAG}, the full per-lag Pearson r between
    view counts at hour h and purchase counts at hour h+k, over the
    hours where BOTH series are observed.

    Exactness: per-lag Pearson is a rational in six exact integers
    (m, Σab, Σa, Σb, Σa², Σb²); reported as SIGNED r²·10^6 —
    sign(num) · num²·1e6 // (dena·denb) — so the hash sees only exact
    integer products (decimal(38,0)/HUGEINT-lifted; num² ≈ (m·Σab)²
    stays under 38 digits for per-hour counts up to ~10^6, far above
    any real hourly rate at the fixed 720-hour grid). The floor-division
    operands are non-negative by construction (num is squared), and on
    integer types both engines truncate identically anyway.
    Zero-variance lags report 0.

    Scale: the wide data collapses to the (2 × hours) count grid in
    the first groupBy — the lag join is grid × {_XCORR_MAX_LAG + 1},
    bounded by the time span, never by event volume; one scan, one
    count shuffle, then a 13-group aggregate."""
    cells = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = (
        cells.where(F.col("event_type") == "view")
        .select(F.col("h").alias("ha"), F.col("x").alias("xa"))
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(_XCORR_MAX_LAG))))
    )
    b = cells.where(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb"), F.col("x").alias("xb")
    )
    lags = a.join(b, b.hb == a.ha + a.k).groupBy("k").agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum(F.col("xa") * F.col("xb")).cast("decimal(38,0)").alias("sab"),
        F.sum("xa").cast("decimal(38,0)").alias("sa"),
        F.sum("xb").cast("decimal(38,0)").alias("sb"),
        F.sum(F.col("xa") * F.col("xa")).cast("decimal(38,0)").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("decimal(38,0)").alias("sbb"),
    )
    return lags.select(
        F.col("k").cast("long").alias("k"),
        F.col("m").cast("long").alias("n_pairs"),
        F.expr(
            "CASE WHEN m * saa - sa * sa = 0 OR m * sbb - sb * sb = 0 THEN 0"
            " ELSE (CASE WHEN m * sab - sa * sb < 0 THEN -1 ELSE 1 END)"
            " * CAST((m * sab - sa * sb) * (m * sab - sa * sb) * 1000000"
            " div ((m * saa - sa * sa) * (m * sbb - sb * sb)) AS BIGINT) END"
        ).alias("xcorr_sppm"),
    )


@query(
    "timeseries_bollinger_breach",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             CAST(count(*) AS HUGEINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    w AS (
      SELECT event_type, h, x,
             CAST(count(*) OVER win AS HUGEINT) AS n,
             sum(x) OVER win AS s,
             sum(x * x) OVER win AS sxx
      FROM cells
      WINDOW win AS (PARTITION BY event_type ORDER BY h
                     RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
    d AS (SELECT *, n * x - s AS num, n * sxx - s * s AS varn FROM w)
    SELECT event_type, CAST(h AS BIGINT) AS h, CAST(x AS BIGINT) AS x,
           CAST(n AS BIGINT) AS n_win,
           CASE WHEN num > 0 THEN 'up' ELSE 'dn' END AS side,
           CAST(num * num * 1000000 // varn AS BIGINT) AS z2_ppm
    FROM d WHERE n >= 12 AND num * num > 4 * varn
    """,
    tags=("T2", "W3", "F4", "A2"),
)
def timeseries_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach detection (Bollinger 1992 — the rolling
    mean +/- k*sigma envelope) over each event type's hourly count
    series: flag every hour whose count leaves the 2-sigma band of its
    own TRAILING 24-hour window (RANGE frame over the hour key, so a
    gap in the grid shrinks the window rather than silently reaching
    further back; a 12-observation warm-up guard suppresses the
    cold-start noise every rolling monitor has).

    Exactness: the band test |x - s/n| > 2*sigma is cleared of division
    and sqrt by cross-multiplying — breach iff (n*x - s)^2 > 4*(n*sxx -
    s^2) — so both engines compare exact integers; the reported z^2 is
    the exact scaled ratio (n*x-s)^2 * 1e6 // (n*sxx - s^2) (a breach
    row always has positive variance: zero variance forces x = mean).
    Counts are decimal(38,0)/HUGEINT-lifted before squaring — hourly
    counts at corpus scale (~1e10) square past int64.

    Scale: the event volume collapses to the (type x hour) count grid
    in the first aggregate (map-side combine); the rolling window runs
    partitioned by type over the bounded time grid — never over raw
    events. One scan, one shuffle, grid-sized state."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("decimal(38,0)").alias("x"))
    )
    win = (
        W.partitionBy("event_type").orderBy("h").rangeBetween(-23, 0)
    )
    d = cells.select(
        "event_type",
        "h",
        "x",
        F.count("*").over(win).cast("decimal(38,0)").alias("n"),
        F.sum("x").over(win).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
    ).select(
        "event_type",
        "h",
        "x",
        "n",
        F.expr("n * x - s").alias("num"),
        F.expr("n * sxx - s * s").alias("varn"),
    )
    return d.where(F.expr("n >= 12 AND num * num > 4 * varn")).select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        F.col("x").cast("long").alias("x"),
        F.col("n").cast("long").alias("n_win"),
        F.expr("CASE WHEN num > 0 THEN 'up' ELSE 'dn' END").alias("side"),
        F.expr("CAST(num * num * 1000000 div varn AS BIGINT)").alias("z2_ppm"),
    )


@query(
    "ops_latency_percentiles",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             value, event_id
      FROM {EVENTS} ev),
    ranked AS (
      SELECT event_type, h, value,
             row_number() OVER (PARTITION BY event_type, h
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type, h) AS n
      FROM cells)
    SELECT event_type, CAST(h AS BIGINT) AS h, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
           max(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95,
           max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
    FROM ranked GROUP BY event_type, h
    """,
    tags=("A9", "W1", "T1"),
)
def ops_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ops-dashboard percentile grid: EXACT nearest-rank p50/p95/p99
    of the event value per (event_type, hour) cell — the latency heatmap
    every SRE reads, computed exactly rather than with approx sketches
    (A9's approx lane already exists; tail percentiles are where approx
    error concentrates, and an exact p99 is what SLO audits need).
    Nearest-rank definition: the value at rank ceil(n*q/100) of the
    cell's sorted values — integer arithmetic ((n*q + 99) div 100), and
    the reported double is an ELEMENT of the data (no arithmetic
    touches it), so both engines emit identical bits.

    Scale: the sort is PARTITIONED by (type, hour) — each cell ranks
    independently, the classic dashboard-grid layout; ties order by
    event_id so the rank is deterministic, though any tie permutation
    selects the same value. One scan, one shuffle on the cell key, one
    conditional aggregate; no collect_list (a cell's values never
    materialize in one buffer)."""
    cells = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        "value",
        "event_id",
    )
    wr = W.partitionBy("event_type", "h").orderBy("value", "event_id")
    wn = W.partitionBy("event_type", "h")
    ranked = cells.select(
        "event_type",
        "h",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("event_type", "h").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.expr("CASE WHEN rn = (n * 50 + 99) div 100 THEN value END")).alias("p50"),
        F.max(F.expr("CASE WHEN rn = (n * 95 + 99) div 100 THEN value END")).alias("p95"),
        F.max(F.expr("CASE WHEN rn = (n * 99 + 99) div 100 THEN value END")).alias("p99"),
    ).select(
        "event_type", F.col("h").cast("long").alias("h"), "n", "p50", "p95", "p99"
    )


@query(
    "timeseries_mann_kendall",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM cells a JOIN cells b
        ON b.event_type = a.event_type AND b.h > a.h
      GROUP BY 1),
    nn AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n FROM cells GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS HUGEINT) AS tie_corr
      FROM (SELECT event_type, CAST(count(*) AS HUGEINT) AS t
            FROM cells GROUP BY event_type, x)
      GROUP BY 1),
    v AS (
      SELECT n.event_type, s.s_stat, CAST(n.n AS BIGINT) AS n,
             n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_corr AS var18
      FROM nn n JOIN s ON s.event_type = n.event_type
      JOIN ties t ON t.event_type = n.event_type)
    SELECT event_type, n, s_stat,
           CAST(var18 AS BIGINT) AS var_num18,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend,
           CASE WHEN var18 = 0 OR abs(s_stat) <= 1 THEN 0
                ELSE CAST(CAST((abs(s_stat) - 1) AS HUGEINT)
                          * (abs(s_stat) - 1) * 18 * 1000000 // var18
                     AS BIGINT) END AS z2_ppm
    FROM v
    """,
    tags=("J8", "A1", "F4", "W2"),
)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test (Mann 1945, Kendall 1975)
    per event type's hourly count series — the hypothesis-test companion
    to timeseries_theil_sen's slope: S = sum over hour pairs i<j of
    sign(x_j - x_i), with the tie-corrected variance
    Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18. Reported exactly:
    S and the 18-scaled variance numerator are plain integers, and the
    squared continuity-corrected z, z^2 = (|S|-1)^2 / Var, is the exact
    floor ratio (|S|-1)^2 * 18 * 1e6 // var18 — compare against
    z_crit^2 = 3.8416e6 for the 5% two-sided decision, no sqrt anywhere.

    Scale: the event volume collapses to the (type x hour) grid first,
    so the pair join is grid-bounded (hours^2 per type, independent of
    row count — the same contract as timeseries_autocorrelation); tie
    groups come from one more grid-sized aggregate. Products reach
    n^3 ~ 1e12 at decade-long hourly grids and are HUGEINT/decimal
    lifted."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = cells.select("event_type", F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = cells.select(
        F.col("event_type").alias("et2"), F.col("h").alias("hb"), F.col("x").alias("xb")
    )
    s = (
        a.join(b, (F.col("et2") == F.col("event_type")) & (F.col("hb") > F.col("ha")))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.expr("CASE WHEN xb > xa THEN 1 WHEN xb < xa THEN -1 ELSE 0 END")
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = cells.groupBy("event_type").agg(F.count("*").cast("decimal(38,0)").alias("n"))
    ties = (
        cells.groupBy("event_type", "x")
        .agg(F.count("*").cast("decimal(38,0)").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(F.expr("t * (t - 1) * (2 * t + 5)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tie_corr")
        )
    )
    v = (
        nn.join(s, "event_type")
        .join(ties, "event_type")
        .withColumn("var18", F.expr("n * (n - 1) * (2 * n + 5) - tie_corr"))
    )
    return v.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "s_stat",
        F.col("var18").cast("long").alias("var_num18"),
        F.expr(
            "CASE WHEN s_stat > 0 THEN 'increasing'"
            " WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END"
        ).alias("trend"),
        F.expr(
            "CASE WHEN var18 = 0 OR abs(s_stat) <= 1 THEN 0"
            " ELSE CAST(CAST(abs(s_stat) - 1 AS DECIMAL(38,0))"
            " * (abs(s_stat) - 1) * 18 * 1000000 div var18 AS BIGINT) END"
        ).alias("z2_ppm"),
    )


@query(
    "win_decayed_engagement",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, value,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM {EVENTS} e),
    hz AS (SELECT max(us) AS max_us FROM ev),
    scored AS (
      SELECT user_id,
             CAST(floor(value * 1000) AS BIGINT)
               // (CAST(1 AS BIGINT) << least((max_us - us) // 86400000000, 62))
               AS dec_milli
      FROM ev CROSS JOIN hz),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dec_milli) AS BIGINT) AS engagement_milli
      FROM scored GROUP BY 1)
    SELECT CAST(row_number() OVER (ORDER BY engagement_milli DESC, user_id)
                AS BIGINT) AS rank,
           user_id, n_events, engagement_milli
    FROM agg
    QUALIFY rank <= 100
    """,
    tags=("W3", "F1", "F4", "O2"),
)
def win_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score with a 1-day half-life — the recsys
    / retention primitive (recency-weighted activity): each event
    contributes value * 2^(-age_days) relative to the dataset horizon,
    so yesterday's click counts half of today's. Exact by construction:
    the decay factor is a POWER OF TWO, so the per-event contribution is
    the integer floor(value*1000) >> age_days (shift capped at 62) — no
    transcendentals, no float accumulation, identical in both engines;
    per-user scores are exact integer sums and the top-100 ranking is
    total-ordered by (score, user_id).

    Scale: one scan, the 1-row horizon broadcast, one map-side-combined
    per-user sum, TakeOrdered top-k — the whole query is the cheapest
    possible shape for a full-corpus recency score."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.expr("unix_micros(ts)").alias("us")
    )
    hz = ev.agg(F.max("us").alias("max_us"))
    scored = ev.crossJoin(F.broadcast(hz)).select(
        "user_id",
        F.expr(
            "CAST(floor(value * 1000) AS BIGINT)"
            " div shiftleft(1L, CAST(least((max_us - us) div 86400000000, 62)"
            " AS INT))"
        ).alias("dec_milli"),
    )
    agg = scored.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("dec_milli").cast("long").alias("engagement_milli"),
    )
    top = agg.orderBy(F.desc("engagement_milli"), "user_id").limit(100)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.desc("engagement_milli"), "user_id"))
        .cast("long")
        .alias("rank"),
        "user_id",
        "n_events",
        "engagement_milli",
    )


_TWAP_ORACLE = f"""
    WITH seq AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CAST(floor(value * 1000) AS BIGINT) AS v_milli,
             ts, event_id
      FROM {EVENTS} ev),
    held AS (
      SELECT event_type, v_milli, us,
             lead(us) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id, us) AS next_us
      FROM seq),
    w AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_held,
             CAST(sum(CAST(v_milli AS HUGEINT) * (next_us - us)) AS HUGEINT)
               AS vw,
             CAST(sum(next_us - us) AS HUGEINT) AS dt
      FROM held WHERE next_us IS NOT NULL
      GROUP BY 1)
    SELECT event_type, n_held,
           CAST(dt AS BIGINT) AS held_us,
           CASE WHEN dt = 0 THEN NULL
                ELSE CAST(vw // dt AS BIGINT) END AS twap_milli
    FROM w
    """


@query(
    "timeseries_twap",
    oracle=_TWAP_ORACLE,
    tags=("W2", "F1", "F4", "A3"),
)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (TWAP — the
    finance/ops standard that de-biases irregular sampling: a value held
    for an hour weighs 3600x one held a second, where the plain mean
    pretends every observation covers equal time). Step-function
    semantics: each event's value holds until the type's next event
    (lead over the per-type order); the last observation has no holding
    interval and drops. Exact: values quantize once to milli (floor —
    both engines truncate the same double identically), weights are
    integer microseconds, and the weighted mean is one HUGEINT/decimal
    floor division at the end.

    Scale: one scan, one shuffle on the series key, a lag-shaped window
    per type, map-side-combined weighted sums. The v*dt product reaches
    ~1e3 * 1e13 us per row and the sum far past 2^63 — lifted."""
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("v_milli"),
        "ts",
        "event_id",
    )
    wlead = W.partitionBy("event_type").orderBy("ts", "event_id", "us")
    held = seq.select(
        "event_type",
        "v_milli",
        "us",
        F.lead("us").over(wlead).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    return held.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_held"),
        F.sum(F.expr("CAST(v_milli AS DECIMAL(38,0)) * (next_us - us)")).alias("_vw"),
        F.sum(F.expr("CAST(next_us - us AS DECIMAL(38,0))")).alias("_dt"),
    ).select(
        "event_type",
        "n_held",
        F.col("_dt").cast("long").alias("held_us"),
        # a type whose held intervals are all zero-length (coarse
        # timestamps) must report NULL, not crash ANSI division
        F.expr(
            "CASE WHEN _dt = 0 THEN NULL ELSE CAST(_vw div _dt AS BIGINT) END"
        ).alias("twap_milli"),
    )


_TWAP_CHUNK_US = 6 * 3_600_000_000  # 6-hour time chunks


@query(
    "timeseries_twap_chunked",
    oracle=_TWAP_ORACLE,
    tags=("W2", "F1", "F4", "A3", "A7"),
)
def timeseries_twap_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase TWAP — the parallel twin of timeseries_twap, same
    answer (the oracle IS timeseries_twap's oracle).

    timeseries_twap's per-type lead() window is UNSPLITTABLE and the
    type key has only 5 values, so every row sorts inside one of 5
    tasks regardless of cluster width — measured 10-11 s wall /
    2.1-2.4x straggler at sf10 on BOTH the uniform and hot-key fixtures
    (scripts/skew_bench.py, r9): the key is maximally hot by
    construction, the same way clk_sessionize's bot key is.

    The decomposition (clk_sessionize_chunked's recipe applied to a
    lead window): (1) compute lead(us) WITHIN (event_type, 6-hour time
    chunk) — each sort is chunk-bounded, parallelism = types x chunks
    (~600 partitions on the 30-day fixture, weeks x types at 100 TB);
    (2) per (type, chunk) take the chunk's first event time (min(us) —
    the window order (ts, event_id, us) is us-major since us IS
    unix_micros(ts), so equal-ts ties share a chunk and min(us) is the
    first row's us); (3) each chunk's LAST row (in-chunk lead NULL)
    takes the next non-empty chunk's first us via a lead over the tiny
    chunk table, broadcast back. coalesce(in-chunk, cross-chunk)
    reproduces the global lead exactly; the overall-last event per type
    stays NULL and drops, as in the one-window form."""
    seq = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("v_milli"),
        "ts",
        "event_id",
    ).withColumn("_chk", F.expr(f"us div {_TWAP_CHUNK_US}"))
    wc = W.partitionBy("event_type", "_chk").orderBy("ts", "event_id", "us")
    inchunk = seq.select(
        "event_type", "_chk", "v_milli", "us",
        F.lead("us").over(wc).alias("_next_in"),
    )
    chunk_firsts = seq.groupBy("event_type", "_chk").agg(
        F.min("us").alias("_first_us")
    )
    wn = W.partitionBy("event_type").orderBy("_chk")
    nxt = chunk_firsts.select(
        "event_type",
        "_chk",
        F.lead("_first_us").over(wn).alias("_next_chunk_us"),
    )
    held = (
        inchunk.join(F.broadcast(nxt), ["event_type", "_chk"])
        .select(
            "event_type",
            "v_milli",
            "us",
            F.coalesce("_next_in", "_next_chunk_us").alias("next_us"),
        )
        .where(F.col("next_us").isNotNull())
    )
    return held.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_held"),
        F.sum(F.expr("CAST(v_milli AS DECIMAL(38,0)) * (next_us - us)")).alias("_vw"),
        F.sum(F.expr("CAST(next_us - us AS DECIMAL(38,0))")).alias("_dt"),
    ).select(
        "event_type",
        "n_held",
        F.col("_dt").cast("long").alias("held_us"),
        F.expr(
            "CASE WHEN _dt = 0 THEN NULL ELSE CAST(_vw div _dt AS BIGINT) END"
        ).alias("twap_milli"),
    )


@query(
    "win_rolling_slope",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             CAST(count(*) AS HUGEINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    w AS (
      SELECT event_type, h, x,
             CAST(count(*) OVER win AS HUGEINT) AS n,
             sum(x) OVER win AS sx,
             sum(CAST(h AS HUGEINT)) OVER win AS sh,
             sum(CAST(h AS HUGEINT) * x) OVER win AS shx,
             sum(CAST(h AS HUGEINT) * h) OVER win AS shh
      FROM cells
      WINDOW win AS (PARTITION BY event_type ORDER BY h
                     RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT event_type, h, n,
             n * shx - sh * sx AS num,
             n * shh - sh * sh AS den
      FROM w)
    SELECT event_type, CAST(h AS BIGINT) AS h, CAST(n AS BIGINT) AS n_win,
           CAST(num * 1000 // den AS BIGINT) AS slope_milli
    FROM d WHERE n >= 12 AND den > 0
    """,
    tags=("W3", "F4", "T2"),
)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour OLS trend slope of each event type's hourly count
    series — the dashboard 'trend arrow' behind every rate panel,
    computed from the closed-form normal equations over rolling sums:
    slope = (n*Σhx - Σh*Σx) / (n*Σh² - (Σh)²), reported as exact
    milli-counts-per-hour. The plain num*1000 div/// den twin is exact
    because BOTH engines truncate integer/decimal division toward zero
    (DuckDB: -35 // 36 = 0, verified) — no sign split is needed; this
    matches graph_assortativity's statement and the _trunc_div helper.
    RANGE frame over the hour key so grid gaps shrink the
    window; n >= 12 warm-up guard as in the Bollinger monitor.

    Scale: event volume collapses to the (type x hour) grid in the
    first aggregate; the rolling sums run partitioned by type over the
    bounded grid. h² sums at epoch-hour magnitude exceed 2^63 over a
    24-row window: HUGEINT/decimal-lifted."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("decimal(38,0)").alias("x"))
    )
    win = W.partitionBy("event_type").orderBy("h").rangeBetween(-23, 0)
    d = cells.select(
        "event_type",
        "h",
        F.count("*").over(win).cast("decimal(38,0)").alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum(F.col("h").cast("decimal(38,0)")).over(win).alias("sh"),
        F.sum(F.col("h").cast("decimal(38,0)") * F.col("x")).over(win).alias("shx"),
        F.sum(F.col("h").cast("decimal(38,0)") * F.col("h")).over(win).alias("shh"),
    ).select(
        "event_type",
        "h",
        "n",
        F.expr("n * shx - sh * sx").alias("num"),
        F.expr("n * shh - sh * sh").alias("den"),
    )
    return d.where(F.expr("n >= 12 AND den > 0")).select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        F.col("n").cast("long").alias("n_win"),
        F.expr("CAST(num * 1000 div den AS BIGINT)").alias("slope_milli"),
    )


# --- Holt-Winters additive seasonal fold --------------------------------------
# alpha = 1/4, beta = 1/10, gamma = 1/5 as exact rational floor steps;
# season length 7 (day-of-week). State = [level, trend, step, s0..s6]
# (10 longs, milli-scaled). The level update appears inlined three times
# (SQL lambdas have no let-binding); both engines' text is generated from
# the same python template so the recurrences cannot drift.
_HW_M = 7


def _hw_fold_spark() -> str:
    L, T, K = "element_at(st, 1)", "element_at(st, 2)", "element_at(st, 3)"
    S = f"element_at(st, 4 + CAST({K} % {_HW_M} AS INT))"
    LP = f"((x - {S}) div 4 + (3 * ({L} + {T})) div 4)"
    TP = f"(({LP} - {L}) div 10 + (9 * {T}) div 10)"
    SP = f"((x - {LP}) div 5 + (4 * {S}) div 5)"
    seas = (
        f"transform(slice(st, 4, {_HW_M}), (v, i) ->"
        f" IF(i = CAST({K} % {_HW_M} AS INT), {SP}, v))"
    )
    return (
        f"aggregate(xs, cast(array(0,0,0{',0' * _HW_M}) as array<bigint>),"
        f" (st, x) -> concat(array({LP}, {TP}, {K} + 1), {seas}))"
    )


def _hw_fold_duck() -> str:
    # list_reduce needs accumulator and element types to MATCH, so each
    # scalar observation is lifted into a state-shaped list and read back
    # as xe[1] (the token-bucket twin's trick)
    L, T, K = "st[1]", "st[2]", "st[3]"
    S = f"st[4 + CAST({K} % {_HW_M} AS INT)]"
    LP = f"((xe[1] - {S}) // 4 + (3 * ({L} + {T})) // 4)"
    TP = f"(({LP} - {L}) // 10 + (9 * {T}) // 10)"
    SP = f"((xe[1] - {LP}) // 5 + (4 * {S}) // 5)"
    seas = (
        f"list_transform(st[4:{3 + _HW_M}], (v, i) ->"
        f" CASE WHEN i = CAST({K} % {_HW_M} AS INT) + 1 THEN {SP} ELSE v END)"
    )
    lifted = (
        f"list_transform(xs, v -> list_concat([v],"
        f" CAST([0,0{',0' * _HW_M}] AS BIGINT[])))"
    )
    return (
        f"list_reduce(list_prepend(CAST([0,0,0{',0' * _HW_M}] AS BIGINT[]),"
        f" {lifted}), (st, xe) -> list_concat([{LP}, {TP}, {K} + 1], {seas}))"
    )


HOLT_WINTERS_ORACLE = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
               AS d,
             CAST(count(*) * 1000 AS BIGINT) AS x_m
      FROM {EVENTS} ev GROUP BY 1, 2),
    series AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             list(x_m ORDER BY d) AS xs
      FROM daily GROUP BY 1),
    folded AS (
      SELECT event_type, n_days, {_hw_fold_duck()} AS st
      FROM series)
    SELECT event_type, n_days,
           st[1] AS level_milli, st[2] AS trend_milli,
           st[4 + CAST(st[3] % {_HW_M} AS INT)] AS season_next_milli,
           st[1] + st[2] + st[4 + CAST(st[3] % {_HW_M} AS INT)]
             AS forecast_next_milli
    FROM folded
    """


@query(
    "timeseries_holt_winters",
    oracle=HOLT_WINTERS_ORACLE,
    tags=("W2", "F7", "A8", "F4"),
)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple (additive) exponential smoothing per event
    type's DAILY count series — level + trend + day-of-week seasonality
    (Winters 1960), the forecasting workhorse one step above
    timeseries_holt_trend's double smoothing. alpha=1/4, beta=1/10,
    gamma=1/5 as exact rational floor steps on milli-scaled integers
    (integer division truncates identically in both engines, verified
    for negative trends), zero-initialized state — a documented
    simplification standard for streaming HW; the recurrence itself is
    the full textbook triple update with a ROTATING 7-slot seasonal
    array carried through the fold ([level, trend, step, s0..s6] — the
    first fold state in the repo with per-step array surgery). Reports
    the final state plus the one-step-ahead forecast level + trend +
    season[next].

    Scale: one scan -> (type, day) counts (map-side combine), one
    shuffle on the series key, the fold runs inside codegen per type
    over the day-bounded array. Both engines' fold text is generated
    from ONE python template (the twin-fold discipline)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").alias(
                "d"
            ),
        )
        .agg(F.expr("CAST(count(*) * 1000 AS BIGINT)").alias("x_m"))
    )
    series = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("transform(array_sort(collect_list(struct(d, x_m))), s -> s.x_m)").alias(
            "xs"
        ),
    )
    folded = series.select(
        "event_type", "n_days", F.expr(_hw_fold_spark()).alias("st")
    )
    nxt = f"element_at(st, 4 + CAST(element_at(st, 3) % {_HW_M} AS INT))"
    return folded.select(
        "event_type",
        "n_days",
        F.expr("element_at(st, 1)").alias("level_milli"),
        F.expr("element_at(st, 2)").alias("trend_milli"),
        F.expr(nxt).alias("season_next_milli"),
        F.expr(f"element_at(st, 1) + element_at(st, 2) + {nxt}").alias(
            "forecast_next_milli"
        ),
    )


_SLO_WEEK_HOURS = 168


SLO_BURN_ORACLE = f"""
    WITH cells AS (
      SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS err
      FROM {EVENTS} ev GROUP BY 1),
    rolled AS (
      SELECT h, n, err,
             sum(n)   OVER win AS n6,
             sum(err) OVER win AS err6
      FROM cells
      WINDOW win AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)),
    burns AS (
      SELECT h, n AS n_1h, err AS err_1h,
             CAST(err * 5000000 // n AS BIGINT) AS burn1_ppm,
             CAST(err6 * 5000000 // n6 AS BIGINT) AS burn6_ppm
      FROM rolled)
    SELECT h, n_1h, err_1h, burn1_ppm, burn6_ppm
    FROM burns
    WHERE burn1_ppm >= 1100000 AND burn6_ppm >= 1050000
    """


@query(
    "ops_slo_burn_rate",
    oracle=SLO_BURN_ORACLE,
    tags=("A2", "W3", "F1"),
)
def ops_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn-rate alert (the Google SRE
    workbook's multi-burn-rate recipe): with a 20% error budget, each
    hour's burn = error_rate / budget in ppm (1e6 = burning exactly at
    budget), and an alert fires only when BOTH the fast window (1 h,
    >=1.1x budget) and the slow window (6 h rolling, >=1.05x budget)
    burn hot — the two-window AND is what keeps one noisy hour from
    paging while still catching sustained burns. Exact integer floors;
    RANGE frame over the hour key so grid gaps shrink the slow window
    (an hour with no traffic cannot dilute the burn).

    Scale: event volume collapses to the bounded hourly grid in one
    map-side-combined aggregate. The rolling window then runs
    HALO-PARTITIONED by week (h div 168): each week's last 5 cells are
    replicated into the next week's partition as halo rows, the RANGE
    window runs within (week + halo), and halo rows are dropped from
    the output — the rolling sums are exact at any grid length with
    parallelism = #weeks, no single-partition global window (the
    DuckDB twin uses the plain global window, so the halo decomposition
    is verified against the direct formulation row-for-row)."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "CAST(unix_micros(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600000000"
            ).alias("h"),
            F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END").alias("e"),
        )
        .groupBy("h")
        .agg(F.count("*").alias("n"), F.sum("e").cast("long").alias("err"))
    )
    week = F.expr(f"h div {_SLO_WEEK_HOURS}")
    own = cells.select("h", "n", "err", week.alias("_wk"), F.lit(0).alias("_halo"))
    halo = (
        cells.where(F.expr(f"h % {_SLO_WEEK_HOURS} >= {_SLO_WEEK_HOURS - 5}"))
        .select("h", "n", "err", (week + 1).alias("_wk"), F.lit(1).alias("_halo"))
    )
    win = (
        W.partitionBy("_wk").orderBy("h").rangeBetween(-5, 0)
    )
    rolled = (
        own.unionByName(halo)
        .select(
            "h", "n", "err", "_halo",
            F.sum("n").over(win).alias("n6"),
            F.sum("err").over(win).alias("err6"),
        )
        .where(F.col("_halo") == 0)
    )
    return rolled.select(
        "h",
        F.col("n").alias("n_1h"),
        F.col("err").alias("err_1h"),
        F.expr("err * 5000000 div n").alias("burn1_ppm"),
        F.expr("err6 * 5000000 div n6").alias("burn6_ppm"),
    ).where("burn1_ppm >= 1100000 AND burn6_ppm >= 1050000")


@query(
    "timeseries_burstiness",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               // 3600000000 AS h,
             CAST(count(*) AS HUGEINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    -- the Fano factor is over the FULL hourly series of each type's
    -- active span: silent hours are real zero observations (dropping
    -- them biases F toward 'paced' for any sparse series — and both
    -- engines would share the bias, so it is fixed by construction,
    -- not caught by the gate)
    s AS (
      SELECT event_type,
             CAST(max(h) - min(h) + 1 AS HUGEINT) AS n,
             sum(x) AS sx,
             sum(x * x) AS sxx
      FROM cells GROUP BY 1)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(sx AS BIGINT) AS n_events,
           CAST((n * sxx - sx * sx) * 1000 // (n * sx) AS BIGINT)
             AS fano_milli
    FROM s
    """,
    tags=("A3", "F4", "F1"),
)
def timeseries_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type's arrival process: the Fano factor
    (index of dispersion) of hourly counts, F = Var/Mean — 1000 milli
    for a Poisson process, >> 1000 for bursty traffic (bot storms,
    thundering herds), < 1000 for rate-limited/paced flows. The ops
    statistic behind 'is this alert volume organic'. The series is each
    type's FULL active span (max h - min h + 1): silent hours are real
    zero observations — they contribute nothing to the moment sums, so
    the densified grid costs only the span arithmetic, never a spine
    join. Exact closed form:
    F_milli = (n*Σx² - (Σx)²) * 1000 div (n*Σx) (population variance
    over mean, cleared of nested divisions by cross-multiplying).

    Scale: event volume collapses onto the bounded (type, hour) grid in
    one map-side-combined aggregate; the moment sums are a second
    3-sum aggregate over the grid. Σx² at corpus scale passes 2^63 —
    HUGEINT/decimal-lifted."""
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_micros(date_trunc('hour', ts)) AS BIGINT)"
                " div 3600000000"
            ).alias("h"),
        )
        .agg(F.count("*").cast("decimal(38,0)").alias("x"))
    )
    # silent hours are zero observations: they add nothing to the moment
    # sums, so densifying the grid is just n = active-span length
    s = cells.groupBy("event_type").agg(
        F.expr("CAST(max(h) - min(h) + 1 AS DECIMAL(38,0))").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("sx").cast("long").alias("n_events"),
        F.expr(
            "CAST((n * sxx - sx * sx) * 1000 div (n * sx) AS BIGINT)"
        ).alias("fano_milli"),
    )


@query(
    "timeseries_max_drawdown",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    walked AS (
      SELECT event_type, d, x,
             max(x) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS peak
      FROM cells),
    dd AS (
      SELECT event_type, d, x, peak, peak - x AS drawdown,
             CAST((peak - x) * 1000000 // peak AS BIGINT) AS dd_ppm
      FROM walked)
    SELECT event_type,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown,
           CAST(max(dd_ppm) AS BIGINT) AS max_drawdown_ppm,
           CAST(min(CASE WHEN dd_ppm = (SELECT max(d2.dd_ppm) FROM dd d2
                                        WHERE d2.event_type = dd.event_type)
                    THEN d END) AS BIGINT) AS trough_day
    FROM dd
    GROUP BY event_type
    """,
    tags=("W3", "A3", "F1"),
)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each type's daily-count series — the
    peak-to-trough statistic finance runs on equity curves and ops runs
    on traffic ('how far below the best day have we fallen, at worst'):
    drawdown(d) = running_max - x(d), reported absolute and as exact
    ppm of the then-current peak, plus the first day attaining the
    worst ppm. One running-max window per type over the bounded daily
    grid; the trough day is the min-day argmax, deterministic on ties.

    Scale: event volume collapses onto (type, day) cells in one
    map-side-combined aggregate; windows run per type over the bounded
    grid; the argmax is a per-type max broadcast back (the oracle's
    correlated subquery form, expressed as one extra tiny join)."""
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .agg(F.count("*").cast("long").alias("x"))
    )
    wpk = W.partitionBy("event_type").orderBy("d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    dd = cells.select(
        "event_type",
        "d",
        F.expr("CAST(0 AS BIGINT)").alias("_z"),
        (F.max("x").over(wpk) - F.col("x")).alias("drawdown"),
        F.expr(
            "CAST((max(x) OVER (PARTITION BY event_type ORDER BY d"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - x)"
            " * 1000000 div max(x) OVER (PARTITION BY event_type ORDER BY d"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        ).alias("dd_ppm"),
    ).drop("_z")
    worst = dd.groupBy("event_type").agg(
        F.max("drawdown").cast("long").alias("max_drawdown"),
        F.max("dd_ppm").cast("long").alias("max_drawdown_ppm"),
    )
    trough = (
        dd.join(
            F.broadcast(
                worst.select("event_type", F.col("max_drawdown_ppm").alias("_w"))
            ),
            "event_type",
        )
        .where(F.col("dd_ppm") == F.col("_w"))
        .groupBy("event_type")
        .agg(F.min("d").cast("long").alias("trough_day"))
    )
    return worst.join(trough, "event_type")


@query(
    "eval_forecast_mase",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    sp AS (
      SELECT event_type, min(d) + (max(d) - min(d)) * 4 // 5 AS cut
      FROM cells GROUP BY 1),
    naive AS (
      SELECT c.event_type,
             CAST(sum(abs(c.x - p.x)) AS BIGINT) AS sae_n,
             CAST(count(*) AS BIGINT) AS n_n
      FROM cells c
      JOIN cells p ON c.event_type = p.event_type AND p.d = c.d - 1
      JOIN sp ON sp.event_type = c.event_type
      WHERE c.d <= sp.cut GROUP BY 1),
    seas AS (
      SELECT c.event_type,
             CAST(sum(abs(c.x - p.x)) AS BIGINT) AS sae_f,
             CAST(count(*) AS BIGINT) AS n_f
      FROM cells c
      JOIN cells p ON c.event_type = p.event_type AND p.d = c.d - 7
      JOIN sp ON sp.event_type = c.event_type
      WHERE c.d > sp.cut GROUP BY 1)
    SELECT naive.event_type AS event_type,
           n_n AS n_train_pairs, n_f AS n_test_pairs,
           sae_n AS train_naive_sae, sae_f AS test_seasonal_sae,
           CASE WHEN sae_n = 0 OR n_f = 0 THEN 0
                ELSE CAST(CAST(sae_f AS HUGEINT) * n_n * 1000000
                          // (CAST(sae_n AS HUGEINT) * n_f) AS BIGINT)
           END AS mase_ppm
    FROM naive JOIN seas ON naive.event_type = seas.event_type
    """,
    tags=("A3", "J7", "F1"),
)
def eval_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest scored by MASE (Hyndman-Koehler 2006) — the
    scale-free accuracy number the timeseries lane's smoothers
    (holt_trend, holt_winters) get graded with in production: on each
    type's daily-count series, the last fifth of the span is the test
    window, the forecaster is week-over-week seasonal naive
    (x_hat(d) = x(d-7)), and the scaling denominator is the in-sample
    one-step naive MAE (x(d) vs x(d-1)) over the training window.
    MASE < 1 means the weekly structure beats carrying yesterday
    forward. Both MAEs are exact integer sums of absolute count
    differences; the ratio is one cross-multiplied floor division, so
    the metric hash-matches cross-engine with zero float window.
    Missing days drop out of both legs identically (the lag is an
    inner self-join on d-1 / d-7, not a positional window).

    Scale: event volume collapses onto (type, day) cells in one
    map-side-combined aggregate; both lag joins and the split bounds
    run over the bounded daily-grid table."""
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .agg(F.count("*").cast("long").alias("x"))
        .localCheckpoint(eager=False)
    )
    sp = cells.groupBy("event_type").agg(
        (F.min("d") + F.expr("(max(d) - min(d)) * 4 div 5")).alias("cut")
    )
    c = cells.select(
        F.col("event_type").alias("et"), F.col("d"), F.col("x")
    )
    p1 = cells.select(
        F.col("event_type").alias("et"),
        (F.col("d") + 1).alias("pd1"),
        F.col("x").alias("px"),
    )
    p7 = cells.select(
        F.col("event_type").alias("et"),
        (F.col("d") + 7).alias("pd7"),
        F.col("x").alias("px"),
    )
    spb = F.broadcast(
        sp.select(F.col("event_type").alias("et"), "cut")
    )
    naive = (
        c.join(p1, (c.et == p1.et) & (c.d == p1.pd1))
        .drop(p1.et)
        .join(spb, "et")
        .where(F.col("d") <= F.col("cut"))
        .groupBy("et")
        .agg(
            F.sum(F.abs(F.col("x") - F.col("px"))).cast("long").alias("sae_n"),
            F.count("*").cast("long").alias("n_n"),
        )
    )
    seas = (
        c.join(p7, (c.et == p7.et) & (c.d == p7.pd7))
        .drop(p7.et)
        .join(spb, "et")
        .where(F.col("d") > F.col("cut"))
        .groupBy("et")
        .agg(
            F.sum(F.abs(F.col("x") - F.col("px"))).cast("long").alias("sae_f"),
            F.count("*").cast("long").alias("n_f"),
        )
    )
    return naive.join(seas, "et").select(
        F.col("et").alias("event_type"),
        F.col("n_n").alias("n_train_pairs"),
        F.col("n_f").alias("n_test_pairs"),
        F.col("sae_n").alias("train_naive_sae"),
        F.col("sae_f").alias("test_seasonal_sae"),
        F.expr(
            "CASE WHEN sae_n = 0 OR n_f = 0 THEN 0"
            " ELSE CAST(CAST(sae_f AS DECIMAL(38,0)) * n_n * 1000000"
            " div (CAST(sae_n AS DECIMAL(38,0)) * n_f) AS BIGINT) END"
        ).alias("mase_ppm"),
    )


# Shared ACF CTE text for the dominant-period argmax (identical cells/
# tot/lags chain to timeseries_autocorrelation's oracle).
_ACF_CTES = f"""
    cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               // 3600000000 AS h,
             count(*) AS x
      FROM {EVENTS} ev GROUP BY 1, 2),
    tot AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM cells GROUP BY 1),
    lags AS (
      SELECT a.event_type, k.k,
             CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(a.x * b.x) AS HUGEINT) AS sab,
             CAST(sum(a.x) AS HUGEINT) AS sa,
             CAST(sum(b.x) AS HUGEINT) AS sb
      FROM cells a
      JOIN unnest(generate_series(1, 24)) AS k(k) ON true
      JOIN cells b ON b.event_type = a.event_type AND b.h = a.h + k.k
      GROUP BY 1, 2),
    acf AS (
      SELECT l.event_type, CAST(l.k AS BIGINT) AS k,
             CAST(l.m AS BIGINT) AS n_pairs,
             CAST((t.n * t.n * l.sab - t.n * t.s * (l.sa + l.sb)
                   + l.m * t.s * t.s) * 1000000
                  // (t.n * t.n * t.sxx - t.n * t.s * t.s) AS BIGINT)
               AS acf_ppm
      FROM lags l JOIN tot t USING (event_type))"""

# Rebind the ACF query's oracle onto the SAME shared CTE chain: the
# dominant-period query composes the registered Spark plan, so the two
# oracles must also share one text (the review's drift-risk finding).
from .registry import REGISTRY as _R  # noqa: E402

_R["timeseries_autocorrelation"].oracle = (
    f"WITH {_ACF_CTES} SELECT event_type, k, n_pairs, acf_ppm FROM acf"
)


@query(
    "timeseries_dominant_period",
    oracle=f"""
    WITH {_ACF_CTES},
    best AS (
      SELECT event_type, max(acf_ppm) AS best_acf_ppm
      FROM acf WHERE k >= 2 GROUP BY event_type),
    arg AS (
      SELECT a.event_type,
             CAST(min(a.k) AS BIGINT) AS dominant_lag_hours,
             CAST(min(b.best_acf_ppm) AS BIGINT) AS best_acf_ppm
      FROM acf a JOIN best b
        ON a.event_type = b.event_type AND a.acf_ppm = b.best_acf_ppm
      WHERE a.k >= 2 GROUP BY a.event_type)
    SELECT arg.event_type AS event_type, dominant_lag_hours, best_acf_ppm,
           CAST(acf.acf_ppm AS BIGINT) AS acf1_ppm,
           best_acf_ppm > acf.acf_ppm AS beats_lag1
    FROM arg JOIN acf ON acf.event_type = arg.event_type AND acf.k = 1
    """,
    tags=("W2", "F4", "J8"),
)
def timeseries_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection — the order-selection readout the ACF
    exists for, shipped as its own query so a scheduler can consume it
    without re-deriving the argmax: per series, the lag in [2, 24]
    hours with the highest exact-integer ACF (min-lag deterministic on
    ties), that peak value, the lag-1 ACF for reference, and the
    beats_lag1 verdict (a true periodic component outscores plain
    burst persistence; a monotone-decay series reports false and the
    'period' is just the slowest decay point). Composes the REGISTERED
    timeseries_autocorrelation plan — same cells/moments/lag-join
    chain, so the two queries cannot drift.

    Scale: inherits the ACF shape (grid x 24 lag join over the
    time-bounded hourly grid); the argmax adds two joins over the
    #series x 24 ACF table — constant-size regardless of corpus."""
    acf = timeseries_autocorrelation(spark, sf_dir).localCheckpoint(
        eager=False
    )
    k2 = acf.filter(F.col("k") >= 2)
    best = k2.groupBy("event_type").agg(
        F.max("acf_ppm").alias("best_acf_ppm")
    )
    arg = (
        k2.join(F.broadcast(best), "event_type")
        .where(F.col("acf_ppm") == F.col("best_acf_ppm"))
        .groupBy("event_type")
        .agg(
            F.min("k").cast("long").alias("dominant_lag_hours"),
            F.min("best_acf_ppm").cast("long").alias("best_acf_ppm"),
        )
    )
    acf1 = acf.filter(F.col("k") == 1).select(
        "event_type", F.col("acf_ppm").alias("acf1_ppm")
    )
    return arg.join(F.broadcast(acf1), "event_type").select(
        "event_type",
        "dominant_lag_hours",
        "best_acf_ppm",
        "acf1_ppm",
        (F.col("best_acf_ppm") > F.col("acf1_ppm")).alias("beats_lag1"),
    )


@query(
    "timeseries_croston",
    oracle=f"""
    WITH RECURSIVE dem AS (
      SELECT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS z
      FROM {EVENTS} e WHERE event_type = 'purchase'
      GROUP BY 1, 2),
    g AS (
      SELECT user_id,
             list(d ORDER BY d) AS ds, list(z ORDER BY d) AS zs
      FROM dem GROUP BY user_id),
    st AS (
      SELECT user_id, ds, zs, CAST(1 AS BIGINT) AS t,
             zs[1] AS sz, CAST(1 AS BIGINT) AS iv
      FROM g
      UNION ALL
      SELECT user_id, ds, zs, t + 1,
             (zs[t+1] + 3 * sz) // 4,
             ((ds[t+1] - ds[t]) + 3 * iv) // 4
      FROM st WHERE t < len(ds)),
    fin AS (
      SELECT user_id, t AS n_demands, sz, iv
      FROM st WHERE t = len(ds))
    SELECT user_id, n_demands,
           sz AS size_level, iv AS interval_level,
           CASE WHEN iv = 0 THEN 0
                ELSE CAST(sz * 1000000 // iv AS BIGINT)
           END AS demand_rate_ppm
    FROM fin
    """,
    tags=("W3", "F7", "A3"),
)
def timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) for INTERMITTENT demand — the forecaster
    the Holt family is wrong for: when most periods are zero (per-user
    purchase days), exponential smoothing of the raw series decays
    toward zero between demands; Croston instead smooths two separate
    series AT DEMAND POINTS ONLY — the nonzero demand size and the
    inter-demand interval (alpha = 1/4 both, integer recurrence
    s' = (z + 3s) div 4, v' = (gap + 3v) div 4, init s = z_1, v = 1)
    — and forecasts the demand RATE size/interval, here as an exact
    ppm ratio. Updating only at demand points means the state arrays
    hold one entry per DEMAND, not per day: no zero-filled grid ever
    materializes. Two-field fold state, so the oracle unrolls via the
    recursive CTE (the holt_trend list_reduce-unsafety lesson) while
    Spark folds a named_struct inside codegen.

    Scale: one filtered scan -> (user, day) aggregate (map-side
    combined), one shuffle on the series key, fold inside
    whole-stage codegen over the per-user demand array."""
    ev = load_table(spark, sf_dir, "events")
    dem = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.expr(
                "CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .agg(F.count("*").cast("long").alias("z"))
    )
    g = dem.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("d", "z"))).alias("ss")
    )
    fold = F.expr(
        "aggregate(slice(ss, 2, size(ss) - 1), "
        "named_struct('sz', ss[0].z, 'iv', 1L, 'pd', ss[0].d, 't', 1L), "
        "(acc, x) -> named_struct("
        "  'sz', (x.z + 3L * acc.sz) div 4L, "
        "  'iv', ((x.d - acc.pd) + 3L * acc.iv) div 4L, "
        "  'pd', x.d, "
        "  't', acc.t + 1L))"
    )
    return (
        g.select("user_id", fold.alias("st"))
        .select(
            "user_id",
            F.col("st.t").alias("n_demands"),
            F.col("st.sz").alias("size_level"),
            F.col("st.iv").alias("interval_level"),
            F.expr(
                "CASE WHEN st.iv = 0 THEN 0"
                " ELSE CAST(CAST(st.sz AS DECIMAL(38,0)) * 1000000"
                " div st.iv AS BIGINT) END"
            ).alias("demand_rate_ppm"),
        )
    )
