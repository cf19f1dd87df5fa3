"""J5 stream-stream join + T5/T7 stateful alert-once + S3 catalog table
+ S9 incremental read tests."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from amazonbigdata_for_students_spark import fixtures, schemas
from amazonbigdata_for_students_spark.sources import catalog, sinks
from amazonbigdata_for_students_spark.streaming import pipelines, sources
from amazonbigdata_for_students_spark.streaming.batch_twins import _run_to_end


@pytest.fixture(scope="module")
def fx():
    return fixtures.generate(
        seed=23, n_users=6, n_items=8, min_lines=20, max_lines=50, review_fraction=0.3
    )


def _write_jsonl(recs, path, fields=None):
    with open(path, "w") as f:
        for r in recs:
            out = {k: v for k, v in r.items() if not k.startswith("_")}
            if fields:
                out = {k: out[k] for k in fields}
            f.write(json.dumps(out, sort_keys=True) + "\n")


def test_stream_stream_join_matches_batch(spark, fx, tmp_path):
    vdir, rdir = tmp_path / "views", tmp_path / "reviews"
    vdir.mkdir(), rdir.mkdir()
    _write_jsonl(fx.views, vdir / "v.jsonl")
    _write_jsonl(fx.reviews, rdir / "r.jsonl")

    views_s = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, str(vdir), schemas.VIEW_EVENT_RAW)
    )
    reviews_s = sources.read_jsonl_stream(
        spark, str(rdir), schemas.REVIEW_EVENT_RAW
    ).select(
        F.col("item_id").cast("long").alias("item_id"),
        F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
        "user_ip",
        "review_stars",
    )
    joined = pipelines.join_views_reviews(views_s, reviews_s)
    _run_to_end(joined.writeStream.format("memory").queryName("ss_join"), spark)
    got = spark.sql("SELECT * FROM ss_join").count()

    # batch twin: same join condition on static frames
    from amazonbigdata_for_students_spark.plans import botdetect

    v_b = botdetect.normalize_views(fixtures.views_df(spark, fx)).select(
        F.col("user_ip").alias("v_user_ip"),
        F.col("item_id").alias("v_item_id"),
        F.col("ts").alias("view_ts"),
    )
    r_b = fixtures.reviews_df(spark, fx).select(
        F.col("item_id").cast("long").alias("item_id"),
        F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("review_ts"),
        "user_ip",
        "review_stars",
    )
    cond = (
        (F.col("user_ip") == F.col("v_user_ip"))
        & (F.col("item_id") == F.col("v_item_id"))
        & (F.col("view_ts") <= F.col("review_ts"))
        & (F.col("view_ts") >= F.col("review_ts") - F.expr("INTERVAL 15 minutes"))
    )
    want = v_b.join(r_b, cond, "inner").count()
    assert got == want > 0


def test_stateful_alert_once(spark, fx, tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    _write_jsonl(fx.views, d / "v.jsonl")
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, str(d), schemas.VIEW_EVENT_RAW)
    )
    alerts = pipelines.alert_once_stateful(stream, threshold=5, window="1 minute")
    q = (
        alerts.writeStream.format("memory")
        .queryName("stateful_alerts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stateful_alerts").collect()
    assert rows
    starts = [r.window_start for r in rows]
    assert len(starts) == len(set(starts))  # fired at most once per window
    assert all(r.n_events > 5 for r in rows)


def test_catalog_json_table_with_pruning(spark, fx, tmp_path):
    # land the fixture as hive-partitioned JSON, then declare the external
    # table + repair partitions (S3), and check partition pruning applies
    from amazonbigdata_for_students_spark.plans import botdetect

    silver = botdetect.normalize_views(fixtures.views_df(spark, fx))
    landed = str(tmp_path / "landed_json")
    (
        silver.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .withColumn("hour", F.hour("ts"))
        .repartition(1)
        .write.partitionBy("year", "month", "day", "hour")
        .json(landed)
    )
    warehouse_prev = spark.conf.get("spark.sql.catalogImplementation", "in-memory")
    catalog.create_json_table(
        spark,
        "views_json",
        landed,
        "item_id BIGINT, ts TIMESTAMP, device_type STRING, device_family STRING, "
        "device_os STRING, device_id STRING, user_ip STRING",
        ["year", "month", "day", "hour"],
    )
    total = catalog.query_table(spark, "SELECT count(*) AS n FROM views_json").collect()[0].n
    assert total == len(fx.views)
    pruned = catalog.query_table(
        spark, "SELECT count(*) AS n FROM views_json WHERE hour = 3"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(hour" in plan
    assert pruned.collect()[0].n == sum(1 for v in fx.views if v["ts"][11:13] == "03")
    spark.sql("DROP TABLE views_json")


def test_incremental_read_modified_after(spark, fx, tmp_path):
    base = str(tmp_path / "inc")
    silver_schema = (
        "item_id long, ts timestamp, device_type string, device_family string, "
        "device_os string, device_id string, user_ip string"
    )
    from amazonbigdata_for_students_spark.plans import botdetect

    silver = botdetect.normalize_views(fixtures.views_df(spark, fx))
    silver.limit(100).repartition(1).write.parquet(base + "/batch1")
    time.sleep(1.2)
    checkpoint_time = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
    time.sleep(1.2)
    silver.limit(50).repartition(1).write.parquet(base + "/batch2")
    newer = sinks.read_incremental(spark, base, silver.schema, checkpoint_time)
    assert newer.count() == 50  # only batch2 (after the bookmark)
