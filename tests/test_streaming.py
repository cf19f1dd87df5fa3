"""Streaming tests (SURVEY.md §5.3): streaming-as-batch equivalence via
Trigger.AvailableNow over JSONL fixture dirs, dedup of at-least-once
delivery, watermark late-data policy, alert-once, exactly-once sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from amazonbigdata_for_students_spark import fixtures, schemas
from amazonbigdata_for_students_spark.plans import botdetect
from amazonbigdata_for_students_spark.streaming import pipelines, sources
from amazonbigdata_for_students_spark.streaming.batch_twins import (
    _STATE_PARTITIONS,
    _run_to_end,
)


@pytest.fixture(scope="module")
def fx():
    return fixtures.generate(seed=11, n_users=8, n_items=10, min_lines=20, max_lines=60)


@pytest.fixture(scope="module")
def stream_dir(fx, tmp_path_factory):
    # Split the fixture across several JSONL files (≈ Kinesis shards /
    # Firehose flush files) with sorted keys like the reference producer.
    d = tmp_path_factory.mktemp("views_stream")
    chunk = max(1, len(fx.views) // 4)
    for i in range(0, len(fx.views), chunk):
        with open(os.path.join(d, f"part-{i:08d}.jsonl"), "w") as f:
            for rec in fx.views[i : i + chunk]:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
    return str(d)


def _drain(df, name: str, mode: str = "append"):
    writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    _run_to_end(writer, df.sparkSession)


def test_stream_batch_equivalence_windowed_counts(spark, fx, stream_dir):
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
    )
    _drain(pipelines.windowed_popularity(stream, window="15 minutes"), "pop_stream")
    got = {
        (r.window_start, r.item_id): r.n_views
        for r in spark.sql("SELECT * FROM pop_stream").collect()
    }
    batch = botdetect.normalize_views(fixtures.views_df(spark, fx))
    want = {
        (r.ws, r.item_id): r.n
        for r in batch.groupBy(
            F.window("ts", "15 minutes").alias("w"), "item_id"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "item_id", "n")
        .collect()
    }
    # Append mode withholds windows newer than the watermark; everything
    # emitted must match the batch twin, and coverage must be substantial.
    assert got
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) - len({k[1] for k in want})  # ≤1 open window/item


def test_streaming_dedup_at_least_once(spark, fx, tmp_path):
    # Replay every record twice (at-least-once delivery), then dedup.
    d = tmp_path / "dup_stream"
    d.mkdir()
    recs = fx.views[:200]
    for name, chunk in (("a", recs), ("b", recs)):  # duplicate file pair
        with open(d / f"{name}.jsonl", "w") as f:
            for rec in chunk:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, str(d), schemas.VIEW_EVENT_RAW)
    )
    suspicious = spark.createDataFrame([], "user_ip string")
    _drain(pipelines.clean_stream(stream, suspicious), "dedup_stream")
    n = spark.sql("SELECT count(*) AS n FROM dedup_stream").collect()[0].n
    distinct_keys = {(r["user_ip"], r["ts"], r["item_id"]) for r in recs}
    assert n == len(distinct_keys)


def test_kafka_shaped_source_matches_jsonl_path(spark, fx, stream_dir):
    # S2 production analogue: the kafka-shaped dev harness must yield the
    # same typed payload rows as the plain JSONL file stream, plus the
    # wire metadata columns, through the SAME normalize path.
    kafka = sources.read_kafka_stream(
        spark, schemas.VIEW_EVENT_RAW, dev_jsonl_path=stream_dir, topic="views"
    )
    assert "_topic" in kafka.columns and "_ingest_ts" in kafka.columns
    _drain(pipelines.normalize_stream(kafka.drop("_topic", "_ingest_ts")), "kafka_norm")
    _drain(
        pipelines.normalize_stream(
            sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
        ),
        "jsonl_norm",
    )
    key = lambda r: (r.user_ip, r.ts, r.item_id, r.device_type, r.device_id)  # noqa: E731
    got = sorted(map(key, spark.sql("SELECT * FROM kafka_norm").collect()))
    want = sorted(map(key, spark.sql("SELECT * FROM jsonl_norm").collect()))
    assert got == want and len(got) > 0


def test_kafka_shaped_source_composes_with_clean_stream(spark, fx, stream_dir):
    # clean_stream (watermark + dedup + anti-join) must compose over the
    # kafka-shaped source unchanged — the VERDICT r2 item-5 contract.
    stream = pipelines.normalize_stream(
        sources.read_kafka_stream(
            spark, schemas.VIEW_EVENT_RAW, dev_jsonl_path=stream_dir
        ).drop("_topic", "_ingest_ts")
    )
    bot_ip = sorted({v["user_ip"] for v in fx.views})[0]
    suspicious = spark.createDataFrame([(bot_ip,)], "user_ip string")
    _drain(pipelines.clean_stream(stream, suspicious), "kafka_clean")
    rows = spark.sql("SELECT * FROM kafka_clean").collect()
    assert rows
    assert bot_ip not in {r.user_ip for r in rows}


def test_kafka_stream_requires_exactly_one_mode(spark):
    with pytest.raises(ValueError):
        sources.read_kafka_stream(spark, schemas.VIEW_EVENT_RAW)
    with pytest.raises(ValueError):
        sources.read_kafka_stream(
            spark, schemas.VIEW_EVENT_RAW, bootstrap_servers="b:9092", dev_jsonl_path="/x"
        )


def test_stream_static_anti_join_filters_ips(spark, fx, stream_dir):
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
    )
    bot_ip = sorted({v["user_ip"] for v in fx.views})[0]
    suspicious = spark.createDataFrame([(bot_ip,)], "user_ip string")
    _drain(pipelines.clean_stream(stream, suspicious), "filtered_stream")
    out_ips = {
        r.user_ip for r in spark.sql("SELECT DISTINCT user_ip FROM filtered_stream").collect()
    }
    assert bot_ip not in out_ips
    assert len(out_ips) >= 1


def test_session_windows(spark, fx, stream_dir):
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
    )
    # small gap + tight watermark: sessions must close (and the watermark
    # must pass them) within the single fixture hour for append mode to emit
    _drain(
        pipelines.session_activity(stream, gap="2 minutes", watermark="1 minute"),
        "sessions_stream",
    )
    rows = spark.sql("SELECT * FROM sessions_stream").collect()
    assert rows
    for r in rows:
        assert r.session_end > r.session_start and r.n_events >= 1


def test_alert_once_per_window(spark, fx, stream_dir, tmp_path):
    stream = pipelines.normalize_stream(
        sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
    )
    alerts: list = []
    q = pipelines.high_traffic_alerts(
        stream,
        threshold=5,
        on_alert=lambda rows: alerts.extend(rows),
        window="1 minute",
        checkpoint=str(tmp_path / "alert_ckpt"),
    )
    q.awaitTermination()
    assert alerts  # fixture bots guarantee >5 events in some minute
    starts = [a.window_start for a in alerts]
    assert len(starts) == len(set(starts))  # alert-once per window
    for a in alerts:
        assert a.n_events > 5


def test_partitioned_sink_exactly_once(spark, fx, stream_dir, tmp_path):
    raw = sources.read_jsonl_stream(spark, stream_dir, schemas.VIEW_EVENT_RAW)
    stream = pipelines.normalize_stream(raw).withColumns(
        {
            "year": F.year("ts"),
            "month": F.month("ts"),
            "day": F.dayofmonth("ts"),
            "hour": F.hour("ts"),
        }
    )
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    q = sources.write_partitioned_stream(stream, out, ckpt, available_now=True)
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == len(fx.views)
    # re-run with same checkpoint: no new input => no duplicates (T8/S9)
    q2 = sources.write_partitioned_stream(stream, out, ckpt, available_now=True)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1
    # hive partition dirs exist
    assert any(p.startswith("year=") for p in os.listdir(out) if not p.startswith("_"))


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """T4 — late-data policy. Within one run Spark's late-drop is
    best-effort, so the *guaranteed* contract is across checkpointed runs:
    the watermark persisted by run 1 gates run 2, and a record older than
    it must not resurrect an already-finalized window."""
    d = tmp_path / "late"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    on_time = [
        {"item_id": "1", "ts": f"2024-01-01T10:{mm:02d}:00Z", "device_type": "other",
         "device_id": "NULL", "user_ip": "11.0.0.1"}
        for mm in range(0, 50)
    ]
    with open(d / "00.jsonl", "w") as f:
        for r in on_time:
            f.write(json.dumps(r, sort_keys=True) + "\n")

    def run():
        stream = pipelines.normalize_stream(
            sources.read_jsonl_stream(spark, str(d), schemas.VIEW_EVENT_RAW)
        )
        agg = pipelines.windowed_popularity(stream, window="10 minutes", watermark="5 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # advances + persists watermark to 10:44
    emitted = {str(r.window_start) for r in spark.read.parquet(out).collect()}
    assert "2024-01-01 10:00:00" in emitted
    with open(d / "01.jsonl", "w") as f:
        f.write(
            json.dumps({"item_id": "1", "ts": "2024-01-01T09:00:00Z", "device_type": "other",
                        "device_id": "NULL", "user_ip": "11.0.0.1"}, sort_keys=True) + "\n"
        )
    run()  # late record is beyond the checkpointed watermark
    after = {str(r.window_start) for r in spark.read.parquet(out).collect()}
    assert "2024-01-01 09:00:00" not in after


def test_streaming_reviews_spam_pipeline(spark, fx, tmp_path):
    # §3.2 reviews path e2e: stream → silver → spam UDF in the stream →
    # ham filter; must equal the batch classification and the corpus truth.
    import json

    from amazonbigdata_for_students_spark.functions import spam
    from amazonbigdata_for_students_spark.streaming import pipelines, sources

    rdir = tmp_path / "reviews"
    rdir.mkdir()
    with open(rdir / "r.jsonl", "w") as f:
        for r in fx.reviews:
            f.write(json.dumps({k: v for k, v in r.items() if not k.startswith("_")},
                               sort_keys=True) + "\n")
    stream = sources.read_jsonl_stream(spark, str(rdir), schemas.REVIEW_EVENT_RAW)
    scored = pipelines.reviews_pipeline(stream)
    _drain(scored.select("review_title", "review_text", "is_spam"), "reviews_scored")
    got = {(r.review_title, r.review_text): r.is_spam
           for r in spark.sql("SELECT * FROM reviews_scored").collect()}
    batch = spam.classify_reviews(fixtures.reviews_df(spark, fx))
    want = {(r.review_title, r.review_text): r.is_spam
            for r in batch.select("review_title", "review_text", "is_spam").collect()}
    assert got == want and len(got) > 0
    truth = {(r["review_title"], r["review_text"]): r["_is_spam_truth"] for r in fx.reviews}
    assert all(got[k] == truth[k] for k in got)


def test_multibatch_state_carries_across_microbatches(spark, fx, stream_dir):
    # maxFilesPerTrigger=1 forces one micro-batch per file: windowed-count
    # state must accumulate across batches and the drained complete-mode
    # result must still equal the batch answer.
    raw = sources.read_jsonl_stream(
        spark, stream_dir, schemas.VIEW_EVENT_RAW, max_files_per_trigger=1
    )
    stream = pipelines.normalize_stream(raw)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "item_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "item_id", "n")
    )
    _drain(agg, "mb_counts", mode="complete")
    got = {(r.ws, r.item_id): r.n for r in spark.sql("SELECT * FROM mb_counts").collect()}
    batch = botdetect.normalize_views(fixtures.views_df(spark, fx))
    want = {
        (r.ws, r.item_id): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "item_id"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_multibatch_dedup_across_batches(spark, fx, tmp_path):
    # A retry-duplicate landing in a LATER file (fresh micro-batch) must
    # still be dropped by the watermark-scoped dedup state.
    d = tmp_path / "dup_stream"
    d.mkdir()
    half = len(fx.views) // 2
    with open(d / "a.jsonl", "w") as f:
        for rec in fx.views[:half]:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    with open(d / "b.jsonl", "w") as f:
        for rec in fx.views[half:]:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
        # replay the last 5 records of batch a (at-least-once delivery)
        for rec in fx.views[half - 5 : half]:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    raw = sources.read_jsonl_stream(
        spark, str(d), schemas.VIEW_EVENT_RAW, max_files_per_trigger=1
    )
    stream = pipelines.normalize_stream(raw)
    wm = stream.withWatermark("ts", "10 minutes")
    deduped = wm.dropDuplicatesWithinWatermark(["user_ip", "ts", "item_id"])
    _drain(deduped.select("user_ip", "ts", "item_id"), "mb_dedup")
    n = spark.sql("SELECT count(*) AS n FROM mb_dedup").collect()[0].n
    distinct_truth = len({(v["user_ip"], v["ts"], v["item_id"]) for v in fx.views})
    assert n == distinct_truth


def test_checkpoint_processes_only_new_files_on_rerun(spark, fx, tmp_path):
    # Glue-bookmark semantics across RUNS (S9): run 1 lands the first
    # half; a new file arrives; run 2 with the SAME checkpoint processes
    # exactly the new file — no reprocessing, no loss.
    d = tmp_path / "inc_stream"
    d.mkdir()
    half = len(fx.views) // 2
    with open(d / "a.jsonl", "w") as f:
        for rec in fx.views[:half]:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    out, ckpt = str(tmp_path / "landed"), str(tmp_path / "ckpt")

    def run():
        raw = sources.read_jsonl_stream(spark, str(d), schemas.VIEW_EVENT_RAW)
        stream = pipelines.normalize_stream(raw).withColumns(
            {"year": F.year("ts"), "month": F.month("ts"),
             "day": F.dayofmonth("ts"), "hour": F.hour("ts")}
        )
        q = sources.write_partitioned_stream(stream, out, ckpt, available_now=True)
        q.awaitTermination()

    run()
    assert spark.read.parquet(out).count() == half
    with open(d / "b.jsonl", "w") as f:
        for rec in fx.views[half:]:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    run()
    landed = spark.read.parquet(out)
    assert landed.count() == len(fx.views)
    # every record landed exactly once
    assert landed.select("user_ip", "ts", "item_id").distinct().count() == len(
        {(v["user_ip"], v["ts"], v["item_id"]) for v in fx.views}
    )


def test_tws_port_is_feature_gated(spark, sf_small):
    """alert_once_tws (the transformWithStateInPandas port) must fail
    FAST and clear where protobuf is absent — not deep inside the first
    micro-batch — and must be byte-identical to the
    applyInPandasWithState answer where the API is available."""
    import pytest

    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _drain,
        events_stream,
    )
    from amazonbigdata_for_students_spark.streaming.pipelines import (
        alert_once_stateful,
        alert_once_tws,
        tws_available,
    )

    ev = events_stream(spark, sf_small)
    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            alert_once_tws(ev, threshold=5, window="1 hour")
        return
    # protobuf-equipped runtime: the typed-state port must agree exactly
    via_tws = sorted(
        map(tuple, _drain(
            alert_once_tws(ev, threshold=5, window="1 hour"),
            "tws_alerts", mode="update",
        ).collect())
    )
    via_gs = sorted(
        map(tuple, _drain(
            alert_once_stateful(ev, threshold=5, window="1 hour"),
            "gs_alerts", mode="update",
        ).collect())
    )
    assert via_tws == via_gs


def test_streaming_throughput_harness(spark):
    """The bench.py streaming leg must measure real steady-state batches:
    every shape returns a positive rows/sec derived from the query's own
    progress telemetry, and the JVM shapes must beat the Python stateful
    path (if they ever don't, the noop/no-pacing setup is broken and the
    bench numbers are meaningless)."""
    from amazonbigdata_for_students_spark.streaming.throughput import (
        measure_all,
        measure_shape,
    )

    out = measure_all(
        spark, jvm_rows_per_batch=50_000, py_rows_per_batch=10_000, n_batches=2
    )
    assert {
        "tumbling_agg_rows_per_sec",
        "stream_dedup_rows_per_sec",
        "alert_once_rows_per_sec",
    } <= set(out)
    assert all(v > 0 for v in out.values())
    # a timeout-truncated run must SAY so (no-silent-caps): any
    # *_steady_batches key present must report fewer than the 2 requested
    for k, v in out.items():
        if k.endswith("_steady_batches"):
            assert 1 <= v < 2
    # sanity on the measurement itself, not the host: a tiny batch still
    # yields a finite, plausible rate (not inf — durations are summed)
    r = measure_shape(spark, "tumbling_agg", rows_per_batch=10_000, n_batches=2)
    assert 0 < r["rows_per_sec"] < 1e9
    assert 1 <= r["steady_batches"] <= 2


def test_checkpoint_teardown_waits_for_running_tasks(spark):
    """measure_shape removes a checkpoint only once the stopped query's job
    group has no running task; tasks that outlive the bound raise."""
    import threading
    import time

    from amazonbigdata_for_students_spark.streaming.throughput import _await_tasks_done

    sc, group = spark.sparkContext, "teardown_wait_probe"
    failures = []

    def slow_job():
        sc.setJobGroup(group, group)  # not interrupted: the task outlives the cancel
        try:
            sc.parallelize([0], 1).foreach(lambda _: time.sleep(60))
        except Exception as e:  # the cancel below fails the job
            failures.append(e)

    t = threading.Thread(target=slow_job)
    t.start()
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.1)
    with pytest.raises(TimeoutError, match=group):
        _await_tasks_done(spark, group, timeout_sec=1.0)
    sc.cancelJobGroup(group)
    _await_tasks_done(spark, group, timeout_sec=30.0)
    tracker = sc.statusTracker()
    (job,) = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    assert job.status == "FAILED"
    assert [tracker.getStageInfo(s).numActiveTasks for s in job.stageIds] == [0]
    t.join(timeout=30)
    assert not t.is_alive()
    assert len(failures) == 1 and "cancelled" in str(failures[0])


def test_token_bucket_state_carries_dt_across_microbatches(spark, tmp_path):
    # Two part files = two micro-batches (maxFilesPerTrigger=1). User 7
    # drains the bucket in batch 1 (12 events -> 10 admitted, 0 tokens
    # left); batch 2 arrives 5 seconds later — the carried last_t must
    # refill exactly 5 tokens, so 6 more events admit 5 and deny 1. A
    # fold that forgets last_t across batches would refill from a full
    # bucket (admit all 6) or not at all (admit 0). Drives the SAME
    # builder the registered query runs (token_bucket_stream).
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
        token_bucket_stream,
    )

    d = tmp_path / "tbx" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, ts, n, eid0):
        import glob
        import shutil

        rows = [(eid0 + i, ts, 7, "view", 1.0, "{}") for i in range(n)]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    write_part("part-000.parquet", "2024-01-01 00:00:00", 12, 0)
    write_part("part-001.parquet", "2024-01-01 00:00:05", 6, 100)

    res = token_bucket_stream(
        spark, str(tmp_path / "tbx"), max_files_per_trigger=1
    )
    final = _final_snapshot(res).collect()
    assert len(final) == 1
    r = final[0]
    assert (r.n_events, r.n_admitted, r.tokens_end_scaled) == (18, 15, 0)
    # the snapshot history must show BOTH micro-batches (update mode emits
    # one row per batch for the touched key)
    assert res.count() >= 2


def test_sprt_decision_carries_across_microbatches(spark, tmp_path):
    # Two part files = two micro-batches. Batch 1 holds two purchases
    # (walk at 2*L1 ~ 2.197e9, inside the band); batch 2 holds one more
    # purchase that pushes the walk past ln(19) — the carried cum must
    # make the decision land at step 3, not restart at 1. The three
    # views after the crossing must count into n_obs but leave the
    # frozen decision untouched. Drives the SAME builder the registered
    # query runs (sprt_stream).
    from amazonbigdata_for_students_spark.plans import REGISTRY  # noqa: F401
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
        sprt_stream,
    )
    from amazonbigdata_for_students_spark.streaming.folds import SPRT_L1

    d = tmp_path / "sprtx" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, rows):
        import glob
        import shutil

        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    write_part(
        "part-000.parquet",
        [(0, "2024-01-01 00:00:00", 1, "purchase", 1.0, "{}"),
         (1, "2024-01-01 00:00:01", 1, "purchase", 1.0, "{}")],
    )
    write_part(
        "part-001.parquet",
        [(2, "2024-01-01 00:00:02", 1, "purchase", 1.0, "{}")]
        + [(3 + i, f"2024-01-01 00:00:0{3 + i}", 1, "view", 1.0, "{}")
           for i in range(3)],
    )

    res = sprt_stream(spark, str(tmp_path / "sprtx"), max_files_per_trigger=1)
    final = _final_snapshot(res, key="day_no", order_col="n_obs").collect()
    assert len(final) == 1
    r = final[0]
    assert (r.n_obs, r.n_steps, r.decision, r.llr_nano) == (
        6, 3, "accept_h1", 3 * SPRT_L1)
    assert res.count() >= 2  # both micro-batches emitted snapshots


def test_holt_winters_day_straddles_microbatches(spark, tmp_path):
    # Day 0's four events split 2+2 across two micro-batches; day 1's six
    # arrive in batch 2. The carried pending count must flush day 0 as
    # ONE observation of 4 (a restart-per-batch fold would flush 2 twice),
    # and the snapshot applies the open day 1 as a look-ahead step.
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
    )
    from amazonbigdata_for_students_spark.streaming import batch_twins as bt
    from pyspark.sql.streaming.state import GroupStateTimeout
    from amazonbigdata_for_students_spark.streaming.folds import holt_winters_fold

    d = tmp_path / "hwx" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, rows):
        import glob
        import shutil

        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    # batch 2 ONLY extends day 0 (same n_days as batch 1 -> the
    # strictly-monotone n_obs_total selector must pick it); batch 3
    # opens day 1, flushing day 0 as ONE observation of 4
    write_part("part-000.parquet",
               [(i, "2024-01-01 00:00:0%d" % i, 1, "view", 1.0, "{}")
                for i in range(2)])
    write_part("part-001.parquet",
               [(2 + i, "2024-01-01 00:01:0%d" % i, 1, "view", 1.0, "{}")
                for i in range(2)])
    write_part("part-002.parquet",
               [(10 + i, "2024-01-02 00:00:0%d" % i, 1, "view", 1.0, "{}")
                  for i in range(6)])

    ev = bt.events_stream(spark, str(tmp_path / "hwx"), max_files_per_trigger=1)
    keyed = ev.select(
        "event_type",
        F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").alias("d"),
        F.lit(1).alias("one"),
    )
    snap = keyed.groupBy("event_type").applyInPandasWithState(
        holt_winters_fold,
        outputStructType=(
            "event_type string, n_obs_total long, n_days long,"
            " level_milli long, trend_milli long,"
            " season_next_milli long, forecast_next_milli long"
        ),
        stateStructType=(
            "pend_day long, pend_n long, lvl long, trd long, step long,"
            " s0 long, s1 long, s2 long, s3 long, s4 long, s5 long, s6 long,"
            " nobs long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = bt._drain(snap, "hw_straddle_test", mode="update")
    r = _final_snapshot(res, key="event_type", order_col="n_obs_total").collect()[0]
    # replay: flush day0 (x=4000) then look-ahead day1 (x=6000)
    assert (r.n_obs_total, r.n_days, r.level_milli, r.trend_milli) == (
        10, 2, 2325, 222)
    assert (r.season_next_milli, r.forecast_next_milli) == (0, 2547)
    assert res.count() >= 3  # every micro-batch emitted a snapshot


def test_slo_stream_partial_hour_alert_cools_off(spark, tmp_path):
    # Batch 1: hour 0 (10 ev, 1 err) closes clean when hour 1 opens with
    # a hot partial (2 ev, 2 err -> look-ahead burn1 = 5e6: ALERT row
    # emitted). Batch 2 cools hour 1 with 18 clean events (final 2/20 =
    # 500000: NOT an alert) and opens hour 2 hot (6/10 errors). A fold
    # that emitted only alert rows would leave batch 1's stale hour-1
    # alert as the final word; the close row must outrank and clear it.
    from amazonbigdata_for_students_spark.streaming import batch_twins as bt
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
    )

    d = tmp_path / "slox" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, rows):
        import glob
        import shutil

        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    def hour_rows(eid0, hour, n, n_err):
        return [
            (eid0 + i, "2024-01-01 %02d:%02d:00" % (hour, i), 1,
             "error" if i < n_err else "view", 1.0, "{}")
            for i in range(n)
        ]

    write_part(
        "part-000.parquet",
        hour_rows(0, 0, 10, 1) + hour_rows(100, 1, 2, 2),
    )
    write_part(
        "part-001.parquet",
        hour_rows(200, 1, 18, 0) + hour_rows(300, 2, 10, 6),
    )

    # drive the registered query's exact pipeline but with per-file
    # triggers so the cool-off genuinely spans micro-batches
    ev = bt.events_stream(spark, str(tmp_path / "slox"), max_files_per_trigger=1)
    from pyspark.sql.streaming.state import GroupStateTimeout
    from amazonbigdata_for_students_spark.streaming.folds import slo_burn_fold

    keyed = ev.select(
        F.lit("slo").alias("series"),
        F.expr(
            "CAST(unix_micros(date_trunc('hour', ts)) AS BIGINT) div 3600000000"
        ).alias("h"),
        F.lit(1).alias("one"),
        F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END").alias("err"),
    )
    snap = keyed.groupBy("series").applyInPandasWithState(
        slo_burn_fold,
        outputStructType=(
            "h long, n_1h long, err_1h long, burn1_ppm long,"
            " burn6_ppm long, alert boolean, n_obs_total long"
        ),
        stateStructType=(
            "pend_h long, pend_n long, pend_e long,"
            " r0h long, r0n long, r0e long, r1h long, r1n long, r1e long,"
            " r2h long, r2n long, r2e long, r3h long, r3n long, r3e long,"
            " r4h long, r4n long, r4e long, n_obs long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = bt._drain(snap, "slo_straddle_test", mode="update")
    rows = res.collect()
    h0 = min(r["h"] for r in rows)
    # the batch-1 look-ahead DID alert on the hot partial hour 1 —
    # the scenario a naive emit-only-alerts fold can't retract
    assert any(r["h"] == h0 + 1 and r["alert"] for r in rows)
    final = _final_snapshot(res, key="h", order_col="n_obs_total")
    alerts = final.where("alert").collect()
    got = {r["h"] - h0: r for r in alerts}
    assert list(got) == [2]
    r2 = got[2]
    assert (r2["n_1h"], r2["err_1h"]) == (10, 6)
    assert (r2["burn1_ppm"], r2["burn6_ppm"]) == (3_000_000, 1_125_000)
    # and the cooled hour 1 is present in the drain as a non-alert final
    f1 = final.where(F.col("h") == h0 + 1).collect()[0]
    assert (f1["n_1h"], f1["err_1h"], f1["alert"]) == (20, 2, False)


def test_funnel_stage_advances_across_microbatches(spark, tmp_path):
    # view in batch 1, click in batch 2, purchase in batch 3: the chain
    # must advance incrementally to stage 3. A second user's click
    # arrives BEFORE their view (stage stays 1 — strictly-after
    # semantics), a third user's click ties the view timestamp exactly
    # (also stays 1: ts > v is strict).
    from amazonbigdata_for_students_spark.streaming import batch_twins as bt
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
    )
    from amazonbigdata_for_students_spark.streaming.folds import funnel_stage_fold
    from pyspark.sql.streaming.state import GroupStateTimeout

    d = tmp_path / "fsx" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, rows):
        import glob
        import shutil

        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    write_part("part-000.parquet", [
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:00:00", 2, "click", 0.0, "{}"),   # click first
        (3, "2024-01-01 00:00:05", 2, "view", 0.0, "{}"),
        (4, "2024-01-01 00:00:10", 3, "view", 0.0, "{}"),
        (5, "2024-01-01 00:00:10", 3, "click", 0.0, "{}"),   # ties view ts
    ])
    write_part("part-001.parquet", [
        (6, "2024-01-01 00:01:00", 1, "click", 0.0, "{}"),
    ])
    write_part("part-002.parquet", [
        (7, "2024-01-01 00:02:00", 1, "purchase", 0.0, "{}"),
    ])

    ev = bt.events_stream(spark, str(tmp_path / "fsx"), max_files_per_trigger=1)
    keyed = ev.select(
        "user_id", F.expr("unix_micros(ts)").alias("us"), "event_id", "event_type"
    )
    snap = keyed.groupBy("user_id").applyInPandasWithState(
        funnel_stage_fold,
        outputStructType="user_id long, n_events long, funnel_stage long",
        stateStructType="v_us long, c_us long, p_us long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = bt._drain(snap, "funnel_stage_test", mode="update")
    final = {r["user_id"]: r for r in
             _final_snapshot(res, key="user_id", order_col="n_events").collect()}
    assert (final[1]["funnel_stage"], final[1]["n_events"]) == (3, 3)
    assert final[2]["funnel_stage"] == 1  # pre-view click never counts
    assert final[3]["funnel_stage"] == 1  # equal-ts click is not strictly after


def test_croston_demand_day_straddles_microbatches(spark, tmp_path):
    # Two part files = two micro-batches. User 1's day-5 demand is SPLIT
    # across the batches (2 purchases, then 3 more on the same day plus
    # 4 on day 9). The carried pending day must let batch 2 EXTEND day 5
    # before day 9 flushes it: z(day5)=5 seeds (sz=5, iv=1), day 9 then
    # applies sz=(4+15)//4=4, iv=((9-5)+3)//4=1 -> rate 4.0/day. A fold
    # that flushed the pending day at the batch boundary would seed from
    # z=2 and double-count day 5 as two demands.
    import glob
    import shutil

    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _final_snapshot,
        croston_stream,
    )

    d = tmp_path / "cro" / "events.parquet"
    d.mkdir(parents=True)

    def write_part(name, specs, eid0):
        rows = [
            (eid0 + i, ts, 1, "purchase", 1.0, "{}")
            for i, ts in enumerate(specs)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        staging = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(d / name))

    day5 = "1970-01-06 08:00:00"
    day9 = "1970-01-10 08:00:00"
    write_part("part-000.parquet", [day5, day5], 0)
    write_part("part-001.parquet", [day5, day5, day5, day9, day9, day9, day9], 100)

    res = croston_stream(spark, str(tmp_path / "cro"), max_files_per_trigger=1)
    final = _final_snapshot(res, key="user_id", order_col="nobs").collect()
    assert len(final) == 1
    r = final[0]
    assert (r.n_demands, r.size_level, r.interval_level) == (2, 4, 1)
    assert r.demand_rate_ppm == 4_000_000
    assert res.count() >= 2  # update mode emitted a snapshot per batch


def test_run_to_end_restores_conf_after_drain_and_failed_batch(spark, tmp_path):
    """The one AvailableNow runner applies the state width and any extra
    conf to the stream it starts, and hands the session its own values
    back both after a drain and after a foreachBatch that raises."""
    parts = "spark.sql.shuffle.partitions"
    prov = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    session_width = spark.conf.get(parts)
    spark.conf.set(parts, str(_STATE_PARTITIONS + 3))  # a restore must be visible
    before = {k: spark.conf.get(k, None) for k in (parts, prov)}
    d = tmp_path / "src"
    d.mkdir()
    (d / "a.jsonl").write_text("".join(f'{{"k": {i % 3}}}\n' for i in range(30)))
    agg = spark.readStream.schema("k long").json(str(d)).groupBy("k").count()

    def boom(batch_df, batch_id):
        raise RuntimeError("sink down")

    try:
        q = _run_to_end(
            agg.writeStream.format("memory").queryName("runner_conf").outputMode("complete"),
            spark,
            conf={prov: rocks},
        )
        assert {k: spark.conf.get(k, None) for k in (parts, prov)} == before
        assert spark.table("runner_conf").count() == 3
        ops = [op for p in q.recentProgress for op in p["stateOperators"]]
        assert ops and all(op["numShufflePartitions"] == _STATE_PARTITIONS for op in ops)
        assert any("rocksdb" in k.lower() for op in ops for k in op["customMetrics"])

        with pytest.raises(Exception, match="sink down"):
            _run_to_end(
                agg.writeStream.outputMode("complete").foreachBatch(boom),
                spark,
                conf={prov: rocks},
            )
        assert {k: spark.conf.get(k, None) for k in (parts, prov)} == before
    finally:
        spark.conf.set(parts, session_width)
