"""Streaming operators surfaced as driver-checkable queries.

Each entry here runs the REAL Structured Streaming engine (file stream →
watermarked stateful aggregation → memory sink, Trigger.AvailableNow) over
the driver's events table, in *complete* output mode so the drained result
equals the batch answer — which is exactly what the DuckDB oracle computes.
This gives the streaming engine itself a correctness gate, not just its
batch twins (SURVEY.md §5.3).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..plans.evals import SPRT_ORACLE
from ..plans.registry import query
from ..plans.relational import (
    EVENTS,
    HOLT_WINTERS_ORACLE,
    SLO_BURN_ORACLE,
    TOKEN_BUCKET_ORACLE,
)

_COUNTER = itertools.count()


def _final_snapshot(
    res: DataFrame, key: str = "user_id", order_col: str = "n_events"
) -> DataFrame:
    """Update-mode drains emit one snapshot row per touched key per
    micro-batch; the per-key FINAL state is the row with the largest
    observation count (monotone per batch). Shared by the ewma,
    token-bucket, and SPRT twins — the snapshot-selection rule lives
    once."""
    from pyspark.sql import Window as PW

    w = PW.partitionBy(key).orderBy(F.desc(order_col))
    return res.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S2 — the events table as a parquet file stream, converted exactly like
    the batch loader. Handles every layout the driver has shipped:
    events.parquet as a directory of Spark part files, or as a single file
    whose ts is INT64 TIMESTAMP(NANOS) (read as long + rebuilt) or plain
    micros. A single file streams with the batch loader's stored schema
    (``readers.table_schema``): one inference per file version serves both."""
    import os

    from .. import schemas
    from ..sources import readers

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        # Spark-written table: ts is already a proper (micros) timestamp.
        schema, src = schemas.EVENTS, path
        reader = spark.readStream.schema(schema)
    else:
        schema, src = readers.table_schema(spark, sf_dir, "events"), sf_dir
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "events.parquet"
        )
    # max_files_per_trigger forces one micro-batch per part file (the
    # cross-batch state-carry tests); availableNow otherwise drains in a
    # single batch.
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return readers.rebuild_nanos_ts(reader.parquet(src), "events", schema)


# Stateful streaming parallelism is a different sizing problem from batch
# shuffles: every state partition pays a per-micro-batch state store
# open/commit, so width should follow STATE VOLUME, not core count — and it
# is frozen into the checkpoint at first start. Every query here keys state
# on low-cardinality windows/types (hundreds of keys, KB-scale state), where
# measured cost is ~linear in partition count: 32 → 8 cut the fixed
# micro-batch cost ~40%, 8 → 4 another ~27% (1.38s → 1.01s at sf0.1), with 4
# keeping store commits off the single-thread floor. On a cluster this is
# the knob sized as state_bytes / target_partition_bytes.
_STATE_PARTITIONS = 4


def _run_to_end(
    writer: DataStreamWriter, spark: SparkSession, conf: dict | None = None
) -> StreamingQuery:
    """Start ``writer`` with Trigger.AvailableNow and wait until it has
    drained everything available; returns the terminated query (its
    ``recentProgress`` stays readable). The state width (and any extra
    ``conf``, e.g. a state-store provider) is set around ``start()`` only:
    the stream captures the session conf when it starts, so batch queries
    keep the session's own settings, and the previous values come back
    even if ``start()`` raises. The one AvailableNow drain of the package."""
    conf = {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS), **(conf or {})}
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    q.awaitTermination()
    return q


def _to_memory(df: DataFrame, prefix: str, mode: str) -> tuple[DataStreamWriter, str]:
    """A memory-sink writer for ``df`` under a fresh query name, and the name."""
    name = f"{prefix}_{next(_COUNTER)}"
    return df.writeStream.format("memory").queryName(name).outputMode(mode), name


def _drain(df: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
    """Run the streaming plan to completion into a memory sink and return
    the sink table."""
    writer, name = _to_memory(df, prefix, mode)
    _run_to_end(writer, df.sparkSession)
    return df.sparkSession.table(name)


def _drain_checkpointed(df: DataFrame, prefix: str, mode: str) -> str:
    """Drain a streaming plan through a CHECKPOINT (memory sink) and return
    the checkpoint path — the shared protocol of every state-reader audit
    (the checkpoint, not the sink, is what those queries read back)."""
    import tempfile

    ck = tempfile.mkdtemp(prefix=f"{prefix}_ck_")
    writer, _ = _to_memory(df, prefix, mode)
    _run_to_end(writer.option("checkpointLocation", ck), df.sparkSession)
    return ck


def _fold_drain(keyed: DataFrame, key: str, fold, name: str) -> DataFrame:
    """Group ``keyed`` by ``key``, run a ``folds.keyed_fold`` fold over it
    in update mode with no timeout, and drain the per-batch snapshots.
    The one applyInPandasWithState call of the update-mode twins."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    snap = keyed.groupBy(key).applyInPandasWithState(
        fold,
        outputStructType=fold.out_ddl,
        stateStructType=fold.state_ddl,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(snap, name, mode="update")


@query(
    "stream_hourly_counts",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
    FROM {EVENTS} e
    GROUP BY 1, 2
    """,
    tags=("T1", "T4"),
    bench=True,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — tumbling-window streaming aggregation, drained via
    AvailableNow; complete mode ⇒ result equals the batch oracle."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain(agg, "stream_hourly_counts")


@query(
    "stream_sliding_traffic",
    oracle=f"""
    WITH slides AS (SELECT unnest(range(0, 4)) * INTERVAL 15 MINUTE AS off)
    SELECT window_start, count(*) AS n FROM (
      SELECT date_trunc('hour', ts - off) + off AS window_start
      FROM {EVENTS} e, slides
      WHERE ts >= date_trunc('hour', ts - off) + off
        AND ts <  date_trunc('hour', ts - off) + off + INTERVAL 1 HOUR
    ) GROUP BY 1
    """,
    tags=("T2",),
)
def stream_sliding_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — sliding-window (1h window, 15min slide) streaming counts; the
    oracle materializes each event into its 4 overlapping windows."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return _drain(agg, "stream_sliding_traffic")


@query(
    "stream_topn_per_window",
    oracle=f"""
    SELECT window_start, event_type, n FROM (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rn
      FROM (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n
        FROM {EVENTS} e GROUP BY 1, 2
      )
    ) WHERE rn <= 2
    """,
    tags=("T1", "W1", "O3", "S8"),
)
def stream_topn_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comp. 6 of the reference diagram — "most popular items/categories"
    as a streaming query: watermarked tumbling-window counts in the stream,
    then top-N ranking applied to the drained micro-batch output (the
    foreachBatch pattern — ranking can't sit inside a streaming agg, and
    doesn't need to: per-batch output is tiny after aggregation).
    Deterministic tie-break on event_type."""
    from pyspark.sql import Window as W

    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    drained = _drain(agg, "stream_topn")
    rn = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return drained.withColumn("rn", rn).filter(F.col("rn") <= 2).drop("rn")


@query(
    "stream_alert_once",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events
    FROM {EVENTS} e
    GROUP BY 1
    HAVING count(*) > 5
    """,
    tags=("T5", "T7", "S8"),
)
def stream_alert_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comp. 7 — high-traffic alerting with alert-once semantics via
    applyInPandasWithState (event-time TTL on the alert memory, see
    streaming.pipelines.alert_once_stateful). A single AvailableNow drain
    sees each window's full count, so the fired set is exactly the windows
    whose total exceeds the threshold — which is the oracle."""
    from ..streaming.pipelines import alert_once_stateful

    ev = events_stream(spark, sf_dir)
    alerts = alert_once_stateful(ev, threshold=5, window="1 hour")
    return _drain(alerts, "stream_alert_once", mode="update")


@query(
    "stream_alert_state_audit",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n_in_state,
           count(*) > 5 AS fired
    FROM {EVENTS} e
    GROUP BY 1
    """,
    tags=("T5", "T7", "S5"),
)
def stream_alert_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM state under the correctness gate (VERDICT r6 item 6's
    state-reader leg): stream_state_inspect audits an AGGREGATION's
    buffers; this query audits an arbitrary-stateful operator's
    user-defined state. The alert-once processor
    (applyInPandasWithState, (count, fired) per window key) drains
    through a checkpoint, then the CHECKPOINT's state store — not the
    alert output — is read back with the `statestore` batch reader and
    flattened: every window's accumulated count and its fired flag must
    hash-match the batch truth (count > threshold). A processor that
    under-counts on replay, double-fires, or leaks evicted keys shifts
    the state rows and fails the gate even when the emitted alerts look
    right. TTL is parked beyond the data horizon so expiry does not
    remove the very rows under audit (the TTL path itself is
    stream_alert_once / stream_state_inspect territory)."""
    from .pipelines import alert_once_stateful

    ev = events_stream(spark, sf_dir)
    alerts = alert_once_stateful(
        ev, threshold=5, window="1 hour", ttl_ms=10**12
    )
    ck = _drain_checkpointed(alerts, "alert_state", mode="update")
    st = spark.read.format("statestore").load(ck)
    # applyInPandasWithState value layout: the user state struct nests
    # under `groupState`, beside the engine's `timeoutTimestamp`
    return st.select(
        F.col("key.window_start").alias("window_start"),
        F.col("value.groupState.count").cast("long").alias("n_in_state"),
        F.col("value.groupState.fired").alias("fired"),
    )


@query(
    "stream_dedup_counts",
    oracle=f"""
    SELECT user_id, count(*) AS n FROM (
      SELECT DISTINCT user_id, ts, event_type FROM {EVENTS} e
    ) GROUP BY user_id
    """,
    tags=("T6",),
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — streaming dedup on (user_id, ts, event_type) followed by a
    per-user count. Uses watermark-scoped dropDuplicates state; the batch
    oracle is DISTINCT + count."""
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_type")
        .dropDuplicates(["user_id", "ts", "event_type"])
    )
    agg = deduped.groupBy("user_id").agg(F.count("*").alias("n"))
    return _drain(agg, "stream_dedup_counts")


@query(
    "stream_session_counts",
    oracle=f"""
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM {EVENTS} e
      )
    )
    GROUP BY user_id, grp
    """,
    tags=("T3", "T4"),
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — native session_window in the STREAMING engine (merging session
    state per user, watermark-bounded), drained complete so the result
    equals the batch gaps-and-islands oracle. State per (user, open
    session) merges as events arrive — the streaming sessionization the
    reference's clickstream domain implies."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _drain(agg, "stream_session")


# NOTE: transformWithStateInPandas (the Spark 4 successor to
# applyInPandasWithState, typed ValueState/ListState/MapState + timers on
# the RocksDB store) requires the `protobuf` Python package for its state
# server, which this container does not ship. The port EXISTS and is
# feature-gated: streaming/pipelines.alert_once_tws is the
# StatefulProcessor twin of alert_once_stateful (ValueState + event-time
# timer), raising a clean RuntimeError where protobuf is absent;
# tests/test_streaming.py pins the stub-kill here and byte-equality with
# the applyInPandasWithState answer wherever the API is available. The
# driver-gated T5/T7 rows run the applyInPandasWithState leg.


@query(
    "stream_progress_audit",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS total_input_rows,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_result_keys
    FROM {EVENTS} e
    """,
    tags=("S8", "T1"),
)
def stream_progress_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability surface: the per-micro-batch progress telemetry
    (StreamingQueryProgress — numInputRows, batch timings, state-store
    metrics) is what production monitoring/alerting consumes (reference
    diagram comp. 7's ops half). The audit drains a grouped count over the
    events stream, then ACCOUNTS FOR EVERY ROW through the telemetry:
    summed numInputRows across progress events must equal the table's row
    count (no batch dropped, none double-counted), and the sink must hold
    one row per key. Both numbers are hash-gated against the batch oracle.
    At scale this invariant is the cheap canary for silent data loss
    between source offsets and sink commits."""
    agg = events_stream(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("n"))
    writer, name = _to_memory(agg, "progress_audit", "complete")
    q = _run_to_end(writer, spark)
    total_in = sum(int(p["numInputRows"]) for p in q.recentProgress)
    n_keys = spark.table(name).count()
    return spark.createDataFrame(
        [(total_in, n_keys)], "total_input_rows bigint, n_result_keys bigint"
    )


@query(
    "stream_late_data_drop",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, count(*) AS n
    FROM {EVENTS} e
    WHERE day(ts) > 3
    GROUP BY 1
    """,
    tags=("T4", "T1"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 with REAL late-data drops — the other streaming queries validate
    watermarked plans on in-order input, where the watermark never fires;
    this one proves the drop semantics. The fixture splits events into
    three JSONL batch files replayed in controlled order (maxFilesPerTrigger
    = 1, ascending mtimes): days 4-12, then days 13-20, then a final file
    holding days 21-30 PLUS the day<=3 stragglers. When the straggler file
    arrives the watermark — advanced by batch 2 to (max day-20 ts - 1h) —
    is weeks past the stragglers' windows, so the 1h-tumbling aggregation
    drops exactly the day<=3 rows and keeps days 21-30. Update-mode drain
    emits each window's running count; the final value per window is the
    max. The oracle is the batch aggregate over day > 3 — rows match ONLY
    if the engine dropped precisely the late set (drop-nothing and
    drop-too-much both hash-mismatch)."""
    import os
    import shutil

    from ..plans.sources_ops import _build_window, _cache_dir, _mark
    from ..sources import readers

    d, ready, fp = _cache_dir(sf_dir, "late_jsonl")
    out = os.path.join(d, "batches")
    if not ready:
        with _build_window(d):
            ev = readers.load_table(spark, sf_dir, "events").select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                F.dayofmonth("ts").alias("_day"),
            )
            os.makedirs(out, exist_ok=True)
            batches = [
                ("b0", F.col("_day").between(4, 12)),
                ("b1", F.col("_day").between(13, 20)),
                ("b2", (F.col("_day") <= 3) | (F.col("_day") >= 21)),
            ]
            for i, (nm, cond) in enumerate(batches):
                staging = os.path.join(d, f"_stage_{nm}")
                ev.filter(cond).drop("_day").coalesce(1).write.mode("overwrite").json(
                    staging
                )
                part = next(
                    f
                    for f in sorted(os.listdir(staging))
                    if f.startswith("part-") and f.endswith(".json")
                )
                target = os.path.join(out, f"{nm}.json")
                os.rename(os.path.join(staging, part), target)
                shutil.rmtree(staging)
                # mtime drives FileStreamSource ordering: strictly increasing
                t = 1_700_000_000 + i
                os.utime(target, times=(t, t))
            _mark(d, fp)

    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .json(out)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    drained = _drain(agg, "stream_late_drop", mode="update")
    # update mode re-emits a window on every batch that touches it; the
    # final count is the last (= max, counts are monotone) per window
    return drained.groupBy("window_start").agg(F.max("n").alias("n"))


@query(
    "stream_upsert_sink",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           max(ts) AS last_ts
    FROM {EVENTS} e
    GROUP BY user_id
    """,
    tags=("T5", "T8", "S7"),
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE — the foreachBatch upsert pattern every lakehouse
    sink (Delta/Iceberg MERGE, JDBC upsert, KV put) is built on: each
    micro-batch's per-user partial aggregate merges into a keyed running
    table with algebraic combine rules (counts add, decimal sums add,
    last_ts maxes). Update-mode streaming gives the per-batch DELTAS of
    changed keys; foreachBatch applies them transactionally per batchId —
    the idempotence contract that makes retries safe. The sink table is a
    CommitLog-backed keyed parquet table (sources/commitlog.py): each
    batch's delta is written EXECUTOR-SIDE as a staged parquet dir, then
    published by one atomic manifest commit carrying the batchId — no
    driver round-trip, no per-key collect, so a wide key space at 100×
    costs a parquet write, not driver memory. Reads resolve latest-per-key
    by commit version (merge-on-read). Idempotence is read FROM THE LOG
    (committed batch ids), so a retry after a sink crash is a no-op even
    across driver restarts. Three replay files (mtime-ordered) force
    genuine multi-batch merging, so a sink that overwrote instead of
    merged, or dropped a batch, hash-mismatches the single-pass oracle."""
    import os
    import shutil

    from ..plans.registry import dsum
    from ..plans.sources_ops import _build_window, _cache_dir, _mark
    from ..sources import readers

    d, ready, fp = _cache_dir(sf_dir, "upsert_jsonl")
    out = os.path.join(d, "batches")
    if not ready:
        with _build_window(d):
            ev = readers.load_table(spark, sf_dir, "events").select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                F.dayofmonth("ts").alias("_day"),
            )
            os.makedirs(out, exist_ok=True)
            import shutil

            for i, (lo, hi) in enumerate(((1, 10), (11, 20), (21, 31))):
                staging = os.path.join(d, f"_stage_{i}")
                ev.filter(F.col("_day").between(lo, hi)).drop("_day").coalesce(
                    1
                ).write.mode("overwrite").json(staging)
                part = next(
                    f
                    for f in sorted(os.listdir(staging))
                    if f.startswith("part-") and f.endswith(".json")
                )
                target = os.path.join(out, f"b{i}.json")
                os.rename(os.path.join(staging, part), target)
                shutil.rmtree(staging)
                t = 1_700_000_000 + i
                os.utime(target, times=(t, t))
            _mark(d, fp)

    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .json(out)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
        F.max("ts").alias("last_ts"),
    )

    from ..sources.commitlog import CommitLog

    # fresh sink table per run so the commit protocol is exercised end-to-end
    sink_path = os.path.join(d, "sink_table")
    shutil.rmtree(sink_path, ignore_errors=True)
    # production cadence: every 10th micro-batch commit also folds a
    # checkpoint, so a long-lived stream's snapshot loads stay
    # O(commits since checkpoint), not O(stream age); the checkpoint is
    # derived state, so results are unchanged (oracle-gated)
    log = CommitLog(sink_path, checkpoint_interval=10)

    def upsert(batch_df, batch_id: int):
        if batch_id in log.committed_batch_ids():  # idempotence, from the LOG
            return
        # update-mode delta rows REPLACE the key's row (the agg re-emits
        # full per-key values, already merged across batches by the engine's
        # state store — foreachBatch's job is the transactional apply):
        # stage the delta executor-side, then one atomic manifest commit.
        log.commit([log.stage(batch_df)], batch_id=batch_id, writer="stream_upsert_sink")

    _run_to_end(agg.writeStream.outputMode("update").foreachBatch(upsert), spark)

    merged = log.read_latest_per_key(spark, ["user_id"])
    assert merged is not None, "upsert sink committed no batches"
    return merged.select("user_id", "n_events", "sum_value", "last_ts")


@query(
    "stream_dedup_within_watermark",
    oracle=f"""
    SELECT user_id, count(*) AS n FROM (
      SELECT DISTINCT user_id, ts, event_type FROM {EVENTS} e
    ) GROUP BY user_id
    """,
    tags=("T6", "T7"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 via dropDuplicatesWithinWatermark — the production dedup for
    at-least-once sources: unlike plain dropDuplicates (whose key state
    grows forever), the within-watermark variant GUARANTEES state eviction
    once a key's event time falls behind the watermark, trading unbounded
    memory for a bounded dedup horizon (10 min here ≫ the source's redelivery
    window, so the answer is still exact). Same oracle as the unbounded
    variant — on a correctly deduped stream both agree; an engine that
    evicted too early (dropping dupes late in the horizon) would double
    count and hash-mismatch."""
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_type")
        .dropDuplicatesWithinWatermark(["user_id", "ts", "event_type"])
    )
    agg = deduped.groupBy("user_id").agg(F.count("*").alias("n"))
    return _drain(agg, "stream_dedup_wm")


@query(
    "stream_rocksdb_state",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
           true AS rocksdb_used
    FROM {EVENTS} e
    GROUP BY 1, 2
    """,
    tags=("T1", "T7"),
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production state-store backend: RocksDB instead of the default
    in-JVM-heap HDFS-backed map. At 100 TB of keyed state (sessions over
    hundreds of millions of users) heap state stores OOM executors and
    stall GC; RocksDB keeps state off-heap with incremental checkpointing —
    flipping the provider is THE knob that takes a stateful query from demo
    to production. Same tumbling-window aggregation as stream_hourly_counts,
    with the provider switched for this query only; the result must be
    byte-identical to the heap-backed answer (state backend must never
    change semantics), and rocksdb_used reports whether the run's progress
    metrics actually came from RocksDB (guards against the conf silently
    not applying)."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    writer, name = _to_memory(agg, "rocksdb_state", "complete")
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    q = _run_to_end(
        writer, spark, conf={"spark.sql.streaming.stateStore.providerClass": provider}
    )
    rocksdb_used = any(
        any("rocksdb" in k.lower() for k in (op.get("customMetrics") or {}))
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    return spark.table(name).withColumn("rocksdb_used", F.lit(rocksdb_used))


@query(
    "stream_static_refresh",
    oracle=f"""
    SELECT event_type, count(*) AS n
    FROM {EVENTS} e
    WHERE NOT (day(ts) > 10 AND user_id % 10 = 3)
    GROUP BY event_type
    """,
    tags=("J4", "S5", "T7"),
)
def stream_static_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE property that makes stream-static joins operational (reference
    comps. 3+5): the static side is RE-READ every micro-batch, so a
    blocklist updated mid-stream takes effect on the next batch without
    restarting the query. Fixture: three mtime-ordered replay files (days
    1-10, 11-20, 21-31); the blocklist starts EMPTY, and a foreachBatch
    hook adds user_id % 10 = 3 after batch 0 commits — so those users'
    batch-0 events pass, and their day>10 events are anti-joined away.
    The oracle encodes exactly that batch-boundary semantics; an engine
    that snapshots the static side at query start (letting everything
    pass) or applies the update retroactively both hash-mismatch."""
    import os
    import shutil

    from ..plans.sources_ops import _build_window, _cache_dir, _mark
    from ..sources import readers

    d, ready, fp = _cache_dir(sf_dir, "static_refresh")
    out = os.path.join(d, "batches")
    block_dir = os.path.join(d, "blocklist")
    if not ready:
        with _build_window(d):
            ev = readers.load_table(spark, sf_dir, "events").select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                F.dayofmonth("ts").alias("_day"),
            )
            os.makedirs(out, exist_ok=True)
            for i, (lo, hi) in enumerate(((1, 10), (11, 20), (21, 31))):
                staging = os.path.join(d, f"_stage_{i}")
                ev.filter(F.col("_day").between(lo, hi)).drop("_day").coalesce(
                    1
                ).write.mode("overwrite").json(staging)
                part = next(
                    f
                    for f in sorted(os.listdir(staging))
                    if f.startswith("part-") and f.endswith(".json")
                )
                os.rename(os.path.join(staging, part), os.path.join(out, f"b{i}.json"))
                shutil.rmtree(staging)
                t = 1_700_000_000 + i
                os.utime(os.path.join(out, f"b{i}.json"), times=(t, t))
            _mark(d, fp)

    # blocklist always starts this run EMPTY — a CATALOG table, because a
    # path-based DataFrame freezes its file listing at plan time; the
    # catalog relation + refreshTable is the supported mid-stream refresh
    tbl = "blocklist_refresh_demo"
    empty = spark.createDataFrame([], "user_id bigint")
    empty.write.mode("overwrite").option("path", block_dir).saveAsTable(tbl)

    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .json(out)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    # stream-static anti-join: the catalog table is re-read per batch
    blocklist = spark.table(tbl)
    filtered = stream.join(blocklist, "user_id", "left_anti")

    rows_by_type: dict[str, int] = {}

    def sink(batch_df, batch_id: int):
        for r in batch_df.groupBy("event_type").agg(F.count("*").alias("n")).collect():
            rows_by_type[r["event_type"]] = rows_by_type.get(r["event_type"], 0) + r["n"]
        if batch_id == 0:
            # mid-stream blocklist update: detected bots added AFTER batch 0.
            # Derived from the DATA (distinct user_ids with user_id % 10 = 3),
            # not a fixed range — a hardcoded spark.range cap would silently
            # stop covering users minted above it at larger scale factors
            # while the oracle's WHERE clause applies to ALL users.
            readers.load_table(spark, sf_dir, "events").select(
                "user_id"
            ).where(F.col("user_id") % 10 == 3).distinct().write.mode(
                "append"
            ).saveAsTable(tbl)
            spark.catalog.refreshTable(tbl)

    _run_to_end(filtered.writeStream.outputMode("append").foreachBatch(sink), spark)

    return spark.createDataFrame(
        sorted(rows_by_type.items()), "event_type string, n bigint"
    )


@query(
    "stream_multi_sink_fanout",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS window_start, count(*) AS n
      FROM {EVENTS} e GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM hourly) AS BIGINT) AS archive_windows,
           CAST((SELECT count(*) FROM hourly WHERE n > 5) AS BIGINT) AS alert_windows,
           CAST((SELECT sum(n) FROM hourly) AS BIGINT) AS archive_rows,
           true AS sinks_consistent
    """,
    tags=("S8", "S6", "T8"),
)
def stream_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink fan-out done right: ONE streaming query feeds both the
    archive and the alert sink from inside a single foreachBatch, so both
    sinks see the same micro-batch exactly once. (The naive alternative —
    two independent writeStream queries over the same source — reads the
    data twice and can diverge: each query has its own offsets, so a crash
    can land a batch in one sink but not the other.) The audit drains the
    windowed counts, routes every window to the archive list and the
    over-threshold subset to the alert list, then checks the invariant the
    pattern exists for: every alert row is present in the archive with the
    SAME count — and the totals are hash-gated against the batch oracle."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    archive: dict = {}
    alerts: dict = {}

    def fanout(batch_df, batch_id: int):
        rows = batch_df.collect()  # post-aggregate: bounded by #windows
        for r in rows:
            archive[r["window_start"]] = r["n"]
        for r in rows:
            if r["n"] > 5:
                alerts[r["window_start"]] = r["n"]

    _run_to_end(agg.writeStream.outputMode("complete").foreachBatch(fanout), spark)

    consistent = all(archive.get(k) == v for k, v in alerts.items())
    return spark.createDataFrame(
        [
            (
                len(archive),
                len(alerts),
                int(sum(archive.values())),
                bool(consistent),
            )
        ],
        "archive_windows bigint, alert_windows bigint, archive_rows bigint, "
        "sinks_consistent boolean",
    )


@query(
    "stream_state_inspect",
    oracle=f"""
    SELECT event_type, count(*) AS n_in_state
    FROM {EVENTS} e
    GROUP BY event_type
    """,
    tags=("T7", "S5"),
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The state store itself as a queryable table — Spark 4's
    `statestore` batch reader over a streaming checkpoint, the
    production-debugging surface for "what does my stateful operator
    actually hold right now?" (leaked keys, skewed state partitions,
    watermark-eviction audits). A real file-stream count aggregation is
    drained through a checkpoint first; then the CHECKPOINT — not the
    sink — is read back and flattened, and the per-key aggregation
    buffers must hash-match the batch answer: state content, not just
    query output, is under the correctness gate. The reader streams
    snapshot + delta files of each state partition in parallel (one task
    per state partition — the same partitioning the store itself uses),
    so inspecting TB-scale RocksDB state never funnels through the
    driver. Aggregation-buffer field names are engine-internal, so the
    projection introspects the value schema instead of hard-coding
    them."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    ck = _drain_checkpointed(agg, "state_inspect", mode="complete")
    st = spark.read.format("statestore").load(ck)
    buf_fields = st.schema["value"].dataType.names
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{buf_fields[0]}").cast("long").alias("n_in_state"),
    )


@query(
    "stream_state_metadata_audit",
    oracle=f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM {EVENTS} e)
    SELECT 'dedupe' AS operator_name,
           4 AS num_partitions,
           CAST(0 AS BIGINT) AS min_batch_id,
           (SELECT count(*) FROM (
              SELECT DISTINCT user_id, ts, event_type FROM {EVENTS} e, wm
              WHERE ts >= wm.w)) AS n_state_rows
    UNION ALL
    SELECT 'stateStoreSave', 4, CAST(0 AS BIGINT),
           (SELECT count(DISTINCT event_type) FROM {EVENTS} e)
    ORDER BY operator_name
    """,
    tags=("T6", "T7", "S5"),
)
def stream_state_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator-level state CATALOG under the gate: Spark 4's
    `state-metadata` batch source lists every stateful operator a
    checkpoint holds (id, name, store, partition count, batch range) —
    the first stop of any production state debugging session, before
    drilling into `statestore` rows. A dedup→aggregate chain (TWO
    stateful operators in one query) drains through a checkpoint; the
    audit joins the metadata catalog with each operator's actual state
    ROW COUNT read back via `statestore`'s operatorId option. Both are
    data-dependent truths the batch oracle pins: the aggregation holds
    one row per event type, and the dedup store holds exactly the
    distinct (user, ts, type) rows AT OR ABOVE the final watermark
    (max ts − 10 min — watermark eviction is part of the contract, so a
    dedup store that leaks evicted keys fails the gate). Partition count
    is the checkpoint-frozen state width (4); min_batch_id pins the
    fresh checkpoint's retained range starting at 0 (batch-layout
    independent — checkpoint retention would raise it)."""
    ev = events_stream(spark, sf_dir)
    chain = (
        ev.withWatermark("ts", "10 minutes")
        .select("user_id", "ts", "event_type")
        .dropDuplicates(["user_id", "ts", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    ck = _drain_checkpointed(chain, "state_meta", mode="complete")
    meta = spark.read.format("state-metadata").load(ck)
    # per-operator state row counts: one bounded statestore read per
    # catalog entry (2 here) — the catalog is O(#operators), never data
    counts = [
        (int(r["operatorId"]), spark.read.format("statestore")
            .option("operatorId", r["operatorId"]).load(ck).count())
        for r in meta.select("operatorId").collect()
    ]
    cdf = spark.createDataFrame(counts, "operatorId long, n_state_rows long")
    return (
        meta.join(cdf, "operatorId")
        .select(
            F.col("operatorName").alias("operator_name"),
            F.col("numPartitions").cast("int").alias("num_partitions"),
            # a FRESH checkpoint's retained batch range starts at 0 — a
            # real pinned property (retention would raise it)
            F.col("minBatchId").cast("long").alias("min_batch_id"),
            F.col("n_state_rows"),
        )
        .orderBy("operator_name")
    )


@query(
    "stream_atomic_two_table_sink",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
           CAST(3 AS BIGINT) AS n_commits,
           true AS atomic_pairs,
           true AS tables_consistent
    FROM {EVENTS} e
    GROUP BY event_type
    """,
    tags=("T8", "S6", "S7"),
)
def stream_atomic_two_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once fan-out to TWO tables with CROSS-TABLE atomicity — the
    sink contract foreachBatch alone cannot give you (write A, crash,
    write B = a reader sees A without B) and single-table formats
    (Delta/Iceberg) cannot express at all: because a CommitLog manifest
    carries a LIST of adds, both tables' micro-batch deltas publish in
    ONE manifest CAS — a reader at any version sees both tables advanced
    by exactly the same batch prefix, never one without the other. Each
    micro-batch computes two aggregate deltas (hourly counts + per-type
    totals) from the same raw rows, stages both at once, and
    commits them together under the batchId (idempotence from the log,
    as stream_upsert_sink). The audit is structural AND data-level:
    every manifest must carry exactly 2 adds (atomic_pairs) and the two
    tables' event totals must agree (tables_consistent) — a torn pair or
    a dropped half shifts one side and fails both the flag and the
    per-type decimal checksums against the single-pass batch oracle."""
    import os
    import shutil

    from ..plans.registry import dsum
    from ..plans.sources_ops import _build_window, _cache_dir, _mark
    from ..sources import readers
    from ..sources.commitlog import CommitLog

    # same 3-file replay fixture as stream_upsert_sink (shared cache key)
    d, ready, fp = _cache_dir(sf_dir, "upsert_jsonl")
    out = os.path.join(d, "batches")
    if not ready:
        with _build_window(d):
            ev = readers.load_table(spark, sf_dir, "events").select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                F.dayofmonth("ts").alias("_day"),
            )
            os.makedirs(out, exist_ok=True)
            for i, (lo, hi) in enumerate(((1, 10), (11, 20), (21, 31))):
                staging = os.path.join(d, f"_stage_{i}")
                ev.filter(F.col("_day").between(lo, hi)).drop("_day").coalesce(
                    1
                ).write.mode("overwrite").json(staging)
                part = next(
                    f
                    for f in sorted(os.listdir(staging))
                    if f.startswith("part-") and f.endswith(".json")
                )
                target = os.path.join(out, f"b{i}.json")
                os.rename(os.path.join(staging, part), target)
                shutil.rmtree(staging)
                t = 1_700_000_000 + i
                os.utime(target, times=(t, t))
            _mark(d, fp)

    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .json(out)
        .withColumn("ts", F.to_timestamp("ts"))
    )

    sink_path = os.path.join(d, "two_table_sink")
    shutil.rmtree(sink_path, ignore_errors=True)
    # production cadence: every 10th micro-batch commit also folds a
    # checkpoint, so a long-lived stream's snapshot loads stay
    # O(commits since checkpoint), not O(stream age); the checkpoint is
    # derived state, so results are unchanged (oracle-gated)
    log = CommitLog(sink_path, checkpoint_interval=10)

    # both logical tables share one physical row shape (tbl, k, n, sv):
    # the discriminator column is what lets one snapshot read serve both
    def fanout(batch_df, batch_id: int):
        if batch_id in log.committed_batch_ids():
            return
        batch_df.persist()
        try:
            hourly = batch_df.groupBy(
                F.lit("hourly").alias("tbl"),
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("k"),
            ).agg(F.count("*").alias("n"), dsum("value").alias("sv"))
            bytype = batch_df.groupBy(
                F.lit("bytype").alias("tbl"), F.col("event_type").alias("k")
            ).agg(F.count("*").alias("n"), dsum("value").alias("sv"))
            # ONE manifest, two adds: the cross-table atomicity point
            log.commit(
                log.stage_all([hourly, bytype]),
                batch_id=batch_id,
                writer="stream_atomic_two_table_sink",
            )
        finally:
            batch_df.unpersist()

    _run_to_end(stream.writeStream.outputMode("append").foreachBatch(fanout), spark)

    snap = log.snapshot()
    atomic_pairs = bool(snap) and all(len(m.get("adds", ())) == 2 for _, m in snap)
    table = log.read(spark)
    assert table is not None, "two-table sink committed nothing"
    # additive deltas resolve by SUM per (tbl, k) — decimal-exact
    resolved = table.groupBy("tbl", "k").agg(
        F.sum("n").alias("n"), F.sum(F.col("sv").cast("decimal(38,6)")).alias("sv")
    )
    totals = resolved.groupBy("tbl").agg(F.sum("n").alias("tot"))
    t = {r["tbl"]: r["tot"] for r in totals.collect()}  # bounded: 2 rows
    consistent = len(t) == 2 and t.get("hourly") == t.get("bytype")
    return (
        resolved.filter(F.col("tbl") == "bytype")
        .select(
            F.col("k").alias("event_type"),
            "n",
            F.col("sv").cast("double").alias("sum_value"),
            F.lit(len(snap)).cast("long").alias("n_commits"),
            F.lit(atomic_pairs).alias("atomic_pairs"),
            F.lit(consistent).alias("tables_consistent"),
        )
    )


@query(
    "stream_ewma_anomaly",
    oracle=f"""
    WITH q AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS q
      FROM {EVENTS} e
    ),
    g AS (
      SELECT user_id, list(q ORDER BY ts, event_id) AS qs
      FROM q GROUP BY user_id
    ),
    r AS (
      SELECT user_id, CAST(len(qs) AS BIGINT) AS n_events,
             list_reduce(
               list_transform(qs, x -> {{'e': x,
                                         'n': CAST(1 AS BIGINT),
                                         'a': CAST(0 AS BIGINT)}}),
               -- field ORDER is load-bearing: DuckDB 1.0 list_reduce
               -- evaluates struct fields sequentially over a reused
               -- accumulator vector on long lists, so a field must not
               -- read an acc.* value an EARLIER field already wrote
               -- (writing 'e' first silently corrupted acc.e in the 'a'
               -- check past ~40 elements). Order a -> n -> e has no
               -- read-after-write hazard.
               (acc, x) -> {{'a': acc.a + (CASE WHEN acc.n >= 3
                                                 AND x.e > 2 * acc.e
                                           THEN 1 ELSE 0 END),
                             'n': acc.n + 1,
                             'e': (3 * acc.e + x.e) // 4}}) AS st
      FROM g
    )
    SELECT user_id, n_events, st.e AS ewma_cents, st.a AS n_anomalies
    FROM r
    """,
    tags=("T5", "T7"),
)
def stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA anomaly detector — the streaming twin of
    timeseries_ewma. Per user, GroupState carries (ewma_cents, n, n_anomalies);
    each micro-batch folds its rows in (ts, event_id) order onto the carried
    state with the exact integer recurrence e = (3e + q) div 4, flagging an
    anomaly when an event exceeds 2x the running baseline after a 3-event
    warmup. Quantization to cents happens in Spark expressions BEFORE the
    Python fold (Python/numpy round is half-to-even; SQL round is not), so
    the recurrence is integer-exact and engine-independent. Emits a running
    snapshot per batch (update mode); the final per-user row (max n_events)
    is the batch oracle's answer. State is a 3-long tuple per user — at
    100 TB state volume is #users * 24 bytes, and the fold is O(batch rows)
    with no shuffle beyond the groupBy key.

    ORDERING CONTRACT: rows sort by (ts, event_id) WITHIN a batch, so the
    fold is exact iff each user's events arrive in nondecreasing event
    time ACROSS batches — true for the driver's single-file layout (one
    availableNow batch) and for time-partitioned ingestion (file-per-hour
    replay), but NOT for a hash-partitioned multi-file table drained with
    maxFilesPerTrigger. Out-of-order cross-batch delivery needs a
    watermark-bounded reorder buffer in state (hold rows above the
    watermark, fold only the settled prefix) — documented, not
    implemented; the sibling window/session twins get this for free from
    the engine's own watermark handling, a sequential fold does not."""
    from .folds import ewma_fold

    keyed = events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("q"),
    )
    res = _fold_drain(keyed, "user_id", ewma_fold, "stream_ewma")
    return _final_snapshot(res)


from ..plans.text import LANG_HITS_SQL as _MON_HITS  # noqa: E402
from ..plans.text import LANG_PRED_CASE_SQL as _MON_PRED  # noqa: E402


@query(
    "stream_confusion_monitor",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_MON_HITS}
      FROM documents
    )
    SELECT lang, {_MON_PRED} AS pred, CAST(count(*) AS BIGINT) AS n
    FROM scored
    GROUP BY 1, 2
    """,
    tags=("T1", "U2", "A1"),
)
def stream_confusion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online model monitoring: the language identifier's confusion
    cells maintained as a STREAMING aggregation over the document feed —
    the standard ML-observability pattern (a drift in the live
    confusion table is the first sign the input distribution moved)
    running on the identical prediction expression the batch evals
    grade (plans/text.py:lang_pred_col; plans/evals.py consumes the
    same cells in batch). Complete-mode groupBy over the class-arity
    key: streaming state is |langs| x |preds| rows regardless of feed
    volume, so the monitor runs forever at any rate. Drained via
    AvailableNow; equal to the batch confusion by construction."""
    import os

    from .. import schemas
    from ..plans.text import lang_pred_col

    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        # Spark-written layout: the table is a DIRECTORY of part files —
        # stream the directory itself (a pathGlobFilter on the parent
        # would match zero files and silently yield an empty stream; the
        # sf1 smoke caught exactly that).
        docs = spark.readStream.schema(schemas.DOCUMENTS).parquet(path)
    else:
        docs = (
            spark.readStream.schema(schemas.DOCUMENTS)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    cells = (
        docs.select("lang", lang_pred_col().alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return _drain(cells, "stream_confusion_monitor", mode="complete")


@query(
    "stream_token_bucket",
    oracle=TOKEN_BUCKET_ORACLE,
    tags=("T5", "U3"),
)
def stream_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-bucket rate limiter — the stateful-streaming twin
    of rate_limit_token_bucket (same oracle, byte-identical answer): per
    user, GroupState carries (tokens_milli, admitted, n, last_t); each
    micro-batch folds its rows in (ts, event_id) order onto the carried
    state — refill min(cap, t + dt), admit/deny, exact integer
    milli-tokens — with last event time carried ACROSS batches so
    inter-batch gaps refill exactly like intra-batch ones. Emits a
    running snapshot per batch (update mode); the final per-user row
    (max n_events) is the oracle's answer. This is the online
    admission-control shape: state is 4 longs per key, O(batch) fold,
    runs forever at any rate.

    Same ordering contract as stream_ewma_anomaly: rows sort within a
    batch, exact iff per-user event time is nondecreasing across
    batches (true for the driver's single-file availableNow layout and
    for time-partitioned replay)."""
    return _final_snapshot(
        token_bucket_stream(spark, sf_dir), key="user_id"
    )


def token_bucket_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Build + drain the token-bucket stream: the registered query AND the
    cross-batch state-carry test drive this one pipeline (projection,
    fold, schemas), so a schema or snapshot change cannot diverge
    between them. Returns the drained update-mode snapshot table."""
    from .folds import token_bucket_fold

    ev = events_stream(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
    keyed = ev.select(
        "user_id", "ts", "event_id", F.unix_timestamp("ts").alias("t")
    )
    return _fold_drain(keyed, "user_id", token_bucket_fold, "stream_token_bucket")


@query(
    "stream_sprt_monitor",
    oracle=SPRT_ORACLE,
    tags=("T5", "W2", "F4"),
)
def stream_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Wald-SPRT monitor — the stateful-streaming twin of
    eval_sprt_boundary (same oracle constant, byte-identical answer):
    per DAY, GroupState carries (cum LLR, n, first-crossing step, its
    LLR) across micro-batches; each batch folds its rows in (ts,
    event_id) order onto the carried walk, and once the walk exits
    (ln B, ln A) the decision FREEZES (first-crossing semantics) while
    n keeps counting so n_obs matches the batch twin. The four
    quantized-nanonat constants are imported from the same leaf module
    the batch eval and both engines' SQL use — one definition, three
    consumers. This is the online experiment-monitor shape: state is 4
    longs per day, decisions fire as soon as the evidence crosses, and
    days already decided cost one comparison per event.

    Same ordering contract as the other update-mode twins: rows sort
    within a batch; exact iff per-day event time is nondecreasing
    across batches (true for the single-file availableNow layout and
    time-partitioned replay)."""
    return _final_snapshot(
        sprt_stream(spark, sf_dir), key="day_no", order_col="n_obs"
    )


def sprt_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Build + drain the SPRT stream: the registered query AND the
    cross-batch decision-carry test drive this one pipeline."""
    from .folds import SPRT_L0, SPRT_L1, sprt_walk_fold

    ev = events_stream(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
    keyed = ev.select(
        F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").alias(
            "day_no"
        ),
        "ts",
        "event_id",
        F.expr(
            f"CASE WHEN event_type = 'purchase' THEN {SPRT_L1}L"
            f" ELSE {SPRT_L0}L END"
        ).alias("inc"),
    )
    return _fold_drain(keyed, "day_no", sprt_walk_fold, "stream_sprt_monitor")


@query(
    "stream_percentile_monitor",
    oracle=f"""
    WITH hist AS (
      SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM {EVENTS} ev GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM hist)
    SELECT event_type, CAST(max(total) AS BIGINT) AS n_obs,
           CAST(min(CASE WHEN c * 100 >= total * 50 THEN bucket END) AS BIGINT)
             AS p50_bucket,
           CAST(min(CASE WHEN c * 100 >= total * 95 THEN bucket END) AS BIGINT)
             AS p95_bucket,
           CAST(min(CASE WHEN c * 100 >= total * 99 THEN bucket END) AS BIGINT)
             AS p99_bucket
    FROM cum GROUP BY event_type
    """,
    tags=("T1", "A9", "A2"),
)
def stream_percentile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online latency-percentile monitor: a STREAMING value-bucket
    histogram (width-10 buckets) per event type in complete mode, read
    out as bucketed p50/p95/p99 — the production percentile-dashboard
    architecture (exact order statistics need the data; a streaming
    monitor keeps a bounded histogram and reports the bucket containing
    each percentile, with error bounded by bucket width by
    construction). Streaming state is |types| x |buckets| rows
    regardless of feed volume, so the monitor runs forever at any rate.
    The percentile read-out is deterministic integer arithmetic on the
    drained histogram (first bucket where cum*100 >= q*total); the
    oracle computes the identical bucketed answer from the batch table.

    This complements ops_latency_percentiles (exact nearest-rank, batch)
    with the online approximation the same dashboard serves between
    batch refreshes."""
    ev = events_stream(spark, sf_dir)
    hist = (
        ev.select(
            "event_type", F.expr("CAST(floor(value / 10) AS BIGINT)").alias("bucket")
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    drained = _drain(hist, "stream_percentile_monitor", mode="complete")
    from pyspark.sql import Window as PW

    wc = (
        PW.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(PW.unboundedPreceding, PW.currentRow)
    )
    wt = PW.partitionBy("event_type")
    cum = drained.select(
        "event_type",
        "bucket",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("total"),
    )
    return cum.groupBy("event_type").agg(
        F.max("total").cast("long").alias("n_obs"),
        F.min(F.expr("CASE WHEN c * 100 >= total * 50 THEN bucket END"))
        .cast("long")
        .alias("p50_bucket"),
        F.min(F.expr("CASE WHEN c * 100 >= total * 95 THEN bucket END"))
        .cast("long")
        .alias("p95_bucket"),
        F.min(F.expr("CASE WHEN c * 100 >= total * 99 THEN bucket END"))
        .cast("long")
        .alias("p99_bucket"),
    )


@query(
    "stream_holt_winters",
    oracle=HOLT_WINTERS_ORACLE,
    tags=("T5", "W2", "F4"),
)
def stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-Winters forecaster — the stateful twin of
    timeseries_holt_winters (same oracle constant, byte-identical
    answer): per event type, GroupState carries the triple-smoothing
    state (level, trend, step, 7 seasonal slots) PLUS the still-open
    day's pending count; a day flushes into the recurrence only when a
    later day arrives, so a day straddling micro-batches enters exactly
    once, and each batch's snapshot applies the open day as a
    look-ahead step without storing it. The recurrence is the same
    python _trunc_div template the batch fold's generated SQL encodes —
    one definition, three consumers (batch Spark fold, DuckDB
    list_reduce, streaming GroupState).

    This is the online-forecasting shape: state is 12 longs per series,
    each event costs one pending increment, and the model is always
    one flush behind the live edge — exactly how production HW
    monitors run."""
    from .folds import holt_winters_fold

    keyed = events_stream(spark, sf_dir).select(
        "event_type",
        F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").alias("d"),
        F.lit(1).alias("one"),
    )
    drained = _fold_drain(keyed, "event_type", holt_winters_fold, "stream_holt_winters")
    # n_obs_total is the STRICTLY monotone snapshot selector (n_days
    # alone ties when a batch only extends the open day); dropped after
    # selection so the output matches the batch oracle's columns
    return _final_snapshot(
        drained, key="event_type", order_col="n_obs_total"
    ).drop("n_obs_total")


def _cusum_oracle() -> str:
    from .folds import CUSUM_BURN, CUSUM_SCALE, CUSUM_SLACK_DIV, CUSUM_T_MULT

    return f"""
    WITH cells AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM {EVENTS} e GROUP BY 1, 2),
    rn AS (
      SELECT event_type, h, x,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM cells),
    mu AS (
      SELECT event_type,
             CAST(sum(x) * {CUSUM_SCALE} // {CUSUM_BURN} AS BIGINT) AS mu_s
      FROM rn WHERE rn <= {CUSUM_BURN}
      GROUP BY 1 HAVING count(*) = {CUSUM_BURN}),
    walk AS (
      SELECT r.event_type, r.h, m.mu_s,
             sum(r.x * {CUSUM_SCALE} - (m.mu_s + m.mu_s // {CUSUM_SLACK_DIV}))
               OVER (PARTITION BY r.event_type ORDER BY r.h
                     ROWS UNBOUNDED PRECEDING) AS c
      FROM rn r JOIN mu m USING (event_type) WHERE r.rn > {CUSUM_BURN}),
    drifted AS (
      SELECT event_type, h, mu_s,
             c - least(0, min(c) OVER (PARTITION BY event_type ORDER BY h
                                       ROWS UNBOUNDED PRECEDING)) AS drift
      FROM walk),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells FROM cells
      GROUP BY 1)
    SELECT d.event_type, t.n_cells, CAST(d.mu_s AS BIGINT) AS mu_scaled,
           CAST(min(CASE WHEN d.drift >= {CUSUM_T_MULT} * d.mu_s THEN d.h END)
                AS BIGINT) AS first_alert_h,
           CAST(max(d.drift) AS BIGINT) AS max_drift
    FROM drifted d JOIN tot t USING (event_type)
    GROUP BY 1, 2, 3
    """


@query(
    "stream_cusum_monitor",
    oracle=_cusum_oracle(),
    tags=("T5", "A2", "W2"),
)
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM changepoint monitor (Page 1954) — the online twin
    of the changepoint family: per event type, the first {BURN} closed
    hourly cells fix the reference rate mu (a CAUSAL burn-in, unlike the
    batch timeseries_cusum_changepoint's global mean, which no stream
    can know); after burn-in each closed hour adds
    x*1e6 - (mu + mu/10) to the walk, drift = walk - min(0, running
    min), and the first hour whose drift reaches 5*mu freezes as the
    changepoint (first-crossing semantics, like the SPRT walk). Hour
    cells straddling micro-batches use holt_winters_fold's pending-flush
    discipline; each batch's snapshot applies the open hour as a
    look-ahead step without storing it. State is 10 longs per series.

    The DuckDB oracle runs the identical walk as window algebra (the
    max(0, S + dv) CUSUM recursion is exactly c - least(0, running min
    c) — Page's reflection identity — so no fold is needed SQL-side):
    exact integers end to end, byte-identical twins."""
    from .folds import cusum_fold

    keyed = events_stream(spark, sf_dir).select(
        "event_type",
        F.expr(
            "CAST(unix_micros(date_trunc('hour', ts)) AS BIGINT) div 3600000000"
        ).alias("h"),
        F.lit(1).alias("one"),
    )
    drained = _fold_drain(keyed, "event_type", cusum_fold, "stream_cusum_monitor")
    return _final_snapshot(
        drained, key="event_type", order_col="n_obs_total"
    ).drop("n_obs_total")


@query(
    "stream_slo_burn_monitor",
    oracle=SLO_BURN_ORACLE,
    tags=("T5", "A2", "W3"),
)
def stream_slo_burn_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multi-window SLO burn monitor — the stateful twin of
    ops_slo_burn_rate (same oracle via the registration below,
    byte-identical alert rows). A real SLO is ONE series, so the fold is
    single-keyed: state carries the open hour's (n, err) plus a ring of
    the last 5 CLOSED cells — the slow window's RANGE semantics (a gap
    hour shrinks the window: ring cells older than h-5 are filtered at
    compute time, never summed). Hours straddling micro-batches use the
    pending-flush discipline; every closed hour EMITS with its verdict
    (a partial hour can look alerting then cool off, so alert rows are
    filtered AFTER final-snapshot selection, not at emit time); the
    open hour rides each batch as a look-ahead row that its eventual
    close row outranks via the strictly-monotone n_obs_total selector.

    Single-key throughput is the Python-stateful envelope (~100k
    rows/s, BENCH streaming leg) — the same shape a production
    single-series SLO evaluator has; the hourly pre-aggregation a real
    deployment would add upstream is measured separately in the batch
    twin (which collapses volume BEFORE the walk)."""
    from .folds import slo_burn_fold

    keyed = events_stream(spark, sf_dir).select(
        F.lit("slo").alias("series"),
        F.expr(
            "CAST(unix_micros(date_trunc('hour', ts)) AS BIGINT) div 3600000000"
        ).alias("h"),
        F.lit(1).alias("one"),
        F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END").alias("err"),
    )
    drained = _fold_drain(keyed, "series", slo_burn_fold, "stream_slo_burn_monitor")
    final = _final_snapshot(drained, key="h", order_col="n_obs_total")
    return final.where("alert").drop("alert", "n_obs_total")



@query(
    "stream_funnel_stage",
    oracle=f"""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM {EVENTS} e
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM {EVENTS} e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM {EVENTS} e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
           GROUP BY e.user_id),
    n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          FROM {EVENTS} e GROUP BY 1)
    SELECT n.user_id, n.n_events,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                WHEN s2.user_id IS NOT NULL THEN 2
                WHEN s1.user_id IS NOT NULL THEN 1
                ELSE 0 END AS BIGINT) AS funnel_stage
    FROM n
    LEFT JOIN s1 ON n.user_id = s1.user_id
    LEFT JOIN s2 ON n.user_id = s2.user_id
    LEFT JOIN s3 ON n.user_id = s3.user_id
    """,
    tags=("T5", "J3", "W2"),
)
def stream_funnel_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time per-user funnel tracker — the streaming twin of
    funnel_conversion's first-passage chain (the live 'where is this
    user in the funnel' readout powering in-session interventions):
    GroupState per user carries (first view, first click strictly
    after it, first purchase strictly after that, n) — three
    timestamps, advanced incrementally; the emitted stage is the
    chain's depth. The batch oracle computes the identical chain as
    three min-aggregates + left joins, so the incremental advance is
    checked against the declarative first-passage definition, not a
    copy of itself.

    Same ordering contract as the other update-mode twins (exact iff
    per-user event time is nondecreasing across batches); state is 4
    longs per user — the bounded-state shape a billion-user funnel
    needs."""
    from .folds import funnel_stage_fold

    keyed = events_stream(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
        "event_type",
    )
    drained = _fold_drain(keyed, "user_id", funnel_stage_fold, "stream_funnel_stage")
    return _final_snapshot(drained, key="user_id", order_col="n_events")


@query(
    "stream_psi_drift_monitor",
    oracle=None,  # bound below to the batch PSI twin's SQL
    tags=("T1", "A3", "F4"),
)
def stream_psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor — the online twin of dq_drift_psi (same
    oracle constant, byte-identical answer): the STREAM maintains only
    the compact (type, window, raw-bin, shifted-bin) count cube in
    complete mode — bounded at |types| x 2 x 15 x 15 state rows
    regardless of feed volume, the histogram-monitor shape of
    stream_percentile_monitor — and the PSI read-out (Laplace
    smoothing, 6-dp-rounded transcendental terms, decimal sum) runs on
    the drained cube through plans.extensions.psi_readout, the SAME
    function the batch query calls, so the smoothing contract cannot
    fork. This is the production architecture: the expensive part
    (fact-volume binning) is the streaming aggregate; the dashboard
    read-out is cube-sized batch algebra between refreshes."""
    from ..plans.extensions import _PSI_BINS, _PSI_W, psi_readout

    ev = events_stream(spark, sf_dir)
    B, W = _PSI_BINS, _PSI_W
    win = (
        F.when(F.dayofmonth("ts").between(1, 7), F.lit("b"))
        .when(F.dayofmonth("ts").between(15, 21), F.lit("c"))
    )

    def binned(col):
        return F.least(F.floor(col / W).cast("long"), F.lit(B - 1))

    cube = (
        ev.select(
            "event_type",
            win.alias("win"),
            # Events outside both comparison windows (days 8-14 / 22-31,
            # win NULL) must keep their event_type in the cube — the type
            # grid psi_readout derives (and the oracle's full-table
            # DISTINCT) covers every type in the feed, so a type seen
            # ONLY outside the windows surfaces with a NULL psi rather
            # than silently vanishing. But complete mode retains every
            # state row forever, so their bins collapse to one sentinel
            # row per type: state is |types|x(2xBxB + 1), not the ~50%
            # NULL-window overhang ADVICE r9 flagged. psi_readout never
            # reads the sentinels (every count filters win to 'b'/'c',
            # and its bin grid is the fixed range(B), not cube-derived).
            F.when(win.isNotNull(), binned(F.col("value")))
            .otherwise(F.lit(-1))
            .alias("bin"),
            F.when(win.isNotNull(), binned(F.col("value") * 1.5))
            .otherwise(F.lit(-1))
            .alias("sbin"),
        )
        .groupBy("event_type", "win", "bin", "sbin")
        .agg(F.count("*").cast("long").alias("c"))
    )
    # localCheckpoint re-bases the memory-sink table on a fresh RDD scan:
    # psi_readout self-joins the cube three ways, and the memory table's
    # plan carries fixed attribute ids that would conflict across those
    # branches (the batch path checkpoints its cube for the same reason).
    drained = _drain(
        cube, "stream_psi_drift_monitor", mode="complete"
    ).localCheckpoint(eager=True)
    return psi_readout(spark, drained)


from ..plans import REGISTRY as _REG  # noqa: E402

_REG["stream_psi_drift_monitor"].oracle = _REG["dq_drift_psi"].oracle


@query(
    "stream_croston_monitor",
    oracle=None,  # bound below to the batch Croston twin's SQL
    tags=("T5", "W2", "F4"),
)
def stream_croston_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Croston forecaster — the stateful twin of
    timeseries_croston (same oracle constant, byte-identical answer):
    per user, GroupState carries (pending demand day, size level,
    interval level, prev demand day, step count), a purchase day
    flushing into the recurrences only when a later day arrives — so a
    demand day straddling micro-batches enters the size/interval
    smoothing exactly once, complete (the stream_holt_winters
    contract). The snapshot applies the still-open day without storing
    it, and the total-demand counter is the strictly-monotone snapshot
    selector. Intermittent-demand state is 7 longs per user regardless
    of feed volume.

    Same ordering contract as the other update-mode twins: rows sort
    within a batch; exact iff per-user demand-day order is
    nondecreasing across batches (true for availableNow and
    time-partitioned replay)."""
    return _final_snapshot(
        croston_stream(spark, sf_dir), key="user_id", order_col="nobs"
    ).select(
        "user_id", "n_demands", "size_level", "interval_level",
        "demand_rate_ppm",
    )


def croston_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Build + drain the Croston stream: the registered query AND the
    cross-batch day-straddle test drive this one pipeline."""
    from .folds import croston_fold

    ev = events_stream(spark, sf_dir, max_files_per_trigger=max_files_per_trigger)
    keyed = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)").alias(
            "d"
        ),
        F.lit(1).alias("one"),
    )
    return _fold_drain(keyed, "user_id", croston_fold, "stream_croston_monitor")


_REG["stream_croston_monitor"].oracle = _REG["timeseries_croston"].oracle
