"""Streaming throughput measurement: rows/sec through stateful shapes.

The reference's streaming lane is paced by a wall-clock producer
(log-generator/generator.py:196-224 `sleep_until`), so its throughput
ceiling is never observable from correctness tests alone.  This harness
measures the ENGINE's ceiling instead: the ``rate-micro-batch`` source
delivers exactly ``rows_per_batch`` rows per trigger with deterministic
event time (``advanceMillisPerBatch``) and no wall-clock pacing, so
``sum(numInputRows) / sum(triggerExecution)`` over the steady-state
batches is the pipeline's processing capacity, not the offered rate.

Three shapes cover the stateful taxonomy (SURVEY.md §2 T1/T6/T5):

- ``tumbling_agg``   — watermark + windowed count/sum (JVM state store)
- ``stream_dedup``   — watermark + dropDuplicates on a key (JVM state)
- ``alert_once``     — applyInPandasWithState (the Python/Arrow slow
  path; per-key cumulative count with a fired flag, like
  pipelines.alert_once_stateful but keyed by value%K so the stateful
  step actually parallelizes across cores instead of one window key)

Scale notes: event time advances 1s per batch, windows are 1s, and the
watermark trails 2s, so aggregation/dedup state is evicted batches
later — state size is O(keys in flight), never O(rows seen), which is
what lets the same shapes run forever at cluster scale.  Keys are
``value % K`` (K bounded), so the dedup and alert state stores are
K-bounded too.
"""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WARM_BATCHES = 1  # batch 0 pays JIT + state-store open; never timed


def _rate_source(spark: SparkSession, rows_per_batch: int, n_partitions: int) -> DataFrame:
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", n_partitions)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )


def _shape_tumbling_agg(src: DataFrame) -> tuple[DataFrame, str]:
    out = (
        src.withWatermark("timestamp", "2 seconds")
        .groupBy(F.window("timestamp", "1 second"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    return out, "update"


def _shape_stream_dedup(src: DataFrame) -> tuple[DataFrame, str]:
    out = (
        src.withColumn("k", F.col("value") % 1_000_000)
        .withWatermark("timestamp", "2 seconds")
        .dropDuplicates(["k", "timestamp"])
    )
    return out, "append"


def _shape_alert_once(src: DataFrame) -> tuple[DataFrame, str]:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = src.withWatermark("timestamp", "2 seconds").select(
        (F.col("value") % 10_000).alias("k"), "timestamp"
    )

    def fire_once(key, pdfs, state: GroupState):
        import pandas as pd  # executor-side

        if state.hasTimedOut:
            state.remove()
            return
        n = sum(len(pdf) for pdf in pdfs)
        count, fired = state.get if state.exists else (0, False)
        count += n
        should_fire = count > 500 and not fired
        state.update((count, fired or should_fire))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 3_600_000)
        if should_fire:
            yield pd.DataFrame({"k": [key[0]], "n_events": [count]})

    out = keyed.groupBy("k").applyInPandasWithState(
        fire_once,
        outputStructType="k long, n_events long",
        stateStructType="count long, fired boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out, "update"


SHAPES = {
    "tumbling_agg": _shape_tumbling_agg,
    "stream_dedup": _shape_stream_dedup,
    "alert_once": _shape_alert_once,
}


def _await_tasks_done(spark: SparkSession, group: str, timeout_sec: float = 60.0) -> None:
    """Block until no task of Spark job group ``group`` is still running.
    A streaming query runs its jobs under its run id as the job group;
    ``stop()`` cancels them but returns before their killed tasks end, and
    those tasks can still be writing state-store files under the
    checkpoint, so removing it then fails with ``Directory not empty``.
    Raises TimeoutError when tasks outlive ``timeout_sec``."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_sec
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [tracker.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        running = sum(j.status == "RUNNING" for j in jobs if j)
        running += sum(s.numActiveTasks for s in stages if s)
        if not running:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"job group {group}: {running} jobs/tasks still running {timeout_sec}s after stop()"
            )
        time.sleep(0.1)


def measure_shape(
    spark: SparkSession,
    shape: str,
    *,
    rows_per_batch: int,
    n_batches: int = 5,
    n_partitions: int = 8,
    timeout_sec: float = 90.0,
) -> dict[str, float]:
    """Run ``shape`` until ``_WARM_BATCHES + n_batches`` triggers complete
    (or ``timeout_sec``), then return ``{"rows_per_sec": ...,
    "steady_batches": n}`` computed from the query's own progress
    telemetry (numInputRows / triggerExecution), excluding the warm-up
    batch.  ``steady_batches`` < ``n_batches`` means the timeout cut the
    measurement short — reported, never silent (no-silent-caps rule).
    The noop sink isolates the pipeline cost from any sink cost."""
    df, mode = SHAPES[shape](_rate_source(spark, rows_per_batch, n_partitions))
    want = _WARM_BATCHES + n_batches
    with tempfile.TemporaryDirectory(prefix=f"tput_{shape}_") as ckpt:
        q = (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            deadline = time.time() + timeout_sec
            while time.time() < deadline:
                done = [p for p in q.recentProgress if p["numInputRows"] > 0]
                if len(done) >= want:
                    break
                if q.exception() is not None:
                    raise q.exception()
                time.sleep(0.1)
            prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
            q.awaitTermination()
            _await_tasks_done(spark, str(q.runId))
    steady = prog[_WARM_BATCHES:][:n_batches]
    if not steady:
        raise RuntimeError(f"{shape}: no steady-state batches within {timeout_sec}s")
    rows = sum(p["numInputRows"] for p in steady)
    secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
    return {
        "rows_per_sec": rows / max(secs, 1e-9),
        "steady_batches": len(steady),
    }


def measure_all(
    spark: SparkSession,
    *,
    jvm_rows_per_batch: int = 2_000_000,
    py_rows_per_batch: int = 200_000,
    n_batches: int = 5,
) -> dict[str, float]:
    """rows/sec for each stateful shape; the bench.py streaming leg.
    A ``<shape>_steady_batches`` key appears whenever the timeout delivered
    fewer than ``n_batches`` measured batches, so a short measurement can
    never masquerade as the full steady-state envelope."""
    out: dict[str, float] = {}
    per_shape = {
        "tumbling_agg": jvm_rows_per_batch,
        "stream_dedup": jvm_rows_per_batch,
        "alert_once": py_rows_per_batch,
    }
    for shape, rpb in per_shape.items():
        m = measure_shape(spark, shape, rows_per_batch=rpb, n_batches=n_batches)
        out[f"{shape}_rows_per_sec"] = round(m["rows_per_sec"])
        if m["steady_batches"] < n_batches:
            out[f"{shape}_steady_batches"] = m["steady_batches"]
    return out
