"""Streaming sources & sinks (SURVEY.md §2.1 S2/S6/S8/S9).

Dev harness: JSON-lines directories as a file stream — the local stand-in
for the reference's Kinesis streams (reference:
log-generator/generator.py:202-224; records are JSON lines with sorted
keys, generator.py:158). ``maxFilesPerTrigger`` bounds micro-batch size
the way Kinesis shard limits do.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

# The six wire columns Spark's format("kafka") reader produces. The dev
# harness synthesizes the same shape so every downstream transformation is
# identical code whether records arrive from a broker or from files.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def parse_kafka_records(records: DataFrame, schema: T.StructType) -> DataFrame:
    """Normalize Kafka wire records into typed rows: JSON-decode `value`
    against an explicit schema (streaming never infers), keeping the wire
    metadata namespaced with a leading underscore so it can't collide with
    payload fields. Works identically on a real format("kafka") frame and
    the dev-harness frame below."""
    return records.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r"),
        F.col("topic").alias("_topic"),
        F.col("timestamp").alias("_ingest_ts"),
    ).select("r.*", "_topic", "_ingest_ts")


class JsonlLoopbackServer:
    """In-process TCP broker stand-in for socket-mode ingress tests: a
    line-oriented endpoint that pushes a fixed JSONL payload to every
    client that connects, then HOLDS the connection open until ``stop()``
    — Spark's socket source treats a dropped connection as stream failure,
    so end-of-payload must not be end-of-connection; the driving test
    stops the query once the expected row count has drained. Daemon
    threads, stdlib only, bound to 127.0.0.1:0 (ephemeral port). The same
    playbook as functions.endpoint.SpamEndpointStub, applied to ingress:
    local-mode executors share the host, so loopback reaches them; on a
    cluster the (host, port) would name a real feed. ``n_connections``
    proves the wire path (not a file fallback) actually served."""

    def __init__(self, lines: list[str]) -> None:
        self._payload = ("\n".join(lines) + "\n").encode() if lines else b""
        self._server: socket.socket | None = None
        self._clients: list[socket.socket] = []
        self._lock = threading.Lock()
        self._stopping = False
        self.n_connections = 0
        self.host: str | None = None
        self.port: int | None = None

    def start(self) -> tuple[str, int]:
        self._server = socket.create_server(("127.0.0.1", 0))
        self.host, self.port = self._server.getsockname()
        srv = self._server  # local ref: stop() may null the attribute
        # while the serve thread is between accepts

        def serve() -> None:
            while True:
                try:
                    conn, _ = srv.accept()
                except OSError:  # stop() closed the listener
                    return
                with self._lock:
                    if self._stopping:
                        conn.close()
                        return
                    self._clients.append(conn)
                    self.n_connections += 1
                try:
                    conn.sendall(self._payload)
                except OSError:
                    pass  # client gone mid-send; it will reconnect or fail

        threading.Thread(target=serve, daemon=True).start()
        return self.host, self.port

    def stop(self) -> None:
        with self._lock:
            self._stopping = True
            clients, self._clients = self._clients, []
        for c in clients:
            try:
                c.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            c.close()
        if self._server is not None:
            self._server.close()
            self._server = None


def read_kafka_stream(
    spark: SparkSession,
    schema: T.StructType,
    *,
    bootstrap_servers: str | None = None,
    topic: str = "events",
    starting_offsets: str = "earliest",
    dev_jsonl_path: str | None = None,
    max_files_per_trigger: int | None = None,
    socket_endpoint: tuple[str, int] | None = None,
) -> DataFrame:
    """S2 production analogue — Kafka-shaped stream ingress (the reference's
    ingress is a Kinesis stream, generator.py:202-224; Kafka is the
    portable equivalent). Three modes, one downstream path:

    * ``bootstrap_servers`` given → the real ``format("kafka")`` reader
      (requires the spark-sql-kafka connector on the cluster classpath).
    * ``dev_jsonl_path`` given → dev harness: a JSONL file stream whose
      lines are re-shaped into the same six wire columns
      (KAFKA_WIRE_SCHEMA), so tests exercise the identical normalization.
    * ``socket_endpoint`` (host, port) → a live TCP line feed via Spark's
      socket source — the loopback-broker leg (JsonlLoopbackServer in
      tests): records arrive over an actual network connection, not
      files, driving the identical wire normalization end-to-end.

    Any way the result is `parse_kafka_records(wire, schema)` — typed
    payload columns plus `_topic` / `_ingest_ts` metadata."""
    n_modes = sum(
        x is not None for x in (bootstrap_servers, dev_jsonl_path, socket_endpoint)
    )
    if n_modes != 1:
        raise ValueError(
            "pass exactly one of bootstrap_servers, dev_jsonl_path, socket_endpoint"
        )
    if bootstrap_servers is not None:
        wire = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    elif socket_endpoint is not None:
        host, port = socket_endpoint
        lines = (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", str(port))
            .load()
        )
        wire = lines.select(
            F.lit(None).cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            F.lit(topic).alias("topic"),
            F.spark_partition_id().alias("partition"),
            # a socket line carries no broker offset; content hash is a
            # stable stand-in for logging/debug (never used for ordering)
            F.xxhash64(F.col("value")).alias("offset"),
            F.current_timestamp().alias("timestamp"),
        )
    else:
        reader = spark.readStream.schema(
            T.StructType([T.StructField("value", T.StringType())])
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        lines = reader.text(dev_jsonl_path)
        wire = lines.select(
            F.lit(None).cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            F.lit(topic).alias("topic"),
            F.spark_partition_id().alias("partition"),
            # files carry no broker offset; a content hash is a stable
            # stand-in for logging/debug (never used for ordering)
            F.xxhash64(F.col("value")).alias("offset"),
            F.current_timestamp().alias("timestamp"),
        )
    return parse_kafka_records(wire, schema)


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S2 — JSONL file-stream source with an explicit schema (streaming
    reads never infer)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def write_partitioned_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """S6/T8 — exactly-once partitioned parquet sink: Firehose-to-S3
    long-term storage (reference diagram comp. 10). The file sink +
    checkpoint WAL is exactly-once by design; partition columns must
    already be on the frame (sinks.write_partitioned adds them in batch)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day", "hour")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
