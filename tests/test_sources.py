"""Source/sink tests: hourly CSV layout, NULL sentinel, JSONL, schema drift
(SURVEY.md §2.1 S1/S2/S10)."""

from __future__ import annotations

import os

from pyspark.sql import Row, functions as F

from amazonbigdata_for_students_spark import schemas
from amazonbigdata_for_students_spark.sources.readers import (
    infer_and_check,
    read_hourly_csv,
    read_jsonl,
)


def _write_hourly_csv(root: str) -> None:
    # Reference layout: one CSV per hour at YYYY/MM/DD/HH.csv with header
    # (generator.py:236-244); "NULL" sentinel in device_id (generator.py:75).
    rows = {
        ("2024", "01", "02", "03"): [
            "item_id,ts,device_type,device_id,user_ip",
            "1000,2024-01-02T03:00:01Z,mobile:ios,123456,11.1.1.1",
            "1001,2024-01-02T03:10:00Z,other,NULL,12.2.2.2",
        ],
        ("2024", "01", "02", "04"): [
            "item_id,ts,device_type,device_id,user_ip",
            "1002,2024-01-02T04:00:00Z,mobile:android,654321,13.3.3.3",
        ],
    }
    for (y, m, d, h), lines in rows.items():
        p = os.path.join(root, y, m, d)
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, f"{h}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")


def test_hourly_csv_partitions_and_null_sentinel(spark, tmp_path):
    _write_hourly_csv(str(tmp_path))
    df = read_hourly_csv(spark, str(tmp_path), schemas.VIEW_EVENT_RAW)
    rows = {r.item_id: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["1001"].device_id is None  # "NULL" sentinel → SQL NULL
    assert rows["1001"].hour == 3 and rows["1002"].hour == 4
    assert rows["1000"].year == 2024 and rows["1000"].month == 1 and rows["1000"].day == 2


def test_jsonl_roundtrip(spark, tmp_path):
    p = str(tmp_path / "views.jsonl")
    with open(p, "w") as f:
        f.write(
            '{"device_id": "111", "device_type": "mobile:ios", "item_id": "1000",'
            ' "ts": "2024-01-01T00:00:00Z", "user_ip": "11.0.0.1"}\n'
        )
    df = read_jsonl(spark, p, schemas.VIEW_EVENT_RAW)
    row = df.collect()[0]
    assert row.item_id == "1000" and row.user_ip == "11.0.0.1"


def test_schema_drift_logged_not_fatal(spark, tmp_path):
    p = str(tmp_path / "drifted.jsonl")
    with open(p, "w") as f:
        # missing device_id, extra column, ts stays string
        f.write('{"item_id": "1", "ts": "2024-01-01T00:00:00Z", "device_type": "other",'
                ' "user_ip": "11.0.0.1", "extra_col": 5}\n')
    issues = infer_and_check(spark, p, schemas.VIEW_EVENT_RAW)
    assert any("missing column: device_id" in i for i in issues)
    assert any("new column: extra_col" in i for i in issues)


def test_drift_type_change():
    inferred = schemas.T.StructType(
        [schemas.T.StructField("item_id", schemas.T.LongType())]
    )
    declared = schemas.T.StructType(
        [schemas.T.StructField("item_id", schemas.T.StringType())]
    )
    issues = schemas.check_drift(declared, inferred)
    assert issues == ["type drift: item_id string -> bigint"]


def test_tolerant_jsonl_quarantines_corrupt_records(spark, tmp_path):
    # S2 failure semantics: malformed lines must land in _corrupt_record,
    # not fail the read; good lines parse normally.
    import json

    from amazonbigdata_for_students_spark import schemas
    from amazonbigdata_for_students_spark.sources.readers import read_jsonl_tolerant

    p = tmp_path / "landing"
    p.mkdir()
    good = [
        {"item_id": "7", "ts": "2024-01-01T00:00:01Z", "device_type": "other",
         "device_id": "NULL", "user_ip": "11.0.0.1"},
        {"item_id": "8", "ts": "2024-01-01T00:00:02Z", "device_type": "mobile:ios",
         "device_id": "123", "user_ip": "11.0.0.2"},
    ]
    with open(p / "mixed.jsonl", "w") as f:
        f.write(json.dumps(good[0]) + "\n")
        f.write("{not valid json at all\n")
        f.write(json.dumps(good[1]) + "\n")
        f.write('\x00\x01binary garbage\n')
    df = read_jsonl_tolerant(spark, str(p), schemas.VIEW_EVENT_RAW).cache()
    ok = df.filter(df._corrupt_record.isNull())
    bad = df.filter(df._corrupt_record.isNotNull())
    assert ok.count() == 2
    assert bad.count() == 2
    assert sorted(r.item_id for r in ok.collect()) == ["7", "8"]
    assert all(r.item_id is None for r in bad.collect())
    df.unpersist()


def test_socket_ingress_serves_wire_path_and_dies_cleanly(spark):
    """The loopback broker leg (VERDICT r6 item 3): records pushed over a
    REAL TCP connection drive the same wire normalization as the file
    harness, and a dead endpoint fails the stream CLEANLY (a surfaced
    exception, not a hang or a silent empty answer)."""
    import json
    import time

    import pytest
    from pyspark.sql import types as T

    from amazonbigdata_for_students_spark.streaming.sources import (
        JsonlLoopbackServer,
        read_kafka_stream,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    lines = [json.dumps({"k": i, "v": f"x{i}"}, sort_keys=True) for i in range(25)]
    server = JsonlLoopbackServer(lines)
    host, port = server.start()
    try:
        ev = read_kafka_stream(
            spark, schema, socket_endpoint=(host, port), topic="t"
        )
        assert ev.isStreaming
        q = (
            ev.drop("_topic", "_ingest_ts")
            .writeStream.format("memory")
            .queryName("sock_test")
            .outputMode("append")
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while spark.table("sock_test").count() < len(lines):
                assert time.time() < deadline, "socket drain stalled"
                assert q.exception() is None, q.exception()
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination()
        got = {(r.k, r.v) for r in spark.table("sock_test").collect()}
        assert got == {(i, f"x{i}") for i in range(25)}
        assert server.n_connections >= 1  # the wire, not a file fallback
    finally:
        server.stop()

    # stub-kill: endpoint never reachable → the stream must FAIL with a
    # surfaced error (connection refused propagates out of
    # awaitTermination), not hang or return an empty answer. A FRESH
    # never-listened port: Spark reuses the established source for
    # identical (host, port) options within a session, so re-dialing the
    # just-stopped server's port would not exercise the connect path.
    import socket as pysocket

    from pyspark.errors.exceptions.captured import StreamingQueryException

    probe = pysocket.create_server(("127.0.0.1", 0))
    dead_port = probe.getsockname()[1]
    probe.close()
    dead = read_kafka_stream(
        spark, schema, socket_endpoint=("127.0.0.1", dead_port), topic="t"
    )
    q2 = (
        dead.writeStream.format("memory")
        .queryName("sock_dead")
        .outputMode("append")
        .start()
    )
    try:
        # assert OUTSIDE a pytest.raises block: if awaitTermination
        # returns False (query still retrying, not failed) the old
        # raise-inside-raises pattern reported a confusing type mismatch
        # AND leaked a perpetually-reconnecting query into the shared
        # session (advisor find r7) — the finally stops it either way
        with pytest.raises(StreamingQueryException):
            terminated = q2.awaitTermination(timeout=30)
            pytest.fail(
                f"dead-endpoint stream did not fail (terminated={terminated})"
            )
    finally:
        q2.stop()

    # mode exclusivity: zero or two ingress modes is a usage error
    with pytest.raises(ValueError):
        read_kafka_stream(spark, schema)
    with pytest.raises(ValueError):
        read_kafka_stream(
            spark, schema, dev_jsonl_path="/tmp/x", socket_endpoint=(host, port)
        )


def test_python_stream_reader_offsets_and_replay(spark, sf_small):
    """The streaming connector's recovery contract: offsets advance
    filesPerBatch at a time through the path-sorted listing, and
    readBetweenOffsets replays any committed range byte-identically —
    the property that lets the engine recover a failed micro-batch with
    no duplicate and no gap."""
    from amazonbigdata_for_students_spark.plans.sources_ops import (
        _hourly_csv_fixture,
    )
    from amazonbigdata_for_students_spark.sources.pydatasource import (
        HourlyCsvStreamReader,
        _list_hourly_files,
    )

    d = _hourly_csv_fixture(spark, sf_small)
    n_files = len(_list_hourly_files(d))
    assert n_files > 5  # multi-batch territory
    r = HourlyCsvStreamReader({"path": d, "filesPerBatch": "5"})
    off = r.initialOffset()
    assert off == {"idx": 0}
    seen: list[tuple] = []
    n_batches = 0
    while off["idx"] < n_files:
        rows, nxt = r.read(off)
        rows = list(rows)
        assert nxt["idx"] == min(off["idx"] + 5, n_files)
        # recovery: the committed range replays byte-identically
        assert list(r.readBetweenOffsets(off, nxt)) == rows
        seen.extend(rows)
        off = nxt
        n_batches += 1
    assert n_batches == -(-n_files // 5)
    # exhausted stream: read at the end is an empty batch, offset parked
    tail_rows, tail_off = r.read(off)
    assert list(tail_rows) == [] and tail_off == off
    # the full offset walk covers exactly the batch connector's rows
    from amazonbigdata_for_students_spark.sources import pydatasource

    pydatasource.register(spark)
    n_batch_rows = (
        spark.read.format("hourly_csv").option("path", d).load().count()
    )
    assert len(seen) == n_batch_rows


def test_load_table_infers_schema_once(spark, sf_small, tmp_path, jobs_in_group):
    """The footer-inference job runs on the first load of a file version
    only; a repeat load plans from the stored schema with no job."""
    import shutil

    from amazonbigdata_for_students_spark.sources.readers import load_table

    shutil.copy(os.path.join(sf_small, "customer.parquet"), tmp_path)
    d = str(tmp_path)
    first = jobs_in_group("schema_first", lambda: load_table(spark, d, "customer"))
    repeat = jobs_in_group("schema_repeat", lambda: load_table(spark, d, "customer"))
    assert first >= 1 and repeat == 0


def test_load_table_sees_rewritten_file(spark, sf_small, tmp_path):
    """A file rewritten in place is a new version: its schema is inferred
    again, so an added column shows on the next load."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazonbigdata_for_students_spark.sources.readers import load_table

    path = str(tmp_path / "customer.parquet")
    t = pq.read_table(os.path.join(sf_small, "customer.parquet"))
    pq.write_table(t, path)
    assert "c_extra" not in load_table(spark, str(tmp_path), "customer").columns
    pq.write_table(t.append_column("c_extra", pa.array(range(t.num_rows), pa.int64())), path)
    df = load_table(spark, str(tmp_path), "customer")
    assert "c_extra" in df.columns
    assert df.agg({"c_extra": "sum"}).first()[0] == sum(range(t.num_rows))


def test_nanos_events_load_as_micros_timestamps(spark, sf_small, tmp_path):
    """events.parquet written by pyarrow with ts as timestamp[ns] (INT64
    TIMESTAMP(NANOS)) reads through load_table and events_stream as a
    microsecond timestamp, on the first read and on a repeat."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import amazonbigdata_for_students_spark.plans  # noqa: F401  registration order
    from amazonbigdata_for_students_spark.sources.readers import load_table
    from amazonbigdata_for_students_spark.streaming.batch_twins import (
        _drain,
        events_stream,
    )

    t = pq.read_table(os.path.join(sf_small, "events.parquet"))
    ts_us = t.column("ts").cast(pa.timestamp("us"))
    i = t.schema.get_field_index("ts")
    pq.write_table(
        t.set_column(i, "ts", ts_us.cast(pa.timestamp("ns"))),
        str(tmp_path / "events.parquet"),
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")
    want = sorted(ts_us.cast(pa.int64()).to_pylist())
    d = str(tmp_path)

    def micros(df) -> list[int]:
        assert dict(df.dtypes)["ts"] == "timestamp"
        return sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())

    for _ in range(2):
        assert micros(load_table(spark, d, "events")) == want
        stream = events_stream(spark, d).select("event_id", "ts")
        assert micros(_drain(stream, "nanos_events", mode="append")) == want
