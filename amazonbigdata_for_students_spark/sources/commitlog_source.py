"""Commit-log table as a STREAMING source (Spark 4 Python Data Source API).

The write path (``commitlog.py``) gives the table atomic versions; this
module closes the loop by making those versions consumable as a structured
stream — the "table as a change stream" pattern Delta/Iceberg users rely
on for incremental ETL (reference comps. 10-11: long-term storage feeding
downstream jobs without re-scans).

Offsets ARE commit versions, and the reader sees the log only through
``CommitLog``: ``latestOffset`` is ``CommitLog.head()`` (one log listing),
``partitions(start, end)`` maps each version of ``CommitLog.snapshot`` in
``(start, end]`` to the data directories its manifest added — pure
metadata on the driver, no row read at planning time — and each executor
task reads exactly one delta directory via pyarrow, yielding Arrow record
batches straight to the JVM. A retention-pruned log keeps streaming its
retained range to a stream resumed at an offset at or above the horizon;
a start offset below it raises ``ManifestsPruned`` rather than silently
yielding nothing. So a NEW stream (initial offset -1) cannot start on a
pruned log: its history before the horizon is gone, and its first batch
raises ``ManifestsPruned``.
The stream's schema is the Spark schema ``CommitLog.stage`` recorded for the
oldest live delta (``data/<token>/_schema.json``, found by
``CommitLog.live_tokens``, so a checkpoint-carried delta counts) plus
``_commit_version int``; a log whose deltas were staged without one is
refused with a ``ValueError``.
Version-granular offsets make recovery exact: after a checkpoint restart
the stream resumes from the committed version, so every commit is
processed exactly once (``src_commitlog_stream`` drives this end to end
with two availableNow runs over one checkpoint).

At 100 TB: planning cost is O(#commits in the batch) JSON reads; read
parallelism is one task per delta dir (compaction keeps that bounded); the
stream never rewinds into compacted history because offsets advance
monotonically with the log.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StructType

from .commitlog import CommitLog, recorded_schema


class DeltaPartition(InputPartition):
    def __init__(self, data_dir: str, version: int):
        self.data_dir = data_dir
        self.version = version


class CommitLogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("commitlog source requires .option('path', <table dir>)")
        self._log = CommitLog(path)

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": self._log.head()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        """One partition per delta added in (start, end]; a start below the
        log-retention horizon raises ManifestsPruned."""
        return [
            DeltaPartition(os.path.join(self._log.data_dir, t), v)
            for v, m in self._log.snapshot(
                after=start["version"], until=end["version"]
            )
            for t in m.get("adds", ())
        ]

    def read(self, partition: DeltaPartition) -> Iterator:
        """Executor-side: stream one delta dir as Arrow batches (never a
        row-at-a-time Python loop), appending the version column."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for f in sorted(os.listdir(partition.data_dir)):
            if not f.endswith(".parquet"):
                continue
            table = pq.read_table(os.path.join(partition.data_dir, f))
            vcol = pa.array([partition.version] * len(table), type=pa.int32())
            yield from table.append_column("_commit_version", vcol).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; the log itself is immutable


class CommitLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "commitlog"

    def schema(self) -> StructType:
        """The oldest live delta's recorded schema plus the version column:
        the schema ``CommitLog.stage`` wrote, never a footer guess."""
        log = CommitLog(self.options.get("path"))
        live = log.live_tokens()
        if not live:
            raise ValueError("commitlog source: no live delta, cannot infer schema")
        token_dir = os.path.join(log.data_dir, live[0][1])
        schema = recorded_schema(token_dir)
        if schema is None:
            raise ValueError(
                f"commitlog source: {token_dir} has no recorded "
                "schema; stage deltas with CommitLog.stage"
            )
        return schema.add("_commit_version", IntegerType())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return CommitLogStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the commitlog streaming format."""
    spark.dataSource.register(CommitLogDataSource)
