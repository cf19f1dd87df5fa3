"""Workloads and the timed operation: one registry query, fully materialised.

A query's latency is ``fn(spark, sf_dir)`` plus a ``noop`` write of every
column, so nothing Catalyst could prune is left out. The write runs under an
``Observation`` that counts the rows and sums a hash of each row; that pair is
the operation's fingerprint, taken in the same pass over the data and
independent of row and partition order.
"""

from __future__ import annotations

import inspect
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, functions as F, types as T

# Sums of per-row hashes reduced mod this prime stay far below 2**63 for any
# row count the fixture can produce, so the sum cannot overflow under ANSI.
_HASH_MOD = 1_000_000_007

# Why each workload exists is in perfbench/README.md. Each list covers the
# layers named beside it; the seed shuffles the order of every pass.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # analyst reads: relational, windows, clickstream, text, vectors, graph
    # and a pandas UDF on the Python workers
    "olap_mix": (
        "q1_pricing_summary",
        "win_topn_per_group",
        "clk_suspicious_keys",
        "dedup_exact_docs",
        "vec_cosine_topk",
        "spam_classify_docs",
        "graph_assortativity",
    ),
    # writes beside reads: commits, change feed, compaction and vacuum on the
    # commit log, a SCD1 merge, and a streaming aggregation on RocksDB state
    "lake_ingest": (
        "merge_upsert_scd1",
        "acid_change_feed",
        "acid_vacuum",
        "stream_rocksdb_state",
    ),
}


@dataclass(frozen=True)
class Result:
    """One timed execution: build (``fn``) and execution seconds, fingerprint."""

    build_s: float
    exec_s: float
    fingerprint: tuple[int, int]

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def query_module(q) -> str:
    """Package module that defines a registry query, e.g. ``plans.relational``."""
    fn = inspect.getclosurevars(q.fn).nonlocals.get("fn", q.fn)
    return fn.__module__.split(".", 1)[1]


def _hash_input(field: T.StructField):
    c = F.col(f"`{field.name.replace('`', '``')}`")
    if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
        # last-bit differences between equal plans are not wrong answers
        return F.round(c.cast("double"), 6)
    if isinstance(field.dataType, T.MapType):
        return F.to_json(c)  # xxhash64 refuses maps
    return c


def fingerprint_exprs(df: DataFrame) -> list:
    """Order-insensitive (row count, hash sum) aggregate over every column."""
    row_hash = F.xxhash64(*[_hash_input(f) for f in df.schema.fields]) if df.columns else F.lit(0)
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(row_hash, F.lit(_HASH_MOD))), F.lit(0)).alias("h"),
    ]


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Fingerprint of ``df`` by a separate aggregate (used by the self-tests)."""
    row = df.agg(*fingerprint_exprs(df)).first()
    return int(row["n"]), int(row["h"])


def observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with its fingerprint attached; the frame ``execute`` times."""
    obs = Observation(f"fp_{name}")
    return df.observe(obs, *fingerprint_exprs(df)), obs


def execute(spark, q, sf_dir: str, tag: str | None = None) -> Result:
    """Build and fully materialise one query; optionally tag its Spark jobs."""
    sc = spark.sparkContext
    if tag:
        sc.setJobGroup(f"{tag}:build", q.name)
    t0 = time.perf_counter()
    df = q.fn(spark, sf_dir)
    t1 = time.perf_counter()
    if tag:
        sc.setJobGroup(f"{tag}:exec", q.name)
    timed, obs = observed(df, q.name)
    timed.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if tag:
        sc.setLocalProperty("spark.jobGroup.id", None)
    m = obs.get
    return Result(t1 - t0, t2 - t1, (int(m["n"]), int(m["h"])))
