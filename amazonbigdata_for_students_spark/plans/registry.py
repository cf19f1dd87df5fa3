"""The query registry — single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. ``__spark_entry__.queries()`` / ``oracle_sql()`` and
``bench.py`` are thin views over this dict.

Cross-engine determinism rules every registered query follows:
  * alias every computed column identically in Spark and oracle SQL
    (the driver sorts columns by name before hashing);
  * no raw double aggregates — sum through decimal(38,6) and cast back to
    double (order-independent, and doubles are never exactly at a decimal
    midpoint, so both engines round identically), or round() coarse
    derived ratios;
  * events.ts is nanosecond-precision in parquet; Spark reads micros, so
    oracle SQL wraps it in date_trunc('microseconds', ts) (see
    sources.readers for the Spark side).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None => rows-only check
    tags: tuple[str, ...] = ()  # SURVEY.md §2 operator ids, e.g. ("A3", "P2")
    bench: bool = False  # include in bench.py headline suite
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Register a query. The decorated function takes (spark, sf_dir)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def dsum(col: Column | str) -> Column:
    """Order-independent double sum: route through decimal(38,6).

    Sum of doubles is order-dependent (parallel aggregation ⇒ nondeterministic
    low bits, and Spark vs DuckDB would disagree). Casting each addend to
    decimal(38,6) makes the sum exact and order-free; doubles are never
    exactly at a 6-decimal midpoint (midpoints need a 5^7 denominator,
    impossible in binary), so Spark and DuckDB round identically.
    Oracle twin: CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(38,6)")).cast("double")


def dsum2(col: Column | str) -> Column:
    """dsum for FACT-WIDE money totals: round the exact decimal sum to 2
    decimals before the double cast. Rationale: once |sum| exceeds
    ~9e9, the 6-decimal scaled integer passes 2^53 and the decimal ->
    double conversion itself rounds — and Spark (Java BigDecimal, one
    correctly-rounded step) and DuckDB (int128 / scale, two steps) can
    land one ulp apart (observed at sf3 on q1/join_large_facts). At 2
    decimals the scaled integer stays exactly representable to ~9e13, so
    both engines cast identically. Oracle twin:
    CAST(round(sum(CAST(x AS DECIMAL(38,6))), 2) AS DOUBLE)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(38,6)")), 2).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent double mean: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def global_prefix(
    df: DataFrame,
    order_cols: list[Column],
    sum_cols: list[tuple[str, Column]] = (),
    buckets: int = 32,
) -> DataFrame:
    """Distributed global rank + inclusive prefix sums WITHOUT a
    single-node sort — the two-pass shape shared by
    shard_by_token_budget / histogram_equidepth / agg_pareto_abc, now
    factored once: repartitionByRange over ``order_cols`` gives
    cross-partition order, each partition ranks/accumulates locally, and
    only the #buckets-row subtotal table passes through one task before
    broadcasting back.

    Adds ``rk`` (1-based global rank, BIGINT) and one ``cum_<name>``
    inclusive prefix sum per (name, col) in ``sum_cols``. The ranged
    table is lazily checkpointed: the subtotal pass and the main pass
    must see ONE range-sampling execution (determinism + no fan-out
    rescan of the upstream plan)."""
    from pyspark.sql import Window as W

    parted = (
        df.repartitionByRange(buckets, *order_cols)
        .withColumn("_gp", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    aggs = [F.count("*").alias("_n")] + [
        F.sum(c).alias(f"_s_{name}") for name, c in sum_cols
    ]
    sizes = parted.groupBy("_gp").agg(*aggs)
    off_w = W.orderBy("_gp").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "_gp",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off_n"),
        *[
            F.coalesce(F.sum(f"_s_{name}").over(off_w), F.lit(0)).alias(
                f"_off_{name}"
            )
            for name, _ in sum_cols
        ],
    )
    local_rk = W.partitionBy("_gp").orderBy(*order_cols)
    local_cum = local_rk.rowsBetween(W.unboundedPreceding, W.currentRow)
    out = (
        parted.join(F.broadcast(offsets), "_gp")
        .withColumn(
            "rk",
            (F.row_number().over(local_rk) + F.col("_off_n")).cast("long"),
        )
    )
    for name, c in sum_cols:
        out = out.withColumn(
            f"cum_{name}", F.sum(c).over(local_cum) + F.col(f"_off_{name}")
        )
    drop = ["_gp", "_off_n"] + [f"_off_{name}" for name, _ in sum_cols]
    return out.drop(*drop)
