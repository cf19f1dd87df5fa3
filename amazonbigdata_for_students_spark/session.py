"""SparkSession factory tuned for this engine.

Scale stance: these configs are the local-mode projection of the settings
we would ship on a 1000-executor cluster — AQE on (runtime coalescing,
skew-join splitting, runtime broadcast conversion), Arrow for every
pandas-UDF exchange, UTC session time, explicit shuffle parallelism.
On a real cluster the only knobs that change are parallelism sizing
(`spark.sql.shuffle.partitions` ~ 2-3x total cores) and memory/locality
settings that local mode ignores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half of physical RAM, at most 48g: in local mode the driver JVM is
    the whole engine, and the other half stays for Python workers, the
    page cache and the OS. SPARK_GRAFT_DRIVER_MEM overrides it."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(48, ram_gb // 2))}g"


def get_spark(
    app_name: str = "amazonbigdata_for_students_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local SparkSession."""
    cpus = cpus or DEFAULT_CPUS
    # Cluster practice is ~2-3x total cores, scaled up with data volume;
    # the env override is how the sf100 spill-regime runs size the shuffle
    # without changing the committed default (= cores, right for the
    # sf0.1 bench where 200-wide shuffles would be all overhead).
    try:
        env_width = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0"))
    except ValueError:
        env_width = 0  # malformed override: fall back, don't crash sessions
    shuffle_partitions = shuffle_partitions or (env_width if env_width > 0 else cpus)
    # Scale-adaptive width (opt guide §2.2/§2.5): AQE plans every shuffle at
    # initialPartitionNum and COALESCES down from observed sizes, so one
    # setting serves both regimes — small stages land near core-count
    # parallelism (parallelismFirst, the default), while the multi-GB
    # aggregates of the sf10/sf100 spines get 8x-cores-wide hash maps
    # instead of 1 GB/task states that spill (measured: the r11 graph spine
    # recorded 19.4 GB disk / 133 GB memory spill on jaccard's wedge
    # aggregate at width 32). On a cluster the same rule holds with cpus =
    # total cores.
    initial_partitions = max(shuffle_partitions, cpus * 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Parallelism: shuffle width ~ cores in local mode (200 default is
        # wrong both ways); AQE coalesces small post-shuffle partitions.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime re-planning — coalesce, skew-join split, SMJ→BHJ.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        # Runtime-size broadcast conversion (opt guide §3.1): AQE sees the
        # REAL post-shuffle size, so a bigger threshold here is safe where
        # the same value statically would gamble on estimates — node-sized
        # sides of the iterative graph/dedup joins (tens of MB at spine
        # scale) convert to broadcast at runtime, and at 100 TB the same
        # sides exceed the cap and the plans degrade to SMJ instead of
        # OOMing. The STATIC threshold stays at the 10 MB default.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Arrow transfer for pandas UDFs / toPandas (vectorized exchange).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic cross-engine comparison (DuckDB oracle is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_runtime(spark)
    return spark


def configure_runtime(spark: SparkSession) -> None:
    """Runtime SQL confs this engine relies on; safe to apply to a session we
    did not create (the driver passes us its own session in ``entry``)."""
    # The driver-generated events.parquet stores INT64 TIMESTAMP(NANOS) which
    # Spark's vectorized parquet reader rejects outright (PARQUET_TYPE_ILLEGAL).
    # Read nanos as long and convert (sources.readers.load_table) instead.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Naive parquet timestamps (isAdjustedToUTC=false) infer as TIMESTAMP_NTZ
    # by default in Spark 4, which TIMESTAMP-only expressions (unix_micros,
    # window(), watermarks) reject. Under a pinned-UTC session the LTZ reading
    # is value-identical, keeps scan-level filter pushdown (a post-read cast
    # would block it), and matches the DuckDB oracle's naive timestamps.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
