"""ACID table-format operations over the commit log (round 5).

The reference's long-term-storage + incremental-ETL components (diagram
comps. 10-11; ``cloudformation/glue_cf_template.json:139``) assume a table
a reader can trust while writers mutate it. ``sources/commitlog.py`` is the
protocol kernel; these queries register the user-facing table-format
operations every lakehouse exposes — time travel, CDC change feed,
OPTIMIZE/compaction, VACUUM, and concurrent MERGE — each as a registered,
DuckDB-oracle-checked query.

Nine of them share one deterministic fixture: a balances table evolving
over three commits (base snapshot, then two update waves keyed on
c_custkey modulo), rebuilt fresh every run so the commit protocol itself
is exercised end-to-end, never a cached artifact. The three deltas do not
depend on each other, so they are staged together and then committed in
order. The evolution rules are
pure functions of the customer table, so every audit number — row counts,
decimal-exact balance checksums per version, live-file counts, commit
versions — is pinned by an exact SQL twin.

Scale notes: the log itself is metadata (one small JSON per commit); all
data movement is parquet write/read of the delta sets, and snapshot
resolution is ONE latest-per-key window over the merge key — the same
shuffle MERGE needs anyway. Nothing here collects data rows to the driver.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.commitlog import CommitLog
from ..sources.readers import load_table
from .registry import query

_ACID_ROOT = "/tmp/abd_acidtables"

# The three-commit evolution, shared by every query and every oracle:
#   v0 base:   every customer, bal = c_acctbal
#   v1 update: c_custkey % 10 = 0  ->  bal = c_acctbal + 100
#   v2 update: c_custkey % 7 = 0   ->  bal = c_acctbal - 50
_BAL_V1 = "CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END"
_BAL_V2 = (
    "CASE WHEN c_custkey % 7 = 0 THEN c_acctbal - 50 "
    "WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END"
)


def _dsum(expr: str) -> str:
    return f"CAST(sum(CAST(round({expr}, 2) AS DECIMAL(38,2))) AS DOUBLE)"


def _bal_sum() -> Column:
    """The Spark twin of ``_dsum("bal")``: a decimal-exact balance sum,
    reported as a double."""
    return F.sum(F.round("bal", 2).cast("decimal(38,2)")).cast("double")


def _fresh_log(sf_dir: str, name: str) -> CommitLog:
    d = os.path.join(
        _ACID_ROOT, os.path.basename(os.path.normpath(sf_dir)), name
    )
    shutil.rmtree(d, ignore_errors=True)
    return CommitLog(d)


def _balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal"), 2).alias("bal")
    )


def _build_three_commits(
    spark: SparkSession, sf_dir: str, name: str, orphan: DataFrame | None = None
) -> CommitLog:
    """The three-commit evolution as versions 0-2 of a fresh log. An
    ``orphan`` frame is staged in the same batch and never committed."""
    log = _fresh_log(sf_dir, name)
    base = _balances(spark, sf_dir)
    deltas = [
        base,
        base.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "bal", F.round(F.col("bal") + 100, 2)
        ),
        base.filter(F.col("c_custkey") % 7 == 0).withColumn(
            "bal", F.round(F.col("bal") - 50, 2)
        ),
    ]
    staged = log.stage_all(deltas + ([orphan] if orphan is not None else []))
    for d in staged[:3]:
        log.commit([d], writer=name)
    return log


def _audit(
    spark: SparkSession, log: CommitLog, probe: str, as_of: int | None = None
) -> DataFrame:
    """One probe row over a balances log: the row count and decimal-exact
    balance checksum of its latest-per-key state at ``as_of``."""
    return log.read_latest_per_key(spark, ["c_custkey"], as_of=as_of).agg(
        F.lit(probe).alias("probe"),
        F.count("*").alias("n_rows"),
        _bal_sum().alias("total_bal"),
    )


@query(
    "acid_time_travel",
    oracle=f"""
    SELECT 0 AS version, count(*) AS n_rows, {_dsum("c_acctbal")} AS total_bal
    FROM customer
    UNION ALL
    SELECT 1, count(*), {_dsum(_BAL_V1)} FROM customer
    UNION ALL
    SELECT 2, count(*), {_dsum(_BAL_V2)} FROM customer
    """,
    tags=("S6", "S9"),
)
def acid_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel — SELECT ... VERSION AS OF v: an old snapshot is just
    the manifest prefix <= v, so reading history costs zero extra storage
    or bookkeeping (the deltas already exist; retention is vacuum's job).
    Three commits mutate customer balances; reading as-of versions 0, 1, 2
    must reproduce each historical state exactly — row counts AND a
    decimal-exact balance checksum per version, both pinned by the SQL
    twin that applies the same update rules directly. A log that leaked a
    younger delta into an older snapshot (or resolved keys in commit order
    instead of version order) hash-mismatches."""
    log = _build_three_commits(spark, sf_dir, "time_travel")
    out = None
    for v in (0, 1, 2):
        snap = (
            log.read_latest_per_key(spark, ["c_custkey"], as_of=v)
            .agg(
                F.count("*").alias("n_rows"),
                _bal_sum().alias("total_bal"),
            )
            .select(F.lit(v).alias("version"), "n_rows", "total_bal")
        )
        out = snap if out is None else out.unionByName(snap)
    return out


@query(
    "acid_change_feed",
    oracle=f"""
    SELECT 1 AS version,
           count(*) AS n_changed,
           {_dsum("c_acctbal + 100")} AS changed_bal
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 2, count(*), {_dsum("c_acctbal - 50")}
    FROM customer WHERE c_custkey % 7 = 0
    """,
    tags=("S9", "S6"),
)
def acid_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed — readChangeFeed(startingVersion=1): incremental
    consumers poll the commits after their bookmark instead of diffing
    full snapshots (the S9 bookmark pattern with the commit version as the
    bookmark, which is exactly how Delta CDF / Iceberg incremental reads
    work for upsert tables: the adds ARE the change stream). The feed for
    versions (0, 2] must contain exactly the two update waves — per-version
    changed-row counts and decimal checksums of the new values, nothing
    from the base snapshot."""
    log = _build_three_commits(spark, sf_dir, "change_feed")
    return (
        log.read_changes(spark, since=0)
        .groupBy(F.col("_commit_version").alias("version"))
        .agg(
            F.count("*").alias("n_changed"),
            _bal_sum().alias("changed_bal"),
        )
    )


@query(
    "acid_compact_snapshot",
    oracle=f"""
    SELECT CAST(3 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after,
           CAST(3 AS BIGINT) AS compaction_version,
           count(*) AS n_rows,
           {_dsum(_BAL_V2)} AS total_bal
    FROM customer
    """,
    tags=("S6", "A7"),
)
def acid_compact_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE — compaction as a first-class committed operation: the
    live delta set (3 files after 3 commits) is resolved latest-per-key
    ONCE and rewritten as a single base, published atomically with
    remove-actions retiring every input delta. Readers before the swap see
    3 deltas, readers after see 1 base, nobody sees both — and the
    resolved answer must be BYTE-identical to the pre-compaction snapshot
    (same row count, same decimal checksum), which is the invariant that
    makes background compaction safe to run at all. At 100 TB this is the
    job that keeps merge-on-read read amplification bounded: O(k) deltas
    fold into 1 whenever k grows past the read-cost budget."""
    log = _build_three_commits(spark, sf_dir, "compact")
    files_before = len(log.live_tokens())
    version = log.compact(spark, ["c_custkey"])
    files_after = len(log.live_tokens())
    return (
        log.read_latest_per_key(spark, ["c_custkey"])
        .agg(
            F.count("*").alias("n_rows"),
            _bal_sum().alias("total_bal"),
        )
        .select(
            F.lit(files_before).cast("long").alias("files_before"),
            F.lit(files_after).cast("long").alias("files_after"),
            F.lit(version).cast("long").alias("compaction_version"),
            "n_rows",
            "total_bal",
        )
    )


@query(
    "acid_vacuum",
    oracle=f"""
    SELECT CAST(4 AS BIGINT) AS swept_dirs,
           CAST(1 AS BIGINT) AS live_files,
           count(*) AS n_rows,
           {_dsum(_BAL_V2)} AS total_bal
    FROM customer
    """,
    tags=("S6",),
)
def acid_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — reclaim the two kinds of dead files a commit-log table
    accretes: deltas retired by compaction's remove-actions (3 here) and
    staged-but-never-committed dirs from crashed writers (1 planted). The
    audit pins the swept count exactly AND proves the live snapshot
    survived untouched (row count + decimal checksum unchanged after the
    sweep). Vacuum is pure local metadata + deletes — it never reads data
    files, so at 100 TB its cost is a directory listing, not a scan. The
    crashed writer is staged beside the three committed deltas, in the
    same batch, and never committed."""
    # a crashed writer: staged data, no commit
    log = _build_three_commits(
        spark, sf_dir, "vacuum", orphan=_balances(spark, sf_dir).limit(10)
    )
    log.compact(spark, ["c_custkey"])  # retires the 3 input deltas
    swept = log.vacuum()
    live_files = len(log.live_tokens())
    return (
        log.read_latest_per_key(spark, ["c_custkey"])
        .agg(
            F.count("*").alias("n_rows"),
            _bal_sum().alias("total_bal"),
        )
        .select(
            F.lit(len(swept)).cast("long").alias("swept_dirs"),
            F.lit(live_files).cast("long").alias("live_files"),
            "n_rows",
            "total_bal",
        )
    )


@query(
    "acid_stats_pruning",
    oracle="""
    SELECT CAST(4 AS BIGINT) AS files_total,
           CAST(3 AS BIGINT) AS files_skipped,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    """,
    tags=("S6", "S11", "P2"),
)
def acid_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping — the read-path half of why table
    formats beat bare parquet at 100 TB: each commit carries per-column
    min/max for the files it adds (one tiny agg at write time), so a
    predicate can prune whole files FROM THE LOG, before any parquet
    footer is opened. Fixture: orders land as four time-ordered commits
    (1995-96 | 1997 | 1998 | 1999+), a natural ingestion layout; the 1998
    filter must then skip exactly 3 of 4 files by stats alone, while the
    exact predicate still runs over the kept file (stats prove
    non-overlap, never membership). Both the pruning count AND the
    filtered aggregate are pinned — a reader whose pruning drops a
    matching row (over-prune) or scans every file (no-prune) mismatches."""
    log = _fresh_log(sf_dir, "stats_pruning")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    slices = [
        ("1995-01-01", "1997-01-01"),
        ("1997-01-01", "1998-01-01"),
        ("1998-01-01", "1999-01-01"),
        ("1999-01-01", "2002-01-01"),
    ]
    for lo, hi in slices:
        staged = log.stage(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
        )
        log.commit(
            [staged],
            writer="ingest",
            stats={staged: log.stats_for(spark, staged, ["o_orderdate"])},
        )
    files_total = len(log.live_tokens())
    df, skipped = log.read_pruned(
        spark, "o_orderdate", "1998-01-01 00:00:00", "1998-12-31 23:59:59"
    )
    return (
        df.filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.lit(files_total).cast("long").alias("files_total"),
            F.lit(skipped).cast("long").alias("files_skipped"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "acid_incremental_view",
    oracle=f"""
    SELECT c_mktsegment,
           {_dsum(_BAL_V2)} AS maintained_bal,
           {_dsum(_BAL_V2)} AS recomputed_bal,
           true AS ivm_consistent
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("S9", "A7", "A3"),
)
def acid_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change feed — the consumer
    side of CDC: a per-segment balance SUM is maintained by applying each
    commit's deltas as (new - old) retractions, never re-scanning the
    table. The pre-image an upsert feed lacks is recovered the standard
    way (Delta CDF's update_preimage): join the changed keys against the
    snapshot AS OF the previous version — a key-bounded join, not a table
    scan. The maintained aggregate must equal the full recompute from the
    final snapshot EXACTLY (decimal math, so the comparison is bit-strict,
    not epsilon) — returned side by side plus the audit boolean. At 100 TB
    the maintained path reads |changed keys| rows per commit; the
    recompute reads the world — that gap is the point of IVM."""
    log = _build_three_commits(spark, sf_dir, "incr_view")
    seg = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def seg_sum(df: DataFrame) -> DataFrame:
        return (
            df.join(seg, "c_custkey")
            .groupBy("c_mktsegment")
            .agg(
                F.sum(F.round("bal", 2).cast("decimal(38,2)")).alias("s")
            )
        )

    # initialize from the base snapshot (version 0)
    view = seg_sum(log.read_latest_per_key(spark, ["c_custkey"], as_of=0))
    for v in (1, 2):
        changes = log.read_changes(spark, since=v - 1, until=v).select(
            "c_custkey", F.col("bal").alias("new_bal")
        )
        pre = (
            log.read_latest_per_key(spark, ["c_custkey"], as_of=v - 1)
            .join(changes.select("c_custkey"), "c_custkey", "left_semi")
            .select("c_custkey", F.col("bal").alias("old_bal"))
        )
        delta = seg_sum(
            changes.join(pre, "c_custkey").select(
                "c_custkey",
                (
                    F.round("new_bal", 2).cast("decimal(38,2)")
                    - F.round("old_bal", 2).cast("decimal(38,2)")
                ).alias("bal"),
            )
        )
        view = (
            view.unionByName(delta)
            .groupBy("c_mktsegment")
            .agg(F.sum("s").alias("s"))
        )

    recomputed = seg_sum(log.read_latest_per_key(spark, ["c_custkey"])).select(
        "c_mktsegment", F.col("s").alias("r")
    )
    return (
        view.join(recomputed, "c_mktsegment")
        .select(
            "c_mktsegment",
            F.col("s").cast("double").alias("maintained_bal"),
            F.col("r").cast("double").alias("recomputed_bal"),
            (F.col("s") == F.col("r")).alias("ivm_consistent"),
        )
    )


@query(
    "src_commitlog_stream",
    oracle=f"""
    SELECT 0 AS version, count(*) AS n_rows, {_dsum("c_acctbal")} AS sum_bal
    FROM customer
    UNION ALL
    SELECT 1, count(*), {_dsum("c_acctbal + 100")}
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 2, count(*), {_dsum("c_acctbal - 50")}
    FROM customer WHERE c_custkey % 7 = 0
    """,
    tags=("S9", "S2", "T8"),
)
def src_commitlog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit-log table as a STREAMING source — a from-scratch Spark 4
    Python DataSource whose offsets ARE commit versions
    (sources/commitlog_source.py): planning lists manifests (driver
    metadata only), each executor task reads one delta dir via pyarrow and
    ships Arrow batches to the JVM. The exactly-once property is driven
    end to end: run 1 (availableNow + checkpoint) consumes versions 0-1;
    version 2 is committed AFTER run 1 finishes; run 2 on the SAME
    checkpoint must resume from the stored offset and process ONLY
    version 2. Per-version row counts and decimal checksums accumulate
    across both runs — a source that re-read v0/v1 after restart
    (double-count) or skipped v2 hash-mismatches the batch oracle."""
    import os

    from ..sources import commitlog_source
    from ..streaming.batch_twins import _run_to_end

    commitlog_source.register(spark)
    log = _fresh_log(sf_dir, "stream_src")
    ckpt = os.path.join(log.path, "_ckpt")
    base = _balances(spark, sf_dir)

    deltas = [
        base,
        base.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "bal", F.round(F.col("bal") + 100, 2)
        ),
        base.filter(F.col("c_custkey") % 7 == 0).withColumn(
            "bal", F.round(F.col("bal") - 50, 2)
        ),
    ]

    def commit(delta: DataFrame) -> None:
        log.commit([log.stage(delta)], writer="stream_src")

    commit(deltas[0])
    commit(deltas[1])

    acc: dict[int, tuple[int, object]] = {}  # version -> (n, decimal sum)

    def drain(batch_df, _batch_id: int) -> None:
        # bounded collect: one row per version in the batch (<= 3)
        for r in (
            batch_df.groupBy("_commit_version")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round("bal", 2).cast("decimal(38,2)")).alias("s"),
            )
            .collect()
        ):
            v = int(r["_commit_version"])
            n0, s0 = acc.get(v, (0, 0))
            acc[v] = (n0 + r["n"], s0 + r["s"])

    def run_once() -> None:
        writer = (
            spark.readStream.format("commitlog")
            .option("path", log.path)
            .load()
            .writeStream.foreachBatch(drain)
            .option("checkpointLocation", ckpt)
        )
        _run_to_end(writer, spark)

    run_once()  # consumes versions 0 and 1
    commit(deltas[2])  # lands AFTER the first run's offsets are checkpointed
    run_once()  # must resume at the stored offset: version 2 only

    return spark.createDataFrame(
        [(v, n, float(s)) for v, (n, s) in sorted(acc.items())],
        "version int, n_rows bigint, sum_bal double",
    )


@query(
    "acid_concurrent_merge",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(5 AS BIGINT) AS n_commits,
           {_dsum("CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000 "
                  "ELSE c_acctbal + 2000 END")} AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("S6", "S7", "J6"),
)
def acid_concurrent_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent MERGE — the scenario the commit protocol exists for: two
    writers race interleaved upserts into one table (writer A: +1000 to
    even keys across 2 commits; writer B: +2000 to odd keys across 2).
    The os.link CAS serializes them into SOME total order (5 contiguous
    commits incl. base — pinned), and because the key sets are disjoint
    the resolved state is identical under every interleaving — which is
    what makes an exact oracle possible for a genuinely racy run. Torn
    reads, lost commits, or double-applies all shift the per-segment
    decimal checksums."""
    log = _fresh_log(sf_dir, "concurrent_merge")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round(F.col("c_acctbal"), 2).alias("bal")
    )
    log.commit([log.stage(cust)], writer="base")

    errors: list[Exception] = []
    barrier = threading.Barrier(2, timeout=120)  # a crashed sibling must FAIL the query, not hang it

    def writer(parity: int, bump: int, name: str) -> None:
        try:
            mine = cust.filter(F.col("c_custkey") % 2 == parity).withColumn(
                "bal", F.round(F.col("bal") + bump, 2)
            )
            # split into two commits on a second modulus so the two
            # writers' commits genuinely interleave in the log
            halves = [
                mine.filter((F.col("c_custkey") % 4) < 2),
                mine.filter((F.col("c_custkey") % 4) >= 2),
            ]
            barrier.wait()
            for half in halves:
                log.commit([log.stage(half)], writer=name)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(0, 1000, "writer_even")),
        threading.Thread(target=writer, args=(1, 2000, "writer_odd")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]

    n_commits = len(log.snapshot())
    return (
        log.read_latest_per_key(spark, ["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.lit(n_commits).cast("long").alias("n_commits"),
            _bal_sum().alias("total_bal"),
        )
    )


@query(
    "acid_describe_history",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS version, 'describe_history' AS writer,
           CAST(1 AS BIGINT) AS n_adds, CAST(0 AS BIGINT) AS n_removes,
           (SELECT count(*) FROM customer) AS rows_added
    UNION ALL
    SELECT 1, 'describe_history', 1, 0,
           (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
    UNION ALL
    SELECT 2, 'describe_history', 1, 0,
           (SELECT count(*) FROM customer WHERE c_custkey % 7 = 0)
    """,
    tags=("S6", "S9"),
)
def acid_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY — the table-format audit log as a query result:
    one row per commit with its writer identity, file-action counts, and
    the rows each commit added. The manifest walk is driver-side but
    bounded by the COMMIT count (a manifest is a few hundred bytes —
    never data-sized); the per-commit row counts come from the
    distributed snapshot read, which already tags every row with its
    `_commit_version`, so provenance costs one aggregate over data the
    table read produces anyway. This is the operational answer to "who
    wrote what, when, and how much" that every governed 100 TB table
    needs — same surface as Delta's DESCRIBE HISTORY, built on the same
    log this repo's commit protocol maintains."""
    log = _build_three_commits(spark, sf_dir, "describe_history")
    hist = [
        (int(v), m.get("writer", ""), len(m["adds"]), len(m["removes"]))
        for v, m in log.snapshot()
    ]
    hdf = spark.createDataFrame(
        hist, "version long, writer string, n_adds long, n_removes long"
    )
    counts = (
        log.read(spark)
        .groupBy(F.col("_commit_version").cast("long").alias("version"))
        .agg(F.count("*").alias("rows_added"))
    )
    # LEFT join: a metadata-only commit (removes-only RESTORE, an empty
    # delta) has no tagged rows, but an audit log that silently omits
    # rollback commits is worse than useless — report rows_added=0
    return hdf.join(counts, "version", "left").select(
        "version",
        "writer",
        "n_adds",
        "n_removes",
        F.coalesce("rows_added", F.lit(0)).cast("long").alias("rows_added"),
    )


@query(
    "acid_schema_evolution",
    oracle="""
    WITH ev AS (
      SELECT c_custkey, round(c_acctbal, 2) AS bal,
             CASE WHEN c_custkey % 2 = 0 THEN
               CASE WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END
             END AS tier
      FROM customer
    )
    SELECT coalesce(tier, 'legacy') AS tier,
           count(*) AS n,
           CAST(sum(CAST(bal AS DECIMAL(38,2))) AS DOUBLE) AS total_bal
    FROM ev
    GROUP BY 1
    """,
    tags=("S10", "S6"),
)
def acid_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the commit log — the producer-upgrade story
    for the table format: commit v0 writes (c_custkey, bal); commit v1's
    producer has shipped a new `tier` column. The snapshot read merges
    the generations (unionByName with null-fill — the mergeSchema
    semantic applied at the LOG layer, so readers never break and no
    rewrite of v0's files happens). Old rows surface as tier=NULL and
    report as 'legacy' — exactly how a backfill-less column landing
    behaves in Delta/Iceberg. The oracle recomputes both generations'
    rows from the customer table, so the null-fill, the column
    alignment, and the decimal totals are all hash-gated."""
    log = _fresh_log(sf_dir, "schema_evolution")
    base = _balances(spark, sf_dir)
    v0 = base.filter(F.col("c_custkey") % 2 == 1)
    v1 = base.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "tier", F.when(F.col("bal") >= 5000, "gold").otherwise("std")
    )
    for delta in (v0, v1):
        log.commit([log.stage(delta)], writer="schema_evolution")
    snap = log.read(spark)
    return (
        snap.select(F.coalesce("tier", F.lit("legacy")).alias("tier"), "bal")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("bal").cast("decimal(38,2)")).cast("double").alias("total_bal"),
        )
    )


def merge_with_conflict_retry(
    spark: SparkSession,
    log: CommitLog,
    key_cols: list[str],
    derive,
    writer: str,
    post_read_hook=None,
) -> tuple[int, int]:
    """One MERGE transaction as a ``CommitLog.transact`` attempt: read the
    snapshot at the head, ``derive(snapshot_df) -> delta`` against it, and
    commit the delta with its key footprint against that version; a
    same-key conflict re-reads and re-derives (``transact``).
    Returns (version won, n_conflicts suffered). Disjoint-key writers never
    conflict (footprint boxes disjoint) and keep interleaving freely, so
    this adds zero serialization to the acid_concurrent_merge scenario.

    ``post_read_hook`` (first attempt only) runs after the snapshot version
    is captured and before the commit — a test seam that lets two racing
    transactions barrier on "both have read" so the conflict is
    deterministic rather than timing-dependent."""

    def attempt(read_version: int) -> dict:
        nonlocal post_read_hook
        current = log.read_latest_per_key(spark, key_cols, as_of=read_version)
        if post_read_hook is not None:
            post_read_hook()
            post_read_hook = None
        staged = log.stage(derive(current))
        return {"adds": [staged], "key_ranges": log.stats_for(spark, staged, key_cols)}

    return log.transact(attempt, writer=writer)


@query(
    "acid_conflict_retry",
    oracle=f"""
    SELECT count(*) AS n_customers,
           CAST(3 AS BIGINT) AS n_commits,
           CAST(1 AS BIGINT) AS n_conflicts,
           {_dsum("c_acctbal"
                  " + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END"
                  " + CASE WHEN c_custkey % 2 = 0 THEN 200 ELSE 0 END")} AS total_bal,
           {_dsum("CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 300 END")} AS overlap_bal
    FROM customer
    """,
    tags=("S6", "S7", "J6"),
)
def acid_conflict_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-key concurrent MERGE — the write-skew case blind re-commit
    gets WRONG (VERDICT r5 item 6): two writers race read-modify-write
    increments over OVERLAPPING key sets (A: +100 where key%3=0; B: +200
    where key%2=0 — keys %6=0 are touched by both). Both transactions
    derive from the base snapshot, race the commit CAS, and the loser's
    declared key footprint overlaps the winner's manifest, so it gets
    ConcurrentKeyConflict and re-derives against the winner's snapshot
    (merge_with_conflict_retry) instead of re-committing its stale delta.
    Increments commute, so the converged state is interleaving-independent
    and an exact oracle pins it: every %6=0 key must carry BOTH bumps
    (+300) — a lost update would shift overlap_bal — and exactly one
    conflict retry must have happened (n_conflicts), with the log at
    exactly 3 contiguous commits (base + two txns). Without the footprint
    check this query's loser would silently overwrite the winner's bump
    on the shared keys; the oracle would catch it every run."""
    log = _fresh_log(sf_dir, "conflict_retry")
    base = _balances(spark, sf_dir)
    log.commit([log.stage(base)], writer="base")

    errors: list[Exception] = []
    conflicts: list[int] = []
    barrier = threading.Barrier(2, timeout=120)  # a crashed sibling must FAIL the query, not hang it

    def txn(modulus: int, bump: int, name: str) -> None:
        try:
            def derive(current: DataFrame) -> DataFrame:
                return current.filter(F.col("c_custkey") % modulus == 0).withColumn(
                    "bal", F.round(F.col("bal") + bump, 2)
                )

            # both transactions capture the base snapshot before either
            # commits — the conflict happens every run, not just when the
            # thread scheduler cooperates
            _, n_conf = merge_with_conflict_retry(
                spark,
                log,
                ["c_custkey"],
                derive,
                writer=name,
                post_read_hook=barrier.wait,
            )
            conflicts.append(n_conf)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=txn, args=(3, 100, "txn_mod3")),
        threading.Thread(target=txn, args=(2, 200, "txn_mod2")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]

    n_commits = len(log.snapshot())
    n_conflicts = sum(conflicts)
    return (
        log.read_latest_per_key(spark, ["c_custkey"])
        .agg(
            F.count("*").alias("n_customers"),
            F.lit(n_commits).cast("long").alias("n_commits"),
            F.lit(n_conflicts).cast("long").alias("n_conflicts"),
            _bal_sum().alias("total_bal"),
            F.sum(
                F.when(
                    F.col("c_custkey") % 6 == 0,
                    F.round("bal", 2).cast("decimal(38,2)"),
                )
            )
            .cast("double")
            .alias("overlap_bal"),
        )
    )


@query(
    "acid_row_delete",
    oracle=f"""
    WITH v1 AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 9 <> 0
    ),
    v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 18 = 0 THEN c_acctbal + 500 ELSE c_acctbal END
               AS c_acctbal
      FROM customer
      WHERE c_custkey % 9 <> 0 OR c_custkey % 18 = 0
    )
    SELECT 0 AS version, count(*) AS n_rows, {_dsum("c_acctbal")} AS total_bal
    FROM customer
    UNION ALL
    SELECT 1, count(*), {_dsum("c_acctbal")} FROM v1
    UNION ALL
    SELECT 2, count(*), {_dsum("c_acctbal")} FROM v2
    """,
    tags=("S6", "S9", "E3"),
)
def acid_row_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on the commit log — the GDPR/right-to-be-forgotten
    primitive every lakehouse table needs: a delete is a TOMBSTONE delta
    (key + _deleted=true), committed like any other version, never a
    rewrite of base files. Resolution stays the one latest-per-key window
    (the tombstone is just the newest row for its key), with a final
    filter dropping tombstoned keys; schema evolution on read null-fills
    _deleted for pre-delete commits, so old snapshots need no rewrite.
    Three audited states: v0 base, v1 after DELETE (keys %9=0 gone), v2
    after re-insert (keys %18=0 return with bal+500 — proving a tombstone
    is not a permanent ban, just another version to out-rank). Time
    travel keeps working across the delete: the v0 read still shows every
    row from the SAME files the delete never touched. At 100 TB a delete
    commit is key-sized (tombstones only); the physical purge is
    compact()+vacuum(), exactly Delta's delete-then-OPTIMIZE story."""
    log = _fresh_log(sf_dir, "row_delete")
    base = _balances(spark, sf_dir)

    def put(df: DataFrame, writer: str) -> None:
        log.commit([log.stage(df)], writer=writer)

    put(base.withColumn("_deleted", F.lit(False)), "base")
    # v1: tombstones only — key-sized, no data rewrite
    put(
        base.filter(F.col("c_custkey") % 9 == 0).select(
            "c_custkey", F.lit(None).cast("double").alias("bal"),
            F.lit(True).alias("_deleted"),
        ),
        "delete",
    )
    # v2: re-insert half the deleted keys at bal+500
    put(
        base.filter(F.col("c_custkey") % 18 == 0).select(
            "c_custkey", F.round(F.col("bal") + 500, 2).alias("bal"),
            F.lit(False).alias("_deleted"),
        ),
        "reinsert",
    )

    def state(v: int) -> DataFrame:
        resolved = log.read_latest_per_key(spark, ["c_custkey"], as_of=v)
        alive = resolved.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return alive.agg(
            F.lit(v).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            _bal_sum().alias("total_bal"),
        ).select("version", "n_rows", "total_bal")

    return state(0).unionByName(state(1)).unionByName(state(2))


@query(
    "acid_restore_version",
    oracle=f"""
    SELECT 'post_restore' AS probe, count(*) AS n_rows,
           {_dsum(_BAL_V1)} AS total_bal, CAST(4 AS BIGINT) AS n_commits
    FROM customer
    UNION ALL
    SELECT 'history_intact', count(*), {_dsum(_BAL_V2)}, CAST(4 AS BIGINT)
    FROM customer
    """,
    tags=("S6", "S9"),
)
def acid_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... VERSION AS OF — the rollback primitive (Delta
    RESTORE): undoing a bad commit is a NEW commit whose adds are the
    target version's live token set and whose removes retire everything
    newer — pure metadata (zero data copied; the old files were never
    deleted), append-only history (the bad version stays time-travelable
    for audit — 'history_intact' reads v2 AFTER the restore and still
    sees the undone state), and instantly atomic like any other manifest
    CAS. On the three-commit balances fixture: restore to v1 makes the
    head state exactly v1's resolved balances (the v2 wave undone) while
    the log grows to 4 commits. The restore commit is conflict-checked
    like any writer (read_version + no footprint: restoring conflicts
    with ANY interleaved commit, which must not be silently undone)."""
    log = _build_three_commits(spark, sf_dir, "restore_version")
    target_v = 1
    # metadata-only set difference: retire tokens newer than the target,
    # re-add tokens the interim retired (none here — that case needs the
    # manifest to re-record original add-versions so per-key resolution
    # ordering among re-added files survives, the Delta RESTORE+OPTIMIZE
    # interaction; out of scope for this fixture and asserted absent)
    target_live = {t for _, t in log.live_tokens(as_of=target_v)}
    head_live = {t for _, t in log.live_tokens()}
    if not target_live <= head_live:
        # a bare assert is stripped under python -O, letting an
        # unsupported restore commit silently with wrong per-key
        # resolution — must stay a hard raise
        raise RuntimeError(
            "restore past a compaction needs re-adds pinning original "
            "add_versions; unsupported by this fixture"
        )
    read_version = log.head()
    data_dir = log.data_dir
    log.commit(
        [],
        removes=[f"{data_dir}/{t}" for t in sorted(head_live - target_live)],
        writer="restore",
        read_version=read_version,
        key_ranges=None,
    )

    n_commits = F.lit(len(log.snapshot())).cast("long")
    return (
        _audit(spark, log, "post_restore")
        .unionByName(_audit(spark, log, "history_intact", as_of=2))
        .withColumn("n_commits", n_commits)
    )


@query(
    "acid_shallow_clone",
    oracle=f"""
    SELECT 'clone_at_fork' AS probe, count(*) AS n_rows,
           {_dsum(_BAL_V2)} AS total_bal
    FROM customer
    UNION ALL
    SELECT 'clone_mutated', count(*),
           {_dsum("CASE WHEN c_custkey % 3 = 0 THEN " + _BAL_V2.replace("CASE", "(CASE") + ") + 777 ELSE " + _BAL_V2 + " END")}
    FROM customer
    UNION ALL
    SELECT 'source_untouched', count(*), {_dsum(_BAL_V2)}
    FROM customer
    """,
    tags=("S6", "S11"),
)
def acid_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE — fork a table for experimentation without copying a
    byte (Delta CLONE): the clone's one commit hard-links the source's
    live files, so a 100 TB table clones in O(live files) metadata ops.
    Three audited states prove the contract end-to-end: the clone equals
    the source at the fork (including per-key upsert resolution — the
    clone pins per-token resolution ranks, so v2's -50 wave still beats
    v1's +100 wave on keys divisible by 70); a write to the clone (+777
    on keys %3=0) shows up in the clone; and the SOURCE still resolves
    to its pre-fork state — fork isolation, checked by decimal checksum.
    sources/commitlog.py:clone_into documents the negative-rank
    resolution trick that keeps cloned history below future clone-side
    commits."""
    src = _build_three_commits(spark, sf_dir, "clone_src")
    # _build_three_commits freshens the source; the clone dir must be
    # fresh too (a stale destination from a prior run would absorb the
    # clone as just another commit)
    dst_path = os.path.join(os.path.dirname(src.path), "clone_dst")
    shutil.rmtree(dst_path, ignore_errors=True)
    clone = src.clone_into(dst_path)

    at_fork = _audit(spark, clone, "clone_at_fork")
    # mutate the CLONE only: +777 on keys %3=0
    delta = (
        clone.read_latest_per_key(spark, ["c_custkey"])
        .filter(F.col("c_custkey") % 3 == 0)
        .withColumn("bal", F.round(F.col("bal") + 777, 2))
    )
    clone.commit([clone.stage(delta)], writer="clone_mutator")
    return (
        at_fork.unionByName(_audit(spark, clone, "clone_mutated"))
        .unionByName(_audit(spark, src, "source_untouched"))
    )


@query(
    "acid_log_checkpoint",
    oracle=f"""
    SELECT 'as_of_5' AS probe, count(*) AS n_rows,
           {_dsum("CASE WHEN c_custkey % 10 <= 4 THEN c_acctbal + 1000*((c_custkey % 10)+1) ELSE c_acctbal END")} AS total_bal
    FROM customer
    UNION ALL
    SELECT 'as_of_10_ck', count(*),
           {_dsum("c_acctbal + 1000*((c_custkey % 10)+1)")}
    FROM customer
    UNION ALL
    SELECT 'latest', count(*),
           {_dsum("c_acctbal - 7*(11 + (c_custkey % 5))")}
    FROM customer
    UNION ALL
    SELECT 'replay_cost', CAST(5 AS BIGINT), 10.0
    """,
    tags=("S6", "S9", "S11"),
)
def acid_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest CHECKPOINT — O(#commits since checkpoint) snapshot loads
    instead of O(#commits ever) (Delta's ``_last_checkpoint`` /
    Iceberg metadata-snapshot pattern; sources/commitlog.py:write_checkpoint).
    Fixture: 16 commits (base + 10 disjoint '+1000*i' waves keyed on
    c_custkey%10, checkpoint at head=10, then 5 overwrite waves '-7*j'
    keyed on c_custkey%5). Four audited probes prove the checkpoint is a
    pure accelerator, never a semantic fork:

    * ``as_of_5`` — time travel BELOW the checkpoint must ignore it (a
      newer checkpoint has folded in commits this reader must not see);
    * ``as_of_10_ck`` — a read AT the checkpoint replays zero manifests
      yet reproduces the exact rolled-up state, per-key resolution intact;
    * ``latest`` — checkpoint + 5-manifest suffix replay; the second-pass
      waves must still out-rank checkpoint-carried versions per key;
    * ``replay_cost`` — the metadata probe itself: latest reads start at
      checkpoint_version=10 and replay exactly 5 manifests. A reader that
      silently fell back to full replay (or found no checkpoint) fails
      this row, so the fast path is asserted, not assumed.

    At 100 TB this is the difference between a bounded metadata read per
    query and a log replay that grows with table age; the checkpoint file
    is derived state, so losing a write race or deleting it costs speed,
    never correctness (torn-pair reasoning in the unit tests)."""
    log = _fresh_log(sf_dir, "log_checkpoint")
    base = _balances(spark, sf_dir)

    def put(df: DataFrame) -> None:
        log.commit([log.stage(df.coalesce(1))], writer="ckpt_fixture")

    put(base)
    for i in range(1, 11):
        put(
            base.filter(F.col("c_custkey") % 10 == i - 1).withColumn(
                "bal", F.round(F.col("bal") + 1000 * i, 2)
            )
        )
    ck = log.write_checkpoint()
    if ck != 10:  # fixture invariant, loud if the protocol drifts
        raise RuntimeError(f"expected checkpoint at 10, got {ck}")
    for j in range(11, 16):
        put(
            base.filter(F.col("c_custkey") % 5 == j - 11).withColumn(
                "bal", F.round(F.col("bal") - 7 * j, 2)
            )
        )

    cost = log.snapshot_load_cost()
    cost_row = spark.range(1).select(
        F.lit("replay_cost").alias("probe"),
        F.lit(cost["manifests_replayed"]).cast("long").alias("n_rows"),
        F.lit(float(cost["checkpoint_version"])).alias("total_bal"),
    )
    return (
        _audit(spark, log, "as_of_5", as_of=5)
        .unionByName(_audit(spark, log, "as_of_10_ck", as_of=10))
        .unionByName(_audit(spark, log, "latest"))
        .unionByName(cost_row)
    )


@query(
    "acid_replace_where",
    oracle=f"""
    WITH b AS (SELECT (count(*) // 4) AS q FROM customer),
    r AS (
        SELECT q + q // 4 AS lo, q + q // 2 AS ins_hi,
               q + 3 * (q // 4) - 1 AS hi
        FROM b
    )
    SELECT 'final' AS probe, count(*) AS n_rows,
           {_dsum("CASE WHEN c_custkey BETWEEN r.lo AND r.ins_hi THEN 1234.56 WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END")} AS total_bal
    FROM customer, r
    WHERE NOT (c_custkey > r.ins_hi AND c_custkey <= r.hi)
    UNION ALL
    SELECT 'files', CAST(3 AS BIGINT), 2.0
    """,
    tags=("S6", "S9", "S11"),
)
def acid_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replaceWhere — predicate-scoped atomic overwrite with file-level
    pruning (sources/commitlog.py:replace_where). Fixture: four
    key-clustered quartile files (committed WITH c_custkey stats) plus one
    full-span '%10 -> +100' update wave; then ONE transaction deletes
    c_custkey in [lo, hi] (a sub-range of quartile 2) and inserts
    replacement rows (bal=1234.56) covering only [lo, ins_hi].

    The audit pins all four contracts at once: (a) 'files' proves the
    stats plan — exactly 3 quartile files carried forward UNREAD, exactly
    2 files rewritten (quartile 2 + the full-span wave); (b) replaced keys
    resolve to 1234.56 even where the wave had touched them (the
    replacement commits at head version, out-ranking the wave's pinned
    rank); (c) keys in (ins_hi, hi] are GONE (delete leg); (d) out-of-
    range keys are bit-identical — survivors of the two rewritten files
    keep their ORIGINAL resolution versions via add_versions, so the wave
    still beats quartile bases per key. A rewrite that re-ranked
    survivors at commit version would flip (d); one that skipped the
    observe guard would let a stray replacement row corrupt (c)."""
    n = load_table(spark, sf_dir, "customer").count()  # bounded: one scalar
    q = n // 4
    lo, ins_hi, hi = q + q // 4, q + q // 2, q + 3 * (q // 4) - 1
    log = _fresh_log(sf_dir, "replace_where")
    base = _balances(spark, sf_dir)
    for qi in range(4):
        k_lo = qi * q
        k_hi = (qi + 1) * q - 1 if qi < 3 else n - 1
        staged = log.stage(
            base.filter(F.col("c_custkey").between(k_lo, k_hi)).coalesce(1)
        )
        log.commit(
            [staged],
            writer="quartile",
            stats={staged: log.stats_for(spark, staged, ["c_custkey"])},
        )
    staged = log.stage(
        base.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("bal", F.round(F.col("bal") + 100, 2))
        .coalesce(1)
    )
    log.commit(
        [staged],
        writer="wave",
        stats={staged: log.stats_for(spark, staged, ["c_custkey"])},
    )

    replacement = (
        base.filter(F.col("c_custkey").between(lo, ins_hi))
        .withColumn("bal", F.lit(1234.56))
        .coalesce(1)
    )
    res = log.replace_where(spark, "c_custkey", lo, hi, replacement)

    final = _audit(spark, log, "final")
    files_row = spark.range(1).select(
        F.lit("files").alias("probe"),
        F.lit(res["carried"]).cast("long").alias("n_rows"),
        F.lit(float(res["rewritten"])).alias("total_bal"),
    )
    return final.unionByName(files_row)


_BAL_V2_PLUS9 = (
    "CASE WHEN c_custkey % 3 = 0 THEN (" + _BAL_V2 + ") + 9 ELSE " + _BAL_V2 + " END"
)


@query(
    "acid_log_retention",
    oracle=f"""
    SELECT 'latest' AS probe, count(*) AS n_rows,
           {_dsum(_BAL_V2_PLUS9)} AS total_bal
    FROM customer
    UNION ALL
    SELECT 'as_of_checkpoint', count(*), {_dsum(_BAL_V2)}
    FROM customer
    UNION ALL
    SELECT 'below_horizon_refused', CAST(1 AS BIGINT), 0.0
    UNION ALL
    SELECT 'metadata', CAST(3 AS BIGINT), 4.0
    """,
    tags=("S6", "S9"),
)
def acid_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log + data retention — what keeps a long-lived table O(retention
    window) instead of O(table age) (sources/commitlog.py:vacuum,
    prune_manifests). Fixture: the three-commit balance evolution, then
    OPTIMIZE (v3 rewrites the live set, retiring the three deltas),
    checkpoint at 3, a '+9 on %3 keys' wave at v4 — then retention:
    ``vacuum(retention_as_of=3)`` sweeps exactly the 3 tokens whose
    remove-action is at/below the horizon, and ``prune_manifests(4)``
    deletes manifests 0-3 (legal only because the checkpoint folded
    them). The probes pin all four contracts: 'latest' (full current
    state, exact decimal checksum), 'as_of_checkpoint' (time travel TO
    the horizon still exact, served from the checkpoint + zero pruned
    manifests), 'below_horizon_refused' (time travel BELOW the horizon
    raises ManifestsPruned — loud refusal, never a silent partial
    replay), and 'metadata' (swept=3 / pruned=4 — the retention actually
    happened; a vacuum that over- or under-sweeps flips this row)."""
    log = _build_three_commits(spark, sf_dir, "log_retention")
    log.compact(spark, ["c_custkey"])  # v3: rearrange, removes the 3 deltas
    if log.write_checkpoint() != 3:
        raise RuntimeError("fixture drift: expected checkpoint at 3")
    delta = (
        log.read_latest_per_key(spark, ["c_custkey"])
        .filter(F.col("c_custkey") % 3 == 0)
        .withColumn("bal", F.round(F.col("bal") + 9, 2))
    )
    log.commit([log.stage(delta)], writer="wave9")  # v4

    swept = len(log.vacuum(retention_as_of=3))
    pruned = len(log.prune_manifests(keep_from=4))

    from ..sources.commitlog import ManifestsPruned

    try:
        log.read_latest_per_key(spark, ["c_custkey"], as_of=2)
        refused = 0
    except ManifestsPruned:
        refused = 1
    meta = spark.range(1).select(
        F.lit("below_horizon_refused").alias("probe"),
        F.lit(refused).cast("long").alias("n_rows"),
        F.lit(0.0).alias("total_bal"),
    ).unionByName(
        spark.range(1).select(
            F.lit("metadata").alias("probe"),
            F.lit(swept).cast("long").alias("n_rows"),
            F.lit(float(pruned)).alias("total_bal"),
        )
    )
    return (
        _audit(spark, log, "latest")
        .unionByName(_audit(spark, log, "as_of_checkpoint", as_of=3))
        .unionByName(meta)
    )


@query(
    "acid_bloom_pruning",
    oracle="""
    WITH n AS (SELECT count(*) AS cnt FROM customer),
    probe AS (SELECT cnt // 2 + 3 AS k FROM n)
    SELECT 'point_present' AS probe, CAST(1 AS BIGINT) AS n_rows,
           CAST(CAST(round(c.c_acctbal, 2) AS DECIMAL(38,2)) AS DOUBLE) AS val
    FROM customer c, probe p
    WHERE c.c_custkey = p.k
    UNION ALL
    SELECT 'point_absent', CAST(0 AS BIGINT), 4.0
    """,
    tags=("S6", "S9", "S11"),
)
def acid_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level BLOOM file skipping for point lookups
    (sources/commitlog.py:bloom_for/read_point — Delta's bloom index
    lifted to the commit log, so the skip decision reads ZERO parquet
    footers). Fixture: four key-clustered quartile files, each committed
    with a bloom over c_custkey sized ~24 bits/key (<1% FP). Probes:

    * 'point_present' — a key in quartile 3: found with the exact
      balance (no false negatives, ever — the bloom contract), value
      pinned by the SQL twin;
    * 'point_absent' — a key beyond the domain: zero rows AND all four
      files bloom-skipped. A false positive would read (not corrupt) a
      file; at the fixture's fill ratio the all-skip outcome is stable
      at every tested SF, and a hash flip here means the bloom math
      drifted, which is exactly what the probe is for.

    Blooms ride the manifest 'stats' channel, so checkpoints fold them
    automatically and read_point's probe hashes via a 1-row JVM job —
    the build and probe can never disagree on xxhash64."""
    n = load_table(spark, sf_dir, "customer").count()  # bounded scalar
    q = n // 4
    per_file = n - 3 * q  # largest quartile (the last one takes the remainder)
    bits = ((per_file * 24 + 63) // 64) * 64
    log = _fresh_log(sf_dir, "bloom_pruning")
    base = _balances(spark, sf_dir)
    for qi in range(4):
        k_lo = qi * q
        k_hi = (qi + 1) * q - 1 if qi < 3 else n - 1
        staged = log.stage(
            base.filter(F.col("c_custkey").between(k_lo, k_hi)).coalesce(1)
        )
        log.commit(
            [staged],
            writer="quartile",
            stats={
                staged: {
                    **log.stats_for(spark, staged, ["c_custkey"]),
                    **log.bloom_for(spark, staged, "c_custkey", bits=bits),
                }
            },
        )

    present_key = n // 2 + 3
    df_p, _ = log.read_point(spark, "c_custkey", present_key)
    present = df_p.agg(
        F.lit("point_present").alias("probe"),
        F.count("*").alias("n_rows"),
        _bal_sum().alias("val"),
    ).select("probe", "n_rows", "val")

    df_a, skipped_a = log.read_point(spark, "c_custkey", n + 17)
    n_found = 0 if df_a is None else df_a.count()
    absent = spark.range(1).select(
        F.lit("point_absent").alias("probe"),
        F.lit(n_found).cast("long").alias("n_rows"),
        F.lit(float(skipped_a)).alias("val"),
    )
    return present.unionByName(absent)


@query(
    "acid_write_audit_publish",
    oracle=f"""
    SELECT 'bad' AS candidate,
           (SELECT count(*) FROM customer WHERE c_custkey % 5 = 0)
             AS n_violations,
           false AS published,
           (SELECT count(*) FROM customer) AS n_rows,
           (SELECT {_dsum("c_acctbal")} FROM customer) AS total_bal
    UNION ALL
    SELECT 'good', 0, true,
           (SELECT count(*) FROM customer),
           (SELECT {_dsum(_BAL_V1)} FROM customer)
    """,
    tags=("S6", "S9", "P2"),
)
def acid_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish — the lakehouse release gate (Iceberg's WAP /
    Delta's staging-branch pattern): a writer STAGES its delta in the
    log's data dir without committing, audits the INCOMING rows (the
    expectations-on-new-data contract: pre-existing state is already
    published and is not re-litigated), and only a clean audit reaches
    ``commit`` — a dirty candidate is unstaged and the log is untouched,
    so readers can never observe un-audited data even transiently.

    Two candidates run in order against a base snapshot: a BAD delta
    (forces bal = -100000 on every c_custkey % 5 = 0 — trips the
    domain-floor expectation once per such key) and a GOOD delta
    (the canonical v1 wave, +100 on % 10 = 0). Output: per candidate,
    its violation count, whether it published, and the table state its
    attempt left behind — the bad row must show the PRISTINE base totals
    (rejection leaked nothing) and the good row the v1 totals. Audit
    verdicts are bounded scalar aggregates (one count per expectation);
    everything else is the usual keyed snapshot read."""
    log = _fresh_log(sf_dir, "wap")
    base = _balances(spark, sf_dir)
    log.commit([log.stage(base)], writer="base")

    def wap_attempt(delta: DataFrame, name: str) -> tuple[bool, int]:
        stage = log.stage(delta)
        # expectations: balances above the domain floor (TPC-H acctbal
        # >= -999.99, so < -1000 is corrupt), unique merge key — scored on
        # the staged rows only; published history is not re-audited.
        # Scalar audit verdicts only — no data rows reach the driver.
        viol = delta.agg(
            F.sum((F.col("bal") < -1000).cast("long")).alias("neg"),
            (F.count("*") - F.countDistinct("c_custkey")).alias("dups"),
        ).collect()[0]
        n_viol = int(viol["neg"] or 0) + int(viol["dups"] or 0)
        if n_viol == 0:
            log.commit([stage], writer=name)
            return True, n_viol
        shutil.rmtree(stage, ignore_errors=True)  # unstage: log untouched
        return False, n_viol

    bad = base.filter(F.col("c_custkey") % 5 == 0).withColumn(
        "bal", F.lit(-100000.0)  # corrupt: far below the domain floor
    )
    good = base.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "bal", F.round(F.col("bal") + 100, 2)
    )
    out = None
    for name, delta in (("bad", bad), ("good", good)):
        ok, n_viol = wap_attempt(delta, name)
        state = log.read_latest_per_key(spark, ["c_custkey"]).agg(
            F.count("*").alias("n_rows"),
            _bal_sum().alias("total_bal"),
        )
        row = state.select(
            F.lit(name).alias("candidate"),
            F.lit(n_viol).cast("long").alias("n_violations"),
            F.lit(ok).alias("published"),
            "n_rows",
            "total_bal",
        )
        out = row if out is None else out.unionByName(row)
    return out
