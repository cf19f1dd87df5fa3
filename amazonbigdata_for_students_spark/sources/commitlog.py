"""Minimal ACID commit log for keyed parquet tables.

The MERGE/upsert family (``merge_upsert_scd1``, ``stream_upsert_sink``,
the S6/S7 sinks; reference diagram comps. 10-11, the long-term-storage +
incremental-ETL components of ``cloudformation/glue_cf_template.json:139``)
needs a commit protocol the moment two writers race: dynamic partition
overwrite alone is atomic per-file but not per-commit, so a reader can see
writer A's files and writer B's files interleaved (a torn read), and a
retried micro-batch can double-apply.

This is the public-knowledge core of every table format (Delta's
``_delta_log``, Iceberg's snapshot metadata), reduced to the smallest
correct kernel:

* **Write-temp**: data files land under ``data/<token>/`` while INVISIBLE —
  readers only ever look at directories referenced by a committed manifest.
  ``stage`` also records the delta's Spark schema as
  ``data/<token>/_schema.json`` (Spark's file lister skips ``_`` files), so
  every later read of the delta passes that schema instead of inferring it
  from a parquet footer — the table-metadata schema Delta and Iceberg keep.
* **Atomic manifest swap**: a commit is one JSON file ``_commits/<version>``
  published via ``os.link`` (put-if-absent). POSIX link(2) fails with
  ``EEXIST`` if the version is taken, which gives compare-and-swap on the
  version counter: exactly one writer wins each version; losers re-read the
  log and retry at the next version (optimistic concurrency, same loop as
  Delta's commitLarge). ``fsync`` before link makes the manifest durable
  before it becomes visible.
* **Snapshot read**: a reader lists ``_commits/``, takes the contiguous
  version prefix, and unions exactly the data directories those manifests
  name — it can never observe half a commit, because visibility IS the
  manifest file.
* **One replay**: every piece of table state — the live
  ``{token: resolution_version}`` map, the committed batch ids and the
  per-token manifest stats — comes from ONE ordered action replay
  (``CommitLog._replay``) that starts at the newest checkpoint <= the
  read's as-of version and reads manifests only up to it. A remove kills
  what is live at that point, a later re-add revives it, and a token
  (re-)added without stats has none. ``write_checkpoint`` serialises that
  same replay, so a checkpoint only ever speeds a read up, never changes
  its answer.
* **Concurrent staging**: ``CommitLog.stage_all`` writes a commit's
  independent deltas at the same time from a thread pool, because Spark's
  fixed cost per write (planning, launch, job commit) is driver-side and
  overlaps. That is safe because a staged dir stays invisible until a
  manifest links it, and commits stay sequential and ordered: staging
  order never decides a version.
* **Resolved reads**: ``compact`` marks its output as resolved on its key
  columns (a reserved ``resolved:`` entry on the per-token stats channel,
  beside ``bloom:<col>``, so checkpoints carry it). A latest-per-key read
  whose live set is exactly that one token, on the same keys, scans it
  without the window: no sort and no shuffle. Any later commit, or a
  re-add without stats (``clone_into``), brings the window back.
* **One transaction loop**: ``CommitLog.transact`` owns optimistic
  concurrency for every read-derive-commit writer (compaction,
  ``replace_where``, MERGE): capture the head, let the caller's attempt
  stage its deltas against it, commit with that read version, and on a
  same-key conflict drop the staged deltas and re-derive.
* **Idempotence**: a manifest carries an optional ``batch_id``; re-applying
  an already-committed batch (a streaming retry after a sink crash) is
  detected from the log itself, not from writer-local state, so the
  exactly-once contract survives a driver restart.

At 100 TB the log stays tiny (one small JSON per commit — the data volume
lives in parquet), snapshot loads are O(#commits since the last
checkpoint) metadata operations (``write_checkpoint`` folds the replayed
state into one file, Delta's ``_last_checkpoint`` pattern), and the
snapshot union is the same latest-per-key window MERGE compiles to anyway.
On object stores without atomic rename/link (S3), the same protocol runs
against a put-if-absent primitive (S3 conditional PUT, DynamoDB lock table);
the local-filesystem link used here is the dev-harness stand-in.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

_COMMITS = "_commits"
_CHECKPOINTS = "_checkpoints"
_DATA = "data"
_SCHEMA = "_schema.json"
# same-key conflicts a read-derive-commit transaction survives before
# ``CommitLog.transact`` gives up with CommitConflict
_MAX_TXN_RETRIES = 8
# writes ``stage_all`` runs at once. Not the task-slot count: the overlap
# is each write's driver-side planning, launch and job commit, so one
# thread per delta helps even when the slots are busy
_STAGE_THREADS = 8
# name prefix of those threads, so a leak check can tell them apart
_STAGE_THREAD_PREFIX = "commitlog-stage"
# reserved stats entry: the key columns a token is already resolved on
_RESOLVED = "resolved:"


def recorded_schema(token_dir: str) -> StructType | None:
    """The Spark schema ``CommitLog.stage`` recorded for a delta, or None
    for a delta staged without one."""
    try:
        with open(os.path.join(token_dir, _SCHEMA)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _scan(spark: SparkSession, token_dir: str) -> DataFrame:
    """Read one delta with its recorded schema: no footer-inference job.
    A delta without one (staged by hand) is inferred as before."""
    schema = recorded_schema(token_dir)
    if schema is None:
        return spark.read.parquet(token_dir)
    return spark.read.schema(schema).parquet(token_dir)


class CommitConflict(RuntimeError):
    """Raised when a writer exhausts its optimistic-retry budget."""


class ManifestsPruned(RuntimeError):
    """Raised when a read needs manifests below the log-retention horizon
    (pruned by ``prune_manifests``): time travel / CDC / full replay into
    the pruned prefix is refused loudly, never silently replayed over a
    hole."""


class ConcurrentKeyConflict(RuntimeError):
    """Raised when a commit that declared its key footprint discovers a
    commit by ANOTHER writer, newer than its read snapshot, whose footprint
    overlaps — Delta's ConcurrentModificationException semantics. Blind
    re-commit is only safe for disjoint keys (latest-per-key resolution is
    commutative across keys); for a same-key race the loser's delta was
    derived from a stale base, so it must re-read the winner's snapshot and
    re-derive. ``CommitLog.transact`` is the retry loop that does exactly
    that."""

    def __init__(self, winner_version: int, message: str) -> None:
        super().__init__(message)
        self.winner_version = winner_version


class _Replay(NamedTuple):
    """Table state at one version, from ``CommitLog._replay``."""

    live: dict[str, int]  # token -> resolution version, in replay order
    batch_ids: set
    stats: dict[str, dict]  # live token -> its manifest stats ({}: none)


class CommitLog:
    """Commit log for one table directory.

    Layout::

        <path>/data/<token>/part-*.parquet   -- staged/committed data dirs
        <path>/data/<token>/_schema.json     -- the delta's Spark schema
        <path>/_commits/00000000000n.json    -- one manifest per version

    A data directory is visible iff some manifest names it in ``adds``.
    """

    def __init__(self, path: str, checkpoint_interval: int | None = None) -> None:
        self.path = path
        self._commits_dir = os.path.join(path, _COMMITS)
        self._checkpoints_dir = os.path.join(path, _CHECKPOINTS)
        self.data_dir = os.path.join(path, _DATA)
        # auto-checkpoint cadence: every N commits the winning writer also
        # writes a checkpoint (Delta's default is every 10). None = manual.
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(self._commits_dir, exist_ok=True)
        os.makedirs(self._checkpoints_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- staging ----------------------------------------------------------
    def stage_dir(self, token: str | None = None) -> str:
        """Directory to write a (not-yet-visible) parquet delta into."""
        token = token or uuid.uuid4().hex
        return os.path.join(self.data_dir, token)

    def stage(self, df: DataFrame) -> str:
        """Write ``df`` as a fresh, not-yet-visible delta and record its
        schema beside the data; returns the dir to pass to ``commit``. A
        write that raises removes its partial dir."""
        staged = self.stage_dir()
        try:
            df.write.mode("overwrite").parquet(staged)
            with open(os.path.join(staged, _SCHEMA), "w") as f:
                f.write(df.schema.json())
        except Exception:
            shutil.rmtree(staged, ignore_errors=True)
            raise
        return staged

    def stage_all(self, dfs: list[DataFrame]) -> list[str]:
        """``stage`` each of ``dfs`` at the same time; returns their dirs in
        input order once every write has finished. The frames must not
        depend on each other. Each thread runs under the caller's local
        properties (job group, description, a stream's run id), captured
        here. If any write raises, every dir this call staged is removed
        and the first error (in input order) is re-raised."""
        if not dfs:
            return []
        spark = dfs[0].sparkSession
        with ThreadPoolExecutor(
            min(len(dfs), _STAGE_THREADS), thread_name_prefix=_STAGE_THREAD_PREFIX
        ) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(self.stage), df)
                for df in dfs
            ]
        errors = [f.exception() for f in futures if f.exception() is not None]
        if errors:
            for f in futures:
                if f.exception() is None:
                    shutil.rmtree(f.result(), ignore_errors=True)
            raise errors[0]
        return [f.result() for f in futures]

    # -- log inspection ---------------------------------------------------
    def _versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._commits_dir):
            if name.endswith(".json"):
                try:
                    out.append(int(name[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._commits_dir, f"{version:012d}.json")

    def read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def head(self) -> int:
        """Highest readable version (-1 if none): every version from the
        replay base up to it is committed. The base is 0 for an unpruned
        log; after ``prune_manifests`` the base is the newest checkpoint
        (whose existence pruning requires), so a retained suffix
        [keep_from, head] stays fully readable.

        Contiguity is the torn-read guard: version N is only readable once
        every version < N is readable, so a reader racing a writer sees a
        clean prefix of history, never a gap. (With link-based CAS gaps
        cannot occur; the check costs nothing and makes the invariant
        explicit.) Costs one listdir of small names — no manifest reads,
        which makes it the right way for a transaction to capture its read
        snapshot version and for a stream to find its latest offset, on a
        retention-pruned log too.
        """
        versions = self._versions()
        base = 0
        ck_v = -1
        if not versions or versions[0] != 0:
            # pruned prefix (or checkpoint-only log): anchor on the
            # newest checkpoint, which prune_manifests guarantees exists
            ck = self._latest_checkpoint()
            ck_v = ck[0] if ck else -1
            if not versions:
                return ck_v
            if versions[0] > ck_v + 1:
                return ck_v  # a gap no checkpoint covers: suffix unreadable
            base = versions[0]
        head = base - 1
        for i, v in enumerate(versions):
            if v != base + i:
                break
            head = v
        return max(head, ck_v)

    def snapshot(
        self, after: int = -1, until: int | None = None
    ) -> list[tuple[int, dict]]:
        """(version, manifest) for the contiguous committed prefix,
        restricted to versions in (``after``, ``until``] (``until``
        defaults to the head). The default replays the whole log;
        checkpoint-aware readers pass ``after=checkpoint_version`` so only
        the post-checkpoint suffix is read — that is the entire point of
        checkpointing: O(#commits since checkpoint) manifest reads, not
        O(#commits ever) — and an as-of read passes ``until`` so no later
        manifest is opened. Raises ManifestsPruned if the requested range
        reaches below the log-retention horizon."""
        head = self.head()
        if until is not None:
            head = min(head, until)
        have = set(self._versions())
        out = []
        for v in range(after + 1, head + 1):
            if v not in have:
                raise ManifestsPruned(
                    f"manifest {v} pruned by log retention at {self.path}; "
                    f"reads below the retention horizon are unavailable"
                )
            out.append((v, self.read_manifest(v)))
        return out

    def _replay(self, as_of: int | None = None, use_checkpoint: bool = True) -> _Replay:
        """Table state at ``as_of`` (default: the head) from ONE ordered
        action replay: the newest checkpoint <= as_of (a newer one has
        already folded in commits this read must not see), then each later
        manifest up to as_of, in version order. A remove kills only what is
        live at that point and a LATER re-add of the same token revives it
        (the Delta log semantic; a global removed-set would disagree with
        any checkpoint taken between the remove and the re-add). A commit
        may pin per-token resolution versions different from its own
        (``add_versions``: clone_into uses negative ranks so a cloned
        history resolves below every future commit). The stats rule: an
        add sets the token's stats to the box its manifest carries, so a
        token (re-)added without stats has none — a missing box only makes
        a skip decision conservative."""
        ck = self._latest_checkpoint(as_of) if use_checkpoint else None
        start, c = ck or (-1, {})
        state = _Replay(
            {t: int(v) for v, t in c.get("live", ())},
            set(c.get("batch_ids", ())),
            dict(c.get("stats", {})),
        )
        for v, m in self.snapshot(after=start, until=as_of):
            for t in m.get("removes", ()):
                state.live.pop(t, None)
                state.stats.pop(t, None)
            av = m.get("add_versions") or {}
            stats = m.get("stats") or {}
            for t in m.get("adds", ()):
                state.live[t] = av.get(t, v)
                state.stats[t] = stats.get(t, {})
            if m.get("batch_id") is not None:
                state.batch_ids.add(m["batch_id"])
        return state

    # -- checkpoints (O(1) snapshot load, Delta's _last_checkpoint) -------
    def write_checkpoint(self) -> int | None:
        """Aggregate the replayed state at the current head into ONE file:
        live (resolution_version, token) pairs, committed batch ids, and
        column stats for live tokens. Readers then load the newest
        checkpoint <= their as-of version and replay only the manifests
        after it. The checkpoint is DERIVED data — any writer may (re)write
        it, losing a filename race is harmless (same prefix -> same bytes),
        and deleting it only costs speed, never correctness. Returns the
        checkpointed version (None for an empty log). At 100 TB / millions
        of commits this is what keeps snapshot construction flat; paired
        with manifest retention (drop manifests older than the checkpoint
        horizon minus the CDC retention window) the log never grows
        unboundedly — retention is deliberately not automated here so
        time-travel tests keep full history."""
        head = self.head()
        if head < 0:
            return None
        # the replay is capped at head: a racing writer can land commits
        # AND a newer checkpoint between our head read and this replay, and
        # folding that newer state into a checkpoint STAMPED head would
        # corrupt every time-travel read at <= head
        rep = self._replay(head)
        state = {
            "version": head,
            "live": [[v, t] for t, v in rep.live.items()],
            "batch_ids": sorted(rep.batch_ids, key=str),
            "stats": {t: s for t, s in rep.stats.items() if s},
        }
        path = os.path.join(self._checkpoints_dir, f"{head:012d}.json")
        tmp = os.path.join(
            self._checkpoints_dir, f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # put-if-absent; a racing twin wrote the same
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
        return head

    def _latest_checkpoint(
        self, as_of: int | None = None
    ) -> tuple[int, dict] | None:
        """Newest checkpoint at version <= ``as_of`` (or the newest at all).
        A checkpoint NEWER than as_of is useless for that read — it has
        already folded in commits the reader must not see."""
        best = -1
        for name in os.listdir(self._checkpoints_dir):
            if not name.endswith(".json") or name.startswith("."):
                continue
            try:
                v = int(name[: -len(".json")])
            except ValueError:
                continue
            if (as_of is None or v <= as_of) and v > best:
                best = v
        if best < 0:
            return None
        with open(
            os.path.join(self._checkpoints_dir, f"{best:012d}.json")
        ) as f:
            return best, json.load(f)

    def snapshot_load_cost(self, as_of: int | None = None) -> dict:
        """Metadata-efficiency probe: which checkpoint a read at ``as_of``
        would start from and how many manifests it still replays."""
        ck = self._latest_checkpoint(as_of)
        start = ck[0] if ck else -1
        head = self.head()
        if as_of is not None:
            head = min(head, as_of)
        return {
            "checkpoint_version": start,
            "manifests_replayed": max(0, head - start),
        }

    def committed_batch_ids(self) -> set:
        return self._replay().batch_ids

    def live_tokens(
        self, as_of: int | None = None, use_checkpoint: bool = True
    ) -> list[tuple[int, str]]:
        """(resolution_version, token) pairs visible at ``as_of`` (default:
        latest): every token added by a commit <= as_of and not named in a
        later commit's ``removes`` <= as_of. Remove-actions are how
        compaction retires superseded deltas without rewriting history —
        the same add/remove file-action model as Delta's log; removes
        replayed after a checkpoint still retire checkpoint-carried tokens
        (compaction-after-checkpoint)."""
        live = self._replay(as_of, use_checkpoint).live
        return [(v, t) for t, v in live.items()]

    def vacuum(self, retention_as_of: int | None = None) -> list[str]:
        """Delete data directories no retained snapshot needs. Default
        (retention zero): keep only the CURRENT live set — staged-but-
        never-committed dirs (crashed writers) and dirs retired by a
        remove-action are swept. With ``retention_as_of=h``, every
        snapshot at version >= h stays readable: a token whose live
        interval [add_version, remove_version) intersects [h, head] is
        kept — i.e. tokens are swept only once their remove-action is at
        or below the horizon. That is Delta's retention window expressed
        in versions instead of wall-clock (deterministic for tests; a
        production deployment maps its retention duration to the oldest
        version inside it via manifest timestamps). Returns the swept
        tokens."""
        keep: set[str] = set()
        removed_at: dict[str, int] = {}
        try:
            manifests = self.snapshot()
        except ManifestsPruned:
            # log retention already bounded history: everything below the
            # checkpoint is unreadable, so its non-live tokens are sweepable
            # regardless of the horizon
            ck = self._latest_checkpoint()
            keep = {t for _, t in ck[1]["live"]}
            manifests = self.snapshot(after=ck[0])
        for v, m in manifests:
            for t in m.get("removes", ()):
                removed_at[t] = v
            for t in m.get("adds", ()):
                keep.add(t)
                # a re-add after a remove reopens the token's live
                # interval: only its LAST action decides sweepability
                removed_at.pop(t, None)
        for t, rv in removed_at.items():
            if retention_as_of is None or rv <= retention_as_of:
                keep.discard(t)
        swept = []
        for token in sorted(os.listdir(self.data_dir)):
            if token not in keep:
                shutil.rmtree(os.path.join(self.data_dir, token))
                swept.append(token)
        return swept

    def prune_manifests(self, keep_from: int) -> list[int]:
        """Log retention: delete manifest files for versions < ``keep_from``
        once a checkpoint at version >= keep_from - 1 has folded their
        state (refused otherwise — pruning below the newest checkpoint
        would orphan every reader). After pruning, snapshot loads and
        reads at as-of >= the checkpoint work exactly as before (they
        never touch the pruned prefix); time travel and CDC BELOW
        ``keep_from`` raise a clean error instead of silently replaying a
        hole — retention bounds history, it must never corrupt it. This
        plus ``write_checkpoint`` is what keeps a long-lived table's log
        O(retention window), not O(table age). Returns pruned versions."""
        ck = self._latest_checkpoint()
        if ck is None or ck[0] < keep_from - 1:
            raise ValueError(
                f"cannot prune manifests below {keep_from}: newest "
                f"checkpoint is {ck[0] if ck else None}; checkpoint first"
            )
        pruned = []
        for v in self._versions():
            if v < keep_from:
                os.unlink(self._manifest_path(v))
                pruned.append(v)
        return pruned

    # -- commit (optimistic CAS) ------------------------------------------
    def stats_for(self, spark: SparkSession, staged: str, cols: list[str]) -> dict:
        """Per-column min/max over a staged delta, to be carried in its
        commit manifest (Iceberg file stats / Delta dataSkippingNumIndexedCols).
        One tiny agg job per commit; the payoff is manifest-level file
        skipping at read time — pruning decided from the LOG, before any
        parquet footer is opened."""
        row = (
            _scan(spark, staged)
            .agg(
                *[F.min(c).alias(f"min_{c}") for c in cols],
                *[F.max(c).alias(f"max_{c}") for c in cols],
                *[
                    F.max(F.col(c).isNull()).alias(f"null_{c}")
                    for c in cols
                ],
            )
            .collect()[0]  # bounded: 3 x len(cols) scalars
        )
        def norm(v):
            # manifests are JSON: timestamps/dates stored as their fixed-width
            # string form, which orders lexicographically == chronologically
            return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

        # third element: has_null — min/max skip NULLs, but latest-per-key
        # resolution treats NULL as a real key group, so two deltas with
        # disjoint numeric ranges that BOTH touch the NULL group must still
        # be treated as overlapping (see _footprints_overlap). Readers of
        # the box only index [0]/[1], so the extra element is backward
        # compatible with 2-element boxes in old manifests.
        return {
            c: [
                norm(row[f"min_{c}"]),
                norm(row[f"max_{c}"]),
                bool(row[f"null_{c}"]),
            ]
            for c in cols
        }

    def bloom_for(
        self,
        spark: SparkSession,
        staged: str,
        col: str,
        bits: int = 16384,
        hashes: int = 3,
    ) -> dict:
        """Per-file bloom filter over ``col`` for point-lookup file
        skipping (Delta's bloom filter index / Parquet bloom, lifted to
        the MANIFEST so pruning is decided from the log before any file
        opens). Built JVM-side: xxhash64(col, seed) positions -> one
        bit_or aggregate; only bits//64 longs reach the driver. Returned
        as a ``{"bloom:<col>": {...}}`` entry the caller merges into the
        commit's ``stats`` dict — riding the stats channel means
        checkpoints fold blooms with zero extra plumbing. Size ``bits``
        to ~16-24x the file's distinct keys for a sub-1% false-positive
        rate; a false positive only costs one extra file read, never a
        wrong answer (no false negatives by construction)."""
        words = bits // 64
        src = _scan(spark, staged)
        # xxhash64 is TYPE-dependent: record the column's dtype so the
        # probe literal hashes as the same type (int32 vs int64 literals
        # would otherwise produce disjoint positions -> false negatives)
        dtype = dict(src.dtypes)[col]
        pos = [
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(bits)).cast("long")
            for i in range(hashes)
        ]
        rows = (
            src.select(F.explode(F.array(*pos)).alias("p"))
            .select(
                (F.col("p") / 64).cast("int").alias("w"),
                F.expr("shiftleft(1L, cast(p % 64 AS int))").alias("b"),
            )
            .groupBy("w")
            .agg(F.bit_or("b").alias("bits"))
            .collect()  # bounded: <= bits/64 longs, metadata-sized
        )
        arr = [0] * words
        for r in rows:
            arr[r["w"]] = r["bits"]
        return {f"bloom:{col}": {"bits": bits, "k": hashes, "dtype": dtype, "words": arr}}

    def _bloom_positions(
        self, spark: SparkSession, value, bits: int, hashes: int, dtype: str
    ) -> list[int]:
        """Probe positions for ``value`` — one 1-row local job, so the
        probe uses EXACTLY the JVM xxhash64 the build used (no Python
        reimplementation to drift)."""
        row = (
            spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(F.lit(value).cast(dtype), F.lit(i)), F.lit(bits))
                    .cast("long")
                    .alias(f"p{i}")
                    for i in range(hashes)
                ]
            )
            .collect()[0]
        )
        return [row[f"p{i}"] for i in range(hashes)]

    def read_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        as_of: int | None = None,
    ) -> tuple[DataFrame | None, int]:
        """Point lookup ``col = value`` with bloom file skipping: a live
        file is read only if its bloom (when present) has all probe bits
        set. Returns (dataframe over kept files filtered to the exact
        predicate, n_files_skipped). Files without a bloom for ``col``
        are conservatively read. At 100 TB a keyed point read touches
        O(1) files instead of O(live files) — the difference between a
        lookup and a scan."""
        state = self._replay(as_of)
        pos_cache: dict[tuple[int, int], list[int]] = {}
        kept, skipped = [], 0
        for t, v in state.live.items():
            bloom = state.stats.get(t, {}).get(f"bloom:{col}")
            if bloom is not None:
                key = (bloom["bits"], bloom["k"], bloom.get("dtype", "bigint"))
                if key not in pos_cache:
                    pos_cache[key] = self._bloom_positions(spark, value, *key)
                words = bloom["words"]
                mask = (1 << 64) - 1  # JSON longs are signed; test unsigned
                if not all(
                    (words[p // 64] & mask) >> (p % 64) & 1
                    for p in pos_cache[key]
                ):
                    skipped += 1
                    continue
            kept.append((v, t))
        out = self._read_tokens(spark, kept)
        if out is None:
            return None, skipped
        return out.filter(F.col(col) == F.lit(value)), skipped

    def live_tokens_pruned(
        self, col: str, lo, hi, as_of: int | None = None
    ) -> tuple[list[tuple[int, str]], int]:
        """(kept (version, token) pairs, n_skipped) for predicate
        ``col BETWEEN lo AND hi``: a file is skipped iff its manifest stats
        prove [min, max] cannot intersect [lo, hi]. Files without stats for
        ``col`` are conservatively kept. A box's has_null marker plays no
        part: BETWEEN never matches NULL, so the numeric bounds alone
        decide the skip."""
        state = self._replay(as_of)
        kept, skipped = [], 0
        for t, v in state.live.items():
            mm = state.stats.get(t, {}).get(col)
            # None bounds (empty delta / all-NULL column) prove nothing
            # about the range — conservative keep, never a TypeError
            if (
                mm is not None
                and mm[0] is not None
                and mm[1] is not None
                and (mm[0] > hi or mm[1] < lo)
            ):
                skipped += 1
            else:
                kept.append((v, t))
        return kept, skipped

    @staticmethod
    def _footprints_overlap(mine: dict | None, theirs: dict | None) -> bool:
        """Conservative key-box intersection: a commit's footprint is
        {col: [min, max]}; two footprints are disjoint iff some shared
        column's intervals are disjoint (min/max boxes are disjoint iff
        disjoint on >= 1 dimension). A missing footprint — a legacy commit,
        or a compaction that rewrote every key — is assumed to overlap.
        A None BOUND (empty delta, or an all-NULL key column — min/max
        skip NULLs, and latest-per-key resolution treats NULL as a real
        key group) proves nothing about that column, so it is skipped:
        conservative overlap, never a type error and never a falsely-
        disjoint NULL-keyed race. Boxes may carry a third has_null
        element (stats_for): a dimension on which BOTH footprints touch
        the NULL key group can never prove disjointness, even with
        disjoint numeric ranges — otherwise two writers both updating the
        NULL group would blind-commit past each other (lost update). A
        box WITHOUT the marker (a hand-built range like replace_where's
        BETWEEN predicate, or a pre-marker manifest) is NULL-UNKNOWN: two
        markerless boxes keep numeric-only semantics against each other,
        but against a peer marking has_null=True the dimension never
        disjoins — a legacy writer's min/max silently skipped NULLs, so
        numeric bounds are not proof its NULL group was untouched. Only
        an explicit has_null=False — which every stats_for-derived
        footprint, the path real transactions take, records — licenses
        range disjointness against a NULL-touching peer."""
        if mine is None or theirs is None:
            return True
        for col, box in mine.items():
            mm = theirs.get(col)
            if mm is None:
                continue
            lo, hi = box[0], box[1]
            mine_null = len(box) > 2 and bool(box[2])
            theirs_null = len(mm) > 2 and bool(mm[2])
            # markerless boxes (legacy manifests, hand-built ranges): the
            # caller vouches for numeric-only semantics, so the dimension
            # may still disjoin on ranges below — but absence of a marker
            # is never PROOF of NULL-freedom (see branch below)
            mine_no_null_proven = len(box) > 2 and not box[2]
            theirs_no_null_proven = len(mm) > 2 and not mm[2]
            if (mine_null and not theirs_no_null_proven) or (
                theirs_null and not mine_no_null_proven
            ):
                # one side DECLARES NULL keys and the other side cannot
                # prove it has none (marked has_null, or a pre-marker
                # manifest whose min/max silently skipped NULLs): the
                # NULL key groups may collide, so numeric range
                # disjointness below proves nothing (advisor find r7 —
                # the marked-vs-markerless mixed-version race)
                continue
            if lo is None or hi is None or mm[0] is None or mm[1] is None:
                # a side whose keys are ALL NULL (bounds None, has_null
                # marked) is disjoint only from a peer whose marker PROVES
                # no NULL keys; a markerless peer (pre-marker manifest)
                # might hold NULL keys its min/max skipped — conservative
                # overlap, never a falsely-disjoint mixed-version race
                if (
                    lo is None and hi is None and mine_null and theirs_no_null_proven
                ) or (
                    mm[0] is None and mm[1] is None and theirs_null and mine_no_null_proven
                ):
                    return False
                continue
            if lo > mm[1] or hi < mm[0]:
                return False
        return True

    def check_conflicts(
        self, read_version: int, key_ranges: dict | None, *, pure_add: bool = False
    ) -> None:
        """Raise ConcurrentKeyConflict if any commit newer than
        ``read_version`` has an overlapping key footprint. O(#new commits)
        metadata reads, no data touched. Deliberately does NOT exempt
        commits by the same writer name: a second transaction under a
        reused name must still see its predecessor, or it would re-commit a
        delta derived from a pre-predecessor snapshot (a lost update)."""
        for v in self._versions():
            if v <= read_version:
                continue
            m = self.read_manifest(v)
            if m.get("rearrange") and key_ranges is not None and pure_add:
                # compaction: a physical rewrite with identical logical
                # state — a PURE-ADD data delta derived before it is
                # still valid after it. The exemption applies ONLY to
                # transactions that both declared a key footprint AND
                # carry no removes / no physically-derived file plan
                # (pure_add): any transaction whose commit names removes
                # or pins add_versions — replace_where, RESTORE, another
                # compaction — computed that plan from the PHYSICAL token
                # set the interleaved rearrange just swapped out, so
                # blind-committing would leave the new compacted base
                # un-retired (deleted rows resurrect under latest-per-key
                # resolution, or duplicated rows survive). Those must
                # abort and re-derive — Delta raises
                # ConcurrentModification for replaceWhere-vs-OPTIMIZE
                # for exactly this reason.
                continue
            if self._footprints_overlap(key_ranges, m.get("key_ranges")):
                raise ConcurrentKeyConflict(
                    v,
                    f"commit {v} (writer={m.get('writer')!r}) touched keys "
                    f"overlapping this transaction's footprint "
                    f"{key_ranges}; re-read the snapshot and re-derive",
                )

    def commit(
        self,
        adds: list[str],
        *,
        removes: list[str] | None = None,
        batch_id: int | None = None,
        writer: str = "",
        stats: dict[str, dict] | None = None,
        max_retries: int = 64,
        read_version: int | None = None,
        key_ranges: dict | None = None,
        rearrange: bool = False,
        add_versions: dict[str, int] | None = None,
    ) -> int | None:
        """Publish staged data dirs as the next version. Returns the version
        won, or None if ``batch_id`` was already committed (idempotent skip —
        the staged duplicate is cleaned up).

        Exactly one concurrent writer wins each version number; the loser
        re-reads the log (re-checking batch idempotence) and retries at the
        next version.

        ``read_version`` + ``key_ranges`` opt into same-key conflict
        detection (Delta's ConcurrentModificationException semantics): the
        manifest records the commit's key footprint, and on EVERY attempt —
        including the first, since another writer may have committed without
        ever racing our version number — commits newer than ``read_version``
        are checked for footprint overlap. Disjoint-key writers still
        interleave freely (the acid_concurrent_merge scenario); a same-key
        loser gets ConcurrentKeyConflict and must re-read + re-derive
        instead of blind-re-committing a stale delta.
        """
        tokens = [os.path.basename(a.rstrip("/")) for a in adds]
        for _ in range(max_retries):
            if batch_id is not None and batch_id in self.committed_batch_ids():
                for t in tokens:  # retry of an applied batch: drop the dup
                    shutil.rmtree(os.path.join(self.data_dir, t), ignore_errors=True)
                return None
            # head-based, not listdir-max: on a retention-pruned log the
            # next version continues AFTER the checkpoint, never back-fills
            # the pruned prefix. ORDER MATTERS: next_v must be read BEFORE
            # check_conflicts — with the check first, a commit landing in
            # the window between the check and the head read would advance
            # the head, let this writer link at interloper+1 WITHOUT ever
            # seeing it, and silently lose the update (caught as a
            # once-in-many-suites [0, 0]-conflicts flake under load). With
            # next_v fixed first, any later-visible commit must itself take
            # next_v, which fails our link CAS and re-runs the check.
            next_v = self.head() + 1
            if read_version is not None:
                # pure_add: the commit's file plan does not depend on the
                # physical token layout — no removes to retire, no pinned
                # resolution versions. Only such commits may ride through
                # an interleaved compaction (see check_conflicts).
                self.check_conflicts(
                    read_version,
                    key_ranges,
                    pure_add=not removes and not add_versions,
                )
            manifest = {
                "version": next_v,
                "adds": tokens,
                "rearrange": rearrange,
                "removes": [
                    os.path.basename(r.rstrip("/")) for r in (removes or [])
                ],
                "batch_id": batch_id,
                "writer": writer,
                # per-token column stats: {token: {col: [min, max]}}
                "stats": {
                    os.path.basename(k.rstrip("/")): v
                    for k, v in (stats or {}).items()
                },
                # this commit's key footprint, for same-key conflict checks
                "key_ranges": key_ranges,
                "add_versions": add_versions,
                "ts": time.time(),
            }
            tmp = os.path.join(
                self._commits_dir, f".tmp-{uuid.uuid4().hex}.json"
            )
            with open(tmp, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())  # durable BEFORE visible
            try:
                os.link(tmp, self._manifest_path(next_v))  # atomic CAS
                if (
                    self.checkpoint_interval
                    and (next_v + 1) % self.checkpoint_interval == 0
                ):
                    # winner pays the (derived, race-safe) checkpoint cost
                    self.write_checkpoint()
                return next_v
            except FileExistsError:
                continue  # lost the race — re-read log, retry next version
            finally:
                os.unlink(tmp)
        raise CommitConflict(
            f"commit lost {max_retries} races at {self.path} — livelock?"
        )

    # -- snapshot read ----------------------------------------------------
    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame | None:
        """Union of the deltas live at ``as_of`` (default latest), each row
        tagged with its commit version as ``_commit_version``. Time travel
        is free: an old snapshot is just the manifest prefix <= as_of.
        None for an empty table."""
        return self._read_tokens(spark, self.live_tokens(as_of))

    def _read_tokens(self, spark: SparkSession, pairs) -> DataFrame | None:
        """One parquet read per (version, token) pair, each with the schema
        recorded in ``data/<token>/_schema.json`` (so building the snapshot
        submits no footer-inference job), each row tagged with its
        ``_commit_version``, unioned by name; None for no pairs.
        allowMissingColumns = schema evolution on read: a commit that added
        a column null-fills it for other commits' rows instead of failing
        the snapshot — the mergeSchema semantic applied at the log layer.
        Per-token reads (not one multi-path scan) also keep type widening
        across generations: the union widens int→bigint, where a merged
        scan raises CANNOT_MERGE_SCHEMAS."""
        out = None
        for v, token in pairs:
            part = _scan(spark, os.path.join(self.data_dir, token)).withColumn(
                "_commit_version", F.lit(v)
            )
            out = part if out is None else out.unionByName(part, allowMissingColumns=True)
        return out

    def read_pruned(
        self, spark: SparkSession, col: str, lo, hi, as_of: int | None = None
    ) -> tuple[DataFrame | None, int]:
        """Snapshot read under ``col BETWEEN lo AND hi`` with manifest-stats
        file skipping. Returns (dataframe over kept files only — caller
        still applies the exact predicate, stats only prove non-overlap —
        and the number of files skipped)."""
        kept, skipped = self.live_tokens_pruned(col, lo, hi, as_of)
        return self._read_tokens(spark, kept), skipped

    def read_changes(
        self, spark: SparkSession, since: int, until: int | None = None
    ) -> DataFrame | None:
        """Change feed: rows ADDED by commits in (since, until] — the CDC
        read incremental consumers poll instead of re-scanning the table
        (the S9 bookmark pattern, with the commit version as the bookmark).
        Remove-actions are metadata-only (compaction), so adds are the
        complete change stream for an upsert table."""
        # replay only (since, head] — CDC below a pruned horizon raises
        # ManifestsPruned instead of silently emitting a partial stream
        return self._read_tokens(
            spark,
            [
                (v, token)
                for v, m in self.snapshot(after=since, until=until)
                for token in m.get("adds", ())
            ],
        )

    def clone_into(self, dst_path: str) -> "CommitLog":
        """SHALLOW CLONE (Delta CLONE semantics): a new table whose single
        commit references the source's CURRENT live data via hard links —
        zero bytes copied, O(live files) metadata. The two tables then
        evolve independently: a write to either is invisible to the other,
        and either side's vacuum only unlinks its own directory entries
        (hard links keep the shared bytes alive for the other table).
        Per-key resolution order survives the clone: the clone commit pins
        each token's resolution version to ``rank - k`` (negative,
        order-preserving), so cloned history resolves below any FUTURE
        clone-side commit (version >= 1) while upserts inside the cloned
        set still out-rank each other exactly as they did at the source.
        (Time travel on the clone starts at the clone point — commit-by-
        commit source history does not transfer, same as Delta.)"""
        dst = CommitLog(dst_path)
        live = self.live_tokens()  # already (resolution_version, token)
        live.sort()
        adds, add_versions = [], {}
        for rank, (_, token) in enumerate(live):
            sdir = os.path.join(self.data_dir, token)
            ddir = dst.stage_dir(token)
            os.makedirs(ddir, exist_ok=True)
            for fname in os.listdir(sdir):
                os.link(os.path.join(sdir, fname), os.path.join(ddir, fname))
            adds.append(ddir)
            add_versions[token] = rank - len(live)
        dst.commit(adds, writer="clone", add_versions=add_versions)
        return dst

    def transact(
        self,
        attempt: Callable[[int], dict | None],
        *,
        writer: str,
    ) -> tuple[int | None, int]:
        """The one optimistic-concurrency loop (Delta/Iceberg's abort-and-
        retry): capture the head as the read version, call
        ``attempt(read_version)`` — which derives and stages its deltas
        against that snapshot and returns the ``commit`` keyword arguments
        (``adds`` included), or None for nothing to do — and commit with
        that read version. On ConcurrentKeyConflict — another writer
        committed an overlapping footprint after our read — the staged
        ``adds`` are dropped and the WHOLE attempt re-runs against the
        winner's snapshot (re-read + re-derive), never blind-re-committed.
        Returns (version won or None, n_conflicts suffered); raises
        CommitConflict after ``_MAX_TXN_RETRIES`` conflicts."""
        for n_conflicts in range(_MAX_TXN_RETRIES):
            read_version = self.head()
            kw = attempt(read_version)
            if kw is None:
                return None, n_conflicts
            try:
                won = self.commit(writer=writer, read_version=read_version, **kw)
                return won, n_conflicts
            except ConcurrentKeyConflict:
                for d in kw["adds"]:  # stale — re-derive
                    shutil.rmtree(d, ignore_errors=True)
        raise CommitConflict(
            f"transaction {writer!r} conflicted {_MAX_TXN_RETRIES} times at {self.path}"
        )

    def replace_where(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi,
        replacement: DataFrame | None,
    ) -> dict:
        """Predicate-scoped atomic overwrite (Delta ``replaceWhere``): in ONE
        commit, every live row with ``col BETWEEN lo AND hi`` is deleted and
        ``replacement`` (which must satisfy the predicate — validated with a
        zero-extra-job ``observe`` on the staging write) is inserted.
        ``replacement=None`` is DELETE WHERE.

        File-level plan: ``live_tokens_pruned`` splits the live set — a
        file whose [min, max] cannot intersect [lo, hi] is CARRIED FORWARD
        untouched (never read, never rewritten, not even named in the
        commit); only overlapping files are rewritten, each to a new token
        holding its surviving out-of-range rows with ``add_versions``
        pinning the ORIGINAL resolution version, so cross-file per-key
        resolution is bit-identical to before the rewrite. At 100 TB with
        key-clustered files this touches O(files overlapping the
        predicate), not O(table) — the same reason Delta's replaceWhere is
        the partition-overwrite workhorse. The driver-side loop is over
        file TOKENS (metadata, bounded by live-file count); each rewrite is
        a distributed job.

        Concurrency: a ``transact`` attempt whose commit declares footprint
        {col: [lo, hi]} against its read snapshot — disjoint-range writers
        interleave freely, a same-range race aborts and re-derives.
        Returns {"version", "rewritten", "carried"}.
        """
        from pyspark.sql import Observation

        pred = F.col(col).between(F.lit(lo), F.lit(hi))
        plan: dict = {}

        def attempt(read_version: int) -> dict:
            overlapping, carried = self.live_tokens_pruned(
                col, lo, hi, as_of=read_version
            )
            plan.update(rewritten=len(overlapping), carried=carried)
            # keep every row where pred is NOT TRUE: a NULL-keyed row
            # evaluates BETWEEN to NULL, and filter(~pred) would drop it —
            # silently deleting the NULL key group the declared footprint
            # promises not to touch
            frames = [
                _scan(spark, os.path.join(self.data_dir, t)).filter(
                    ~F.coalesce(pred, F.lit(False))
                )
                for _, t in overlapping
            ]
            if replacement is not None:
                obs = Observation()
                frames.append(
                    replacement.observe(
                        obs,
                        # not-TRUE (incl. NULL key: BETWEEN never matches NULL)
                        F.sum(
                            F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)
                        ).alias("violations"),
                        F.count(F.lit(1)).alias("n"),
                    )
                )
            adds = self.stage_all(frames)
            # zip stops before the replacement: it resolves at the commit
            # version, so it wins the range
            add_versions = {
                os.path.basename(staged): v
                for staged, (v, _) in zip(adds, overlapping)
            }
            removes = [t for _, t in overlapping]
            if replacement is not None and (obs.get["violations"] or 0) > 0:
                for d in adds:
                    shutil.rmtree(d, ignore_errors=True)
                raise ValueError(
                    f"replaceWhere replacement violates {col} BETWEEN "
                    f"{lo} AND {hi}: {obs.get['violations']} rows outside"
                )
            return {
                "adds": adds,
                "removes": removes,
                # BETWEEN never matches NULL: the footprint provably
                # excludes the NULL key group (has_null=False), so
                # disjoint-range replace_where writers keep interleaving
                # freely under the NULL-aware overlap
                "key_ranges": {col: [lo, hi, False]},
                "add_versions": add_versions or None,
            }

        version, _ = self.transact(attempt, writer="replace_where")
        return {"version": version, **plan}

    def compact(self, spark: SparkSession, key_cols: list[str]) -> int | None:
        """OPTIMIZE: rewrite the current live delta set as ONE resolved
        base (latest-per-key), committed atomically with remove-actions
        retiring every input delta. Readers before the commit see the
        deltas; readers after see the compacted base; no reader ever sees
        both (the swap is the one manifest link). Returns the compaction
        commit version (None for an empty table).

        Interleaved-writer safe: the compaction is a ``transact`` attempt
        that declares NO key footprint — it rewrites every key, so ANY
        commit landing after its read snapshot conflicts — and on
        ConcurrentKeyConflict the whole rewrite re-runs against the fresh
        snapshot. Without this, an interleaved delta would survive in
        ``removes``-untouched form but lose the per-key version race to the
        younger compacted base — a silently vanished update."""

        def attempt(read_version: int) -> dict | None:
            state = self._replay(read_version)
            if not state.live:
                return None
            staged = self.stage(self._resolve(spark, state, key_cols))
            return {
                "adds": [staged],
                "removes": list(state.live),
                "key_ranges": None,  # a rewrite of ALL keys conflicts with any
                "rearrange": True,  # ...but changes no logical state itself
                # the base holds one row per key: reads may skip the window
                "stats": {staged: {_RESOLVED: list(key_cols)}},
            }

        return self.transact(attempt, writer="compact")[0]

    def read_latest_per_key(
        self, spark: SparkSession, key_cols: list[str], as_of: int | None = None
    ) -> DataFrame | None:
        """MERGE-on-read resolution: the highest-version row wins per key —
        one window over the key partitioning, the same shuffle the next
        writer of a key-partitioned table needs anyway. A live set that is
        exactly one base ``compact`` resolved on the same keys is scanned
        as it is."""
        return self._resolve(spark, self._replay(as_of), key_cols)

    def _resolve(
        self, spark: SparkSession, state: _Replay, key_cols: list[str]
    ) -> DataFrame | None:
        """Latest-per-key rows of one replayed state (None if empty)."""
        if len(state.live) == 1:
            (token,) = state.live
            if state.stats.get(token, {}).get(_RESOLVED) == list(key_cols):
                return _scan(spark, os.path.join(self.data_dir, token))
        df = self._read_tokens(spark, [(v, t) for t, v in state.live.items()])
        if df is None:
            return None
        w = W.partitionBy(*key_cols).orderBy(F.col("_commit_version").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_commit_version")
        )
