"""Traced run: spans around calls into the package's layers, plus the
Spark event log parsed offline.

Spans are recorded from the benchmark's side: ``Tracer.install`` rebinds
the public functions of each layer module (and ``CommitLog`` methods) to
timing wrappers, everywhere the package imported them by name. Spans live in
memory and are written as one JSON file when the run ends. Nothing in the
package is edited.

The event log (``spark.eventLog.enabled``, uncompressed, into a private
directory) gives the engine layer beneath the package: jobs, stages, tasks,
shuffle, spill, scan and write bytes, Python-worker bytes and, from the final
adaptive plans, the exchange and join operators. Only jobs submitted while a
timed query was building or executing are counted, so set-up and warm-up work
is left out.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

PKG = "amazonbigdata_for_students_spark"

# layer name -> modules whose public functions are wrapped
FUNCTION_LAYERS = {
    "sources.readers": ("sources.readers",),
    "sources.sinks": ("sources.sinks",),
    "python_path": (
        "functions.endpoint", "functions.multimodal", "functions.spam",
        "operators.dedup", "operators.similarity", "operators.skew",
    ),
}
COMMITLOG_METHODS = (
    "commit", "read", "read_pruned", "read_changes", "read_point",
    "read_latest_per_key", "live_tokens", "compact", "vacuum",
)

# Plan operators counted in the final adaptive plan of each SQL execution.
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


class Tracer:
    """In-memory span and counter store for one traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def _wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        return wrapper

    def install(self) -> None:
        """Rebind layer entry points in every loaded package module."""
        from amazonbigdata_for_students_spark.sources.commitlog import CommitLog

        originals: dict[int, object] = {}
        for layer, mods in FUNCTION_LAYERS.items():
            for short in mods:
                mod = sys.modules.get(f"{PKG}.{short}")
                if mod is None:
                    continue
                for attr, fn in vars(mod).items():
                    public_fn = (
                        callable(fn) and not isinstance(fn, type) and not attr.startswith("_")
                        and getattr(fn, "__module__", None) == mod.__name__
                    )
                    if not public_fn:
                        continue
                    on = None
                    if attr == "load_table":
                        on = lambda _out: self.count("sources.readers.load_table_calls")  # noqa: E731
                    originals[id(fn)] = self._wrap(layer, fn, on)
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, attr, w)
        for meth in COMMITLOG_METHODS:
            setattr(CommitLog, meth, self._wrap(f"sources.commitlog.{meth}", getattr(CommitLog, meth), self._commitlog_hook(meth)))

    def _commitlog_hook(self, meth: str):
        def hook(out):
            if meth == "commit":
                self.count("commitlog.commits" if out is not None else "commitlog.idempotent_skips")
            elif meth.startswith("read"):
                self.count("commitlog.reads")
            elif meth == "live_tokens":
                self.count("commitlog.live_token_lists")
                self.count("commitlog.live_tokens", len(out or ()))
        return hook

    def span_seconds(self, prefix: str) -> float:
        """Total time of spans named ``prefix`` or ``prefix.*`` (top-most only)."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if "end" not in s or not (s["name"] == prefix or s["name"].startswith(prefix + ".")):
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if by_id[p]["name"] == prefix or by_id[p]["name"].startswith(prefix + "."):
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                total += s["end"] - s["start"]
        return total

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts), **extra}, f)


class ProgressCollector:
    """Keeps the ``QueryProgressEvent`` payloads of every streaming query."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                if p.get("numInputRows", 0) > 0:
                    with collector._lock:
                        collector.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def metrics(self) -> dict[str, float]:
        ps = list(self.progress)
        d = [p.get("durationMs", {}) for p in ps]
        states = [op for p in ps for op in p.get("stateOperators", [])]

        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        rows = sum(p.get("numInputRows", 0) for p in ps)
        trig = sum(x.get("triggerExecution", 0) for x in d) / 1000.0
        return {
            "streaming.batches": float(len(ps)),
            "streaming.rows_per_s": rows / trig if trig else 0.0,
            "streaming.trigger_p50_s": statistics.median(x.get("triggerExecution", 0) for x in d) / 1000.0 if d else 0.0,
            "streaming.add_batch_s": mean([x.get("addBatch", 0) / 1000.0 for x in d]),
            "streaming.query_planning_s": mean([x.get("queryPlanning", 0) / 1000.0 for x in d]),
            "streaming.wal_commit_s": mean([x.get("walCommit", 0) / 1000.0 for x in d]),
            "streaming.state_rows": mean([op.get("numRowsTotal", 0) for op in states]),
            "streaming.state_mem_bytes": mean([op.get("memoryUsedBytes", 0) for op in states]),
            "streaming.rows_dropped_by_watermark": float(sum(op.get("numRowsDroppedByWatermark", 0) for op in states)),
        }


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def read_event_logs(log_dir: str) -> list[dict]:
    """Every event of every (possibly rolled) log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def parse_events(events: list[dict], windows: list[tuple[str, float, float]]) -> dict:
    """Aggregate the jobs of an event log per timed window.

    ``windows`` are ``(label, start, end)`` in epoch seconds, one per build or
    execution of a timed query. A job belongs to the window its submission
    time falls in. Job groups cannot be used for this alone: Structured
    Streaming replaces the caller's job group with the query's run id."""
    windows = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in windows]

    def window_of(ms: float) -> str | None:
        i = bisect.bisect_right(starts, ms / 1000.0) - 1
        if i >= 0 and ms / 1000.0 <= windows[i][2]:
            return windows[i][0]
        return None

    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    jobs: Counter = Counter()
    per_group: dict[str, Counter] = defaultdict(Counter)
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = window_of(e.get("Submission Time", 0))
            if not g:
                continue
            jobs[g] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group[sid] = g
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_group.setdefault(int(xid), g)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[int(e["executionId"])] = e["sparkPlanInfo"]
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(e["Stage Info"]["Stage ID"])
            if g:
                per_group[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"))
            if not g:
                continue
            c = per_group[g]
            c["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                c["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["spill_memory_bytes"] += m.get("Memory Bytes Spilled", 0)
            c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") == "data sent to Python workers":
                    c["python_bytes_sent"] += int(acc.get("Update") or 0)
    for g, n in jobs.items():
        per_group[g]["jobs"] += n
    for xid, plan in final_plan.items():
        g = exec_group.get(xid)
        if not g:
            continue
        c = per_group[g]
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if name == "Exchange":
                c["exchanges"] += 1
            elif name == "SortMergeJoin":
                c["smj"] += 1
            elif name == "BroadcastHashJoin":
                c["bhj"] += 1
            elif any(k in name for k in _PYTHON_NODES):
                c["python_evals"] += 1
    return per_group
