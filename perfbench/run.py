#!/usr/bin/env python3
"""Repository benchmark: fully materialised, correctness-checked workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 16 --trace 1

One process, one closed-loop client on ``local[nproc / 2]``. The run sets up
``SETUP_REPS`` times (session start, fixture generation or cache load, one
untimed warm-up execution of every query) and reports the median as
``setup_s``. After the second and the third set-up it runs whole
seed-shuffled passes over the workload's queries until half of ``--seconds``
of query time is measured (the first pass of a segment is always whole).
The first warm-up collects each query and compares it with the query's
DuckDB oracle; every later execution's fingerprint must equal the first
one's. A mismatch or an exception counts as failed.

Times are reported net of steal: each is multiplied by one minus the share
of the busy CPU time the hypervisor took while it ran (``/proc/stat``), so a
neighbour on a shared host moves the figures less. The info line keeps every
execution's raw latency and steal share.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced timed phase (see ``tracing.py``). The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Everything the run writes stays under ``.perfbench_work/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from fixture import ensure_fixture  # noqa: E402
from ops import WORKLOADS, Result, execute, query_module  # noqa: E402

SF = 0.02
SETUP_REPS = 3
# Plan modules reached by the workloads; each gets build/exec/jobs metrics.
PLAN_MODULES = (
    "plans.relational", "plans.clickstream", "plans.windows", "plans.text",
    "plans.vectors", "plans.graph", "plans.tableformat", "plans.sources_ops",
    "streaming.batch_twins",
)
END_TO_END_UNITS = {
    "queries_per_s": "1/s",
    "latency_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def cpu_jiffies() -> tuple[int, int, int]:
    """(steal, idle, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], fields[3] + fields[4], sum(fields)


def steal_share(j0, j1) -> float:
    """Share of the busy CPU time between two ``cpu_jiffies`` readings that
    the hypervisor took (steal), 0 when the CPUs were idle throughout."""
    steal, idle, total = (b - a for a, b in zip(j0, j1))
    busy = total - idle
    return steal / busy if busy > 0 else 0.0


@dataclass(frozen=True)
class Sample:
    """One timed execution and the steal share of the CPUs while it ran."""

    name: str
    result: Result
    steal: float

    @property
    def net_s(self) -> float:
        """Latency net of steal: the part of it the guest had the CPUs."""
        return self.result.latency_s * (1.0 - self.steal)


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "load_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def host_fit(work: str, facts: dict) -> dict:
    """Size the session to this host and keep every file under ``work``.

    PYTHONPATH lets Python data-source and UDF workers import the package
    whatever directory the run starts from."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # Half the vCPUs run tasks; the rest keep the JVM's JIT and GC
        # threads, the Python driver and the Python workers off the task
        # threads' cores (see README, "Why half the cores").
        "SPARK_GRAFT_CPUS": str(max(1, facts["nproc"] // 2)),
        # a quarter of RAM, at most 8g: the host is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(8, int(facts['ram_gb'] // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def session_conf(work: str, env: dict, event_log: str | None) -> dict[str, str]:
    # A fixed, pre-touched heap: otherwise the heap grows with GC timing, and
    # peak RSS moved by a third between identical runs on a loaded host.
    # GC and JIT threads are capped to the task slots for the same reason.
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
        f"-XX:ParallelGCThreads={env['SPARK_GRAFT_CPUS']} -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def reset_peak_rss(pids) -> None:
    """Restart the VmHWM mark of each process (5 > clear_refs)."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM over the driver processes, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.reference: dict[str, tuple[int, int]] = {}
        self.tracer = None  # set for the traced timed phase
        self.windows: list[tuple[str, float, float]] = []  # traced build/exec spans

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def execute_checked(self, spark, q, sf_dir: str, tag: str | None = None):
        """Execute once; count it, and check its fingerprint against the first."""
        self.attempted += 1
        span = self.tracer.span(query_module(q), query=q.name) if self.tracer else contextlib.nullcontext()
        t0 = time.time()
        try:
            with span:
                r = execute(spark, q, sf_dir, tag)
        except Exception:  # the run must go on and report the failure
            self.fail(f"{q.name}: raised\n{traceback.format_exc()}")
            return None
        ref = self.reference.setdefault(q.name, r.fingerprint)
        if r.fingerprint != ref:
            self.fail(f"{q.name}: fingerprint {r.fingerprint} != first {ref}")
            return None
        if self.tracer:
            self.windows.append((f"{q.name}:build", t0, t0 + r.build_s))
            self.windows.append((f"{q.name}:exec", t0 + r.build_s, t0 + r.latency_s))
        return r

    def timed_phase(self, spark, queries, sf_dir: str, seconds: float, tag: bool = False):
        """Shuffled passes until ``seconds`` of query time is measured; the
        first pass is always whole, so every query has a sample."""
        results: list[Sample] = []
        busy = 0.0
        first = True
        while busy < seconds:
            for q in self.rng.sample(queries, len(queries)):
                if busy >= seconds and not first:
                    break
                j0 = cpu_jiffies()
                r = self.execute_checked(spark, q, sf_dir, f"{self.workload}:{q.name}" if tag else None)
                if r is not None:
                    results.append(Sample(q.name, r, steal_share(j0, cpu_jiffies())))
                    busy += r.latency_s
            first = False
            if not results:
                break  # every query failed: nothing to measure
        return results, busy


def oracle_check(run: Run, spark, queries, sf_dir: str) -> None:
    from amazonbigdata_for_students_spark import testing

    con = testing.duckdb_connect(sf_dir)
    # an oracle that outgrows this limit fails the check instead of the host
    con.execute("SET memory_limit = '2GB'")
    try:
        for q in queries:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                res = testing.compare_query(spark, q, sf_dir, con)
                log(f"oracle check {q.name}: {time.perf_counter() - t0:.2f}s")
            except Exception:
                run.fail(f"{q.name}: oracle check raised\n{traceback.format_exc()}")
                continue
            if not res.ok:
                run.fail(f"{q.name}: oracle mismatch: {res.detail}")
    finally:
        con.close()


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    facts = host_facts()
    jiffies0 = cpu_jiffies()
    work = os.path.join(os.getcwd(), ".perfbench_work")
    env = host_fit(work, facts)

    from amazonbigdata_for_students_spark.plans import REGISTRY, sources_ops, tableformat
    from amazonbigdata_for_students_spark.session import get_spark

    # the package's scratch roots default to /tmp; keep them in the checkout
    tableformat._ACID_ROOT = os.path.join(work, "acidtables")
    sources_ops._CACHE_ROOT = os.path.join(work, "srccache")

    queries = [REGISTRY[n] for n in WORKLOADS[args.workload]]
    run = Run(args.workload, args.seed)
    event_log = os.path.join(work, f"eventlog-{os.getpid()}") if args.trace else None
    shutil.rmtree(event_log or "", ignore_errors=True)

    session_s, fixture_s, warmup_s, setup_s = [], [], [], []
    results: list[Sample] = []
    busy = rss = 0.0
    untraced = None
    spark = None
    try:
        for rep in range(SETUP_REPS):
            last = rep == SETUP_REPS - 1
            if args.trace and last:
                # the untraced reference for trace.overhead_frac
                res, _ = run.timed_phase(spark, queries, sf_dir, args.seconds / 2)
                untraced = summarize(WORKLOADS[args.workload], res)[1]
            t0, j0 = time.perf_counter(), cpu_jiffies()
            if spark is not None:
                spark.stop()
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                extra_conf=session_conf(work, env, event_log if last else None),
            )
            t1 = time.perf_counter()
            sf_dir = ensure_fixture(os.path.join(work, "fixtures"), args.seed, SF)
            t2 = time.perf_counter()
            if rep == 0:
                # the first warm-up is the oracle check: a full collect of
                # each query, compared with its DuckDB twin
                oracle_check(run, spark, run.rng.sample(queries, len(queries)), sf_dir)
            else:
                for q in run.rng.sample(queries, len(queries)):
                    run.execute_checked(spark, q, sf_dir)
            t3, net = time.perf_counter(), 1.0 - steal_share(j0, cpu_jiffies())
            session_s.append((t1 - t0) * net)
            fixture_s.append((t2 - t1) * net)
            warmup_s.append((t3 - t2) * net)
            setup_s.append((t3 - t0) * net)
            log(f"setup {rep}: {t3 - t0:.2f}s, {setup_s[-1]:.2f}s net of steal")
            if rep > 0 and not args.trace:
                # A timed segment after each later set-up spreads the
                # measurement over the run, so a slow minute of the host
                # weighs less; after the first, the code is still too cold
                # (the next execution of a query is about a quarter slower
                # than its median). Peak memory is that of the segments.
                driver_pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
                reset_peak_rss(driver_pids)
                res, b = run.timed_phase(spark, queries, sf_dir, args.seconds / (SETUP_REPS - 1))
                results += res
                busy += b
                rss = max(rss, peak_rss_mb(driver_pids))
        if args.trace:
            from tracing import ProgressCollector, Tracer

            tracer, progress = Tracer(), ProgressCollector()
            tracer.install()
            run.tracer = tracer
            spark.streams.addListener(progress.listener())
            # per-layer figures are per query: half the time will do
            results, busy = run.timed_phase(spark, queries, sf_dir, args.seconds / 2, tag=True)
        log(f"timed: {len(results)} queries in {busy:.2f}s")
    finally:
        if spark is not None:
            stop_jvm(spark)

    per_query, qps = summarize(WORKLOADS[args.workload], results)
    meds = sorted(per_query.values())
    facts["steal_share"] = steal_share(jiffies0, cpu_jiffies())
    info = {
        "workload": args.workload, "seed": args.seed, "host": facts, "env": env,
        "samples": len(results), "queries": len(meds), "setup_s_each": setup_s,
        "per_query_median_s": per_query,
        # (latency, steal share) of every timed execution, as measured
        "executions": {n: [(round(x.result.latency_s, 4), round(x.steal, 3)) for x in results if x.name == n] for n in per_query},
        "failures": [f.splitlines()[0] for f in run.failures],
    }
    if args.trace:
        from tracing import parse_events, read_event_logs

        groups = parse_events(read_event_logs(event_log), run.windows)
        metrics = layer_metrics(results, busy, groups, tracer, progress, facts["nproc"])
        metrics["session.start_s"] = statistics.median(session_s)
        metrics["session.warmup_s"] = statistics.median(warmup_s)
        metrics["fixture.gen_s"] = fixture_s[0]
        metrics["trace.overhead_frac"] = 1.0 - qps / untraced if untraced else 0.0
        tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), {"info": info})
        units = {}
    else:
        metrics = {
            "queries_per_s": qps,
            "latency_p50_s": statistics.median(meds) if meds else 0.0,
            "setup_s": statistics.median(setup_s),
            "peak_rss_mb": rss,
        }
        units = END_TO_END_UNITS
    print(json.dumps(info), flush=True)
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units.get(name, layer_unit(name))}", flush=True)
    failed = len(run.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units.get(n, layer_unit(n))} for n, v in metrics.items()},
    }), flush=True)
    return 0


def summarize(names, results: list[Sample]) -> tuple[dict[str, float], float]:
    """Each query's median latency net of steal, and queries per second of a
    pass at those medians. Per-query medians damp a pause that hits one pass."""
    per_query = {
        n: statistics.median(x.net_s for x in results if x.name == n)
        for n in names if any(x.name == n for x in results)
    }
    total = sum(per_query.values())
    return per_query, (len(per_query) / total if total else 0.0)


def layer_unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or name.endswith("core_util"):
        return "ratio"
    return "count"


def layer_metrics(results, busy, groups, tracer, progress, cores) -> dict[str, float]:
    """Per-layer metrics of the traced timed phase, per timed query."""
    from amazonbigdata_for_students_spark.plans import REGISTRY

    n = max(1, len(results))
    mod_of = {x.name: query_module(REGISTRY[x.name]) for x in results}
    out: dict[str, float] = {}
    for mod in PLAN_MODULES:
        mine = [x.result for x in results if mod_of[x.name] == mod]
        k = max(1, len(mine))
        jobs = sum(c["jobs"] for g, c in groups.items() if mod_of.get(g.split(":")[0]) == mod)
        out[f"{mod}.build_s"] = sum(r.build_s for r in mine) / k
        out[f"{mod}.exec_s"] = sum(r.exec_s for r in mine) / k
        out[f"{mod}.jobs"] = jobs / k
    tot = {}
    for c in groups.values():
        for key, v in c.items():
            tot[key] = tot.get(key, 0) + v
    for key, name in (
        ("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks"),
        ("task_run_s", "spark.task_run_s"), ("task_cpu_s", "spark.task_cpu_s"),
        ("gc_s", "spark.gc_s"), ("failed_tasks", "spark.failed_tasks"),
        ("shuffle_write_bytes", "shuffle.write_bytes"), ("shuffle_read_bytes", "shuffle.read_bytes"),
        ("shuffle_fetch_wait_s", "shuffle.fetch_wait_s"),
        ("spill_memory_bytes", "spill.memory_bytes"), ("spill_disk_bytes", "spill.disk_bytes"),
        ("input_bytes", "scan.input_bytes"), ("output_bytes", "output.bytes_written"),
        ("exchanges", "plan.exchanges"), ("smj", "plan.smj"), ("bhj", "plan.bhj"),
        ("python_evals", "plan.python_evals"), ("python_bytes_sent", "python.bytes_sent"),
    ):
        out[name] = tot.get(key, 0) / n
    out["spark.core_util"] = tot.get("task_run_s", 0) / (busy * cores) if busy else 0.0
    cnt = tracer.counts
    out["sources.commitlog.commits"] = cnt["commitlog.commits"] / n
    out["sources.commitlog.idempotent_skips"] = cnt["commitlog.idempotent_skips"] / n
    out["sources.commitlog.reads"] = cnt["commitlog.reads"] / n
    out["sources.commitlog.live_tokens_per_read"] = (
        cnt["commitlog.live_tokens"] / cnt["commitlog.live_token_lists"] if cnt["commitlog.live_token_lists"] else 0.0
    )
    out["sources.commitlog.commit_s"] = tracer.span_seconds("sources.commitlog.commit") / n
    out["sources.commitlog.read_s"] = sum(
        tracer.span_seconds(f"sources.commitlog.{m}") for m in ("read", "read_pruned", "read_changes", "read_point", "read_latest_per_key")
    ) / n
    out["sources.commitlog.compact_s"] = tracer.span_seconds("sources.commitlog.compact") / n
    out["sources.commitlog.vacuum_s"] = tracer.span_seconds("sources.commitlog.vacuum") / n
    out["sources.readers.load_table_calls"] = cnt["sources.readers.load_table_calls"] / n
    out["sources.readers.call_s"] = tracer.span_seconds("sources.readers") / n
    out["sources.sinks.call_s"] = tracer.span_seconds("sources.sinks") / n
    out["python_path.driver_s"] = tracer.span_seconds("python_path") / n
    out.update(progress.metrics())
    return out


if __name__ == "__main__":
    sys.exit(main())
