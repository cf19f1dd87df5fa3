#!/usr/bin/env python
"""Benchmark headline queries; prints ONE JSON line for the driver.

Runs every registry entry marked bench=True at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is
fully materialised into Spark's ``noop`` sink, which computes every output
column, so the measured time covers scan → shuffle → result, not plan
construction. A ``df.count()`` would let Catalyst prune the work behind it
(q1 drops all eight decimal aggregates).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazonbigdata_for_students_spark.plans import REGISTRY
from amazonbigdata_for_students_spark.session import get_spark


def materialise(df) -> None:
    """Execute ``df`` to its full result and discard it: the timing sink."""
    df.write.format("noop").mode("overwrite").save()


def _best_of(run, n: int, best: float = float("inf")) -> float:
    for _ in range(n):
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return best


def _host_facts() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "spark": pyspark.__version__,
    }


def _assert_idle(max_wait: float = 480.0) -> tuple[float, float, bool]:
    """Idle-box assertion for ``--isolated`` runs: a committed BENCH
    artifact must measure the ENGINE, not concurrent session load (r8:
    committed 7.14 s under gate load vs 6.74 s on the same plans idle).
    Polls the 1-minute loadavg until it falls under max(0.5, 0.02*ncpu)
    or ``max_wait`` elapses; returns (loadavg, threshold, ok).

    VERDICT r9 item 3 tightened the threshold from max(1.0, 0.05*ncpu):
    the r9 artifact passed at loadavg 1.50 (threshold 1.6 on 32 CPUs)
    yet read 24% above the judge's idle re-run. 0.02*ncpu = 0.64 here,
    and the 1-minute loadavg decays slowly (e^(-t/60)), so the wait
    budget doubled to 480 s to let a post-gate box actually settle."""
    ncpu = os.cpu_count() or 1
    threshold = max(0.5, 0.02 * ncpu)
    deadline = time.time() + max_wait
    load = os.getloadavg()[0]
    while load > threshold and time.time() < deadline:
        time.sleep(10)
        load = os.getloadavg()[0]
    return load, threshold, load <= threshold


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # Isolation is the DEFAULT (VERDICT r8 item 3: the committed r8
    # artifact was measured under concurrent verification load). Opt out
    # with --no-isolated / SPARK_GRAFT_BENCH_ISOLATED=0 for iterative
    # local runs where the wait is unwanted.
    isolated = (
        "--no-isolated" not in sys.argv[1:]
        and os.environ.get("SPARK_GRAFT_BENCH_ISOLATED", "1") != "0"
    )
    idle_info = None
    if isolated:
        # Fresh-JVM is inherent to the CLI (each invocation builds its own
        # SparkSession); the assertion below adds the other half of the
        # protocol — refuse to stamp numbers measured on a loaded box.
        max_wait = 480.0
        load, thr, ok = _assert_idle(max_wait)
        idle_info = {
            "load_1m_at_start": round(load, 2),
            "idle_threshold": round(thr, 2),
            "idle_assertion": "ok" if ok else "FAILED",
        }
        if not ok:
            print(
                f"bench --isolated: box not idle (load {load:.2f} > {thr:.2f})"
                f" after {max_wait:.0f}s wait; numbers below inherit that load",
                file=sys.stderr,
            )
    spark = get_spark(app_name="bench")

    # Name-sorted so run order is pinned regardless of registry rotation —
    # the round-4 DRIVER_PRIORITY reorder shifted warm-up order enough to
    # drift vec_cosine_topk by 1.17x (VERDICT r4 item 7).
    bench = {n: REGISTRY[n] for n in sorted(REGISTRY) if REGISTRY[n].bench}
    # Full untimed warmup pass: JIT, parquet footers, and page cache all
    # settle so the timed pass measures the queries, not JVM warmup order.
    for q in bench.values():
        materialise(q.fn(spark, sf_dir))

    # Min of three timed runs per query: the min is the right estimator for
    # "how fast does this plan run" — it sheds GC pauses and co-located
    # load noise that the mean would absorb. Isolated (artifact-of-record)
    # runs take min over TWO full suite passes (VERDICT r9 item 3): a load
    # transient that straddles one pass cannot inflate the committed JSON.
    times: dict[str, float] = {}
    suite_passes = 2 if isolated else 1
    for _ in range(suite_passes):
        for name, q in bench.items():
            times[name] = _best_of(
                lambda: materialise(q.fn(spark, sf_dir)), 3, times.get(name, float("inf"))
            )
    times = {n: round(t, 3) for n, t in times.items()}

    total = round(sum(times.values()), 3)
    result = {
        "metric": "bench_headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "host": _host_facts(),
    }
    if idle_info is not None:
        result["isolated"] = idle_info

    # Optional scaling sanity (VERDICT r2 item 8): SPARK_GRAFT_BENCH_SCALE=N
    # re-times the suite on an Nx key-shifted replica so scale claims are
    # measured, not argued. Off by default — the driver contract stays one
    # line either way; the scale numbers ride in the same JSON object.
    scale_n = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "0") or 0)
    if scale_n > 1:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "scale_check",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts", "scale_check.py"),
        )
        sc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sc)
        dst = f"/tmp/scale_{os.path.basename(os.path.normpath(sf_dir))}_x{scale_n}"
        sc.build_replica(spark, sf_dir, dst, scale_n)
        for q in bench.values():
            materialise(q.fn(spark, dst))  # warm
        scale_times = {
            name: round(_best_of(lambda: materialise(q.fn(spark, dst)), 2), 3)
            for name, q in bench.items()
        }
        result[f"scale_x{scale_n}"] = {
            "total_sec": round(sum(scale_times.values()), 3),
            "queries": scale_times,
        }

    # Streaming throughput leg (VERDICT r7 item 6): rows/sec through the
    # three stateful shapes (tumbling agg / dedup / alert-once) via the
    # deterministic rate-micro-batch source — measures the ENGINE's
    # capacity, not an offered rate. ~30s; SPARK_GRAFT_BENCH_STREAMING=0
    # skips. Regression envelope: JVM shapes have run 1.9-2.4M rows/s,
    # the Python stateful path 85-110k rows/s on this host (BASELINE.md
    # r8); treat >1.5x drift vs the same-session JVM shapes as a
    # regression, not absolute walls (host drift is ±20%).
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        from amazonbigdata_for_students_spark.streaming.throughput import measure_all

        result["streaming"] = measure_all(spark)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
