"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark itself once per workload and trace mode
(about five minutes on four cores).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import fixture  # noqa: E402
from ops import WORKLOADS, fingerprint, observed  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_and_workload_names_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert names and all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_fixture_is_seeded_and_byte_identical(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    fixture.write_fixture(7, 0.002, a)
    fixture.write_fixture(7, 0.002, b)
    fixture.write_fixture(8, 0.002, c)
    for t in fixture.TABLES:
        with open(f"{a}/{t}.parquet", "rb") as fa, open(f"{b}/{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t
    with open(f"{a}/lineitem.parquet", "rb") as fa, open(f"{c}/lineitem.parquet", "rb") as fc:
        assert fa.read() != fc.read()


def test_times_are_net_of_steal():
    from ops import Result
    from run import Sample, steal_share

    # 100 jiffies pass, 40 of them idle: 60 busy, of which 15 stolen
    share = steal_share((5, 100, 1000), (20, 140, 1100))
    assert share == pytest.approx(0.25)
    assert steal_share((0, 0, 0), (0, 50, 50)) == 0.0  # idle throughout
    sample = Sample("q", Result(build_s=0.5, exec_s=1.5, fingerprint=(1, 1)), share)
    assert sample.net_s == pytest.approx(1.5)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    from amazonbigdata_for_students_spark.session import configure_runtime

    s = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    configure_runtime(s)
    yield s
    s.stop()


def test_fingerprint_ignores_row_and_partition_order(spark):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.col("id") % 17).alias("k"),
        (F.col("id") / 3.0).alias("x"),
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
    )
    base = fingerprint(df)
    assert fingerprint(df.repartition(7).orderBy(F.desc("x"))) == base
    assert fingerprint(df.coalesce(1)) == base
    assert fingerprint(df.filter("x < 60")) != base
    assert fingerprint(df.union(df.limit(1))) != base  # a duplicated row counts


def test_timed_q1_plan_keeps_its_aggregates(spark, tmp_path):
    """The timed frame must compute q1's sums; a bare count() would let the
    optimizer drop them, which is what this benchmark exists to avoid."""
    from amazonbigdata_for_students_spark.plans import REGISTRY

    sf_dir = str(tmp_path / "sf")
    fixture.write_fixture(1, 0.002, sf_dir)
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    timed, _obs = observed(df, "q1_pricing_summary")

    def optimized(frame) -> str:
        return frame._jdf.queryExecution().optimizedPlan().toString()

    assert optimized(timed).count("sum(") >= 4
    assert "sum(" not in optimized(df.groupBy().count())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_run_emits_every_metric(workload, trace, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
