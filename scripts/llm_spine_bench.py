#!/usr/bin/env python
"""sf100 spill-regime pass for the LLM-pipeline spine (VERDICT r8 item 8).

Times the corpus-build flagship chain at a control SF and at sf100 in ONE
session (same-session ratios only — host drift across sessions is ±20%):
corpus_build_pipeline_v7, dedup_minhash_groups -> dedup_connected_components,
shard_by_token_budget, mix_domain_budget. Prints one JSON line per fixture.

Usage: python scripts/llm_spine_bench.py [--control DIR] [--scale DIR] [--width N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPINE = [
    "dedup_minhash_groups",
    "dedup_connected_components",
    "corpus_build_pipeline_v7",
    "shard_by_token_budget",
    "mix_domain_budget",
    # r10: the other two LLM-lane band-key heavies join the watchlist so
    # every sf100 pass records their walls + spill counters too
    "mix_dedup_weighted",
    "decontaminate_minhash",
]


def run_spine(names, fixtures, app_name="llm_spine_bench") -> list[dict]:
    """Time `names` (registry keys) over each (label, sf_dir) in `fixtures`
    in ONE warm session, printing per-stage walls + spill/shuffle counters
    (UI REST API) and one JSON line per fixture. Returns the per-fixture
    result dicts so scripts/spine_gate.py can assemble the committed
    SPINE_rN.json artifact. Shared by the LLM-text, vector, and graph
    spine benches."""
    from pyspark.sql import Observation, functions as F

    from amazonbigdata_for_students_spark.plans import REGISTRY
    from amazonbigdata_for_students_spark.session import get_spark
    from bench import materialise

    spark = get_spark(app_name=app_name, extra_conf={"spark.ui.enabled": "true"})

    def _stages():
        # per-stage spill/shuffle counters via the UI REST API (VERDICT r9
        # item 4: "plausible but unproven" needs numbers, not attribution)
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        try:
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=COMPLETE"
            ) as r:
                return {s["stageId"]: s for s in _json.loads(r.read())}
        except Exception:
            # None = fetch FAILED (distinct from "no stages yet"): a
            # failed before-fetch would otherwise attribute every prior
            # stage's counters to the current query (/code-review r10)
            return None

    results: list[dict] = []
    for label, sf_dir in fixtures:
        times: dict[str, float] = {}
        rows: dict[str, int] = {}
        spills: dict[str, dict] = {}
        for name in names:
            before_raw = _stages()
            t0 = time.time()
            obs = Observation()
            materialise(  # the noop sink; rows observed in the same pass
                REGISTRY[name].fn(spark, sf_dir).observe(
                    obs, F.count(F.lit(1)).alias("rows")
                )
            )
            n = obs.get["rows"]
            rows[name] = n
            times[name] = round(time.time() - t0, 1)
            after_raw = _stages()
            rest_ok = before_raw is not None and after_raw is not None
            after = after_raw or {}
            new = (
                [after[sid] for sid in set(after) - set(before_raw)]
                if rest_ok
                else []
            )
            gb = 1024**3
            spills[name] = {
                # a failed REST fetch (either side) must never read as
                # measured-zero OR inherit prior stages' counters: the
                # spill conclusions rest on these numbers
                "rest_ok": rest_ok,
                "n_stages": len(new),
                "disk_spill_gb": round(
                    sum(s.get("diskBytesSpilled", 0) for s in new) / gb, 2
                ),
                "mem_spill_gb": round(
                    sum(s.get("memoryBytesSpilled", 0) for s in new) / gb, 2
                ),
                "shuffle_write_gb": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in new) / gb, 2
                ),
            }
            print(
                f"{label:8s} {name:32s} {times[name]:8.1f}s  {n} rows  "
                f"spill(disk/mem)={spills[name]['disk_spill_gb']}/"
                f"{spills[name]['mem_spill_gb']}GB "
                f"shufW={spills[name]['shuffle_write_gb']}GB "
                f"({spills[name]['n_stages']} stages)",
                file=sys.stderr,
                flush=True,
            )
        rec = {
            "fixture": sf_dir,
            "label": label,
            "total_sec": round(sum(times.values()), 1),
            "stages": times,
            "rows": rows,
            "spills": spills,
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--control", default="/root/testdata/sf0.1")
    ap.add_argument("--scale", default=".localdata/sf100")
    ap.add_argument("--width", default=None, help="shuffle partitions override")
    args = ap.parse_args()
    if args.width:
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = args.width
    run_spine(SPINE, [("control", args.control), ("scale", args.scale)])


if __name__ == "__main__":
    main()
