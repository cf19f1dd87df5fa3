#!/usr/bin/env python
"""One-query fresh-session probe: wall + spill/shuffle counters.

Usage: python scripts/probe_one.py <query> <sf_dir> [reps]

Spawns nothing; runs in THIS process with a fresh SparkSession, using the
same timed action as the spine harness (the ``noop`` sink) so numbers
are comparable. Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from llm_spine_bench import run_spine  # noqa: E402


def main() -> None:
    name, sf_dir = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    res = run_spine([name] * 1, [(f"rep{i}", sf_dir) for i in range(reps)],
                    app_name=f"probe_{name}")
    print(json.dumps({
        "query": name,
        "walls": [r["stages"][name] for r in res],
        "spills": [r["spills"][name] for r in res],
    }))


if __name__ == "__main__":
    main()
