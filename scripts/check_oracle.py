#!/usr/bin/env python
"""Dev loop: run every registered query against its DuckDB oracle at sf0.01
(the same comparison the driver's correctness gate performs). Usage:

    python scripts/check_oracle.py [--parallel N] [--sf DIR] [query-name-substring ...]

--sf DIR points the comparison at another scale-factor directory (e.g.
.localdata/sf1 from gen_sf.py) — the round checklist's sf1 smoke runs the
top scale-sensitive names there, catching latent scale bugs that sf0.01
gating can hide (the r5 stream_static_refresh lesson).

--parallel N runs side-effect-free queries through a thread pool of N
workers sharing the SparkSession (concurrent job submission is supported;
each worker gets its own DuckDB cursor). Queries that mutate session state
(conf toggles, catalog tables, streaming runs, on-disk fixture caches) are
detected by source inspection (of the query and of the package helpers it
calls by name) and always run serially afterwards — their
semantics assume exclusive use of the session.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import inspect
import sys
import textwrap
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, ".")

from amazonbigdata_for_students_spark.plans import REGISTRY
from amazonbigdata_for_students_spark.session import get_spark
from amazonbigdata_for_students_spark.testing import compare_query, duckdb_connect

SF_DIR = "/root/testdata/sf0.01"

# Source markers that make a query unsafe to run concurrently with others
# on a shared session: global conf flips, catalog/table mutation, streaming
# queries (checkpoint + state dirs), and on-disk fixture builds.
_SERIAL_MARKERS = (
    "spark.conf.set",
    "writeStream",
    "foreachBatch",
    "saveAsTable",
    "refreshTable",
    "refreshByPath",
    "_fixture",
    "shutil.rmtree",
    "createOrReplaceTempView",
)
# Helpers whose markers are safe to share: table_schema sets the same two
# read confs to the same constants on every call, and every load calls it.
_SERIAL_SAFE = ("table_schema",)


def _callees(fn, src: str):
    """Package functions that ``fn``'s source calls by bare name: module
    globals, and names a function-local ``from ... import`` brings in."""
    pkg = fn.__module__.partition(".")[0]
    for node in ast.walk(ast.parse(textwrap.dedent(src))):
        if isinstance(node, ast.Name):
            objs = [fn.__globals__.get(node.id)]
        elif isinstance(node, ast.ImportFrom):
            mod = importlib.import_module(
                "." * node.level + (node.module or ""), fn.__module__.rpartition(".")[0]
            )
            objs = [getattr(mod, a.name, None) for a in node.names]
        else:
            continue
        for obj in objs:
            if (
                inspect.isfunction(obj)
                and obj.__module__.partition(".")[0] == pkg
                and obj.__name__ not in _SERIAL_SAFE
            ):
                yield obj


def _needs_serial(q) -> bool:
    """True when the query's own function, or any package function it
    reaches by name, carries a serial marker. The walk starts at the
    registered function, and follows helpers because most streaming
    queries reach writeStream only through a drain."""
    todo = [q.fn]
    seen = set()
    while todo:
        fn = todo.pop()
        if fn in seen:
            continue
        seen.add(fn)
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            return True
        if any(m in src for m in _SERIAL_MARKERS):
            return True
        todo.extend(_callees(fn, src))
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parallel", type=int, default=1, metavar="N")
    ap.add_argument("--sf", default=SF_DIR, metavar="DIR")
    ap.add_argument("filters", nargs="*")
    args = ap.parse_args()

    sf_dir = args.sf
    spark = get_spark(cpus=8)
    con = duckdb_connect(sf_dir)
    names = [
        n for n in REGISTRY if not args.filters or any(f in n for f in args.filters)
    ]
    t_start = time.time()
    results: dict[str, tuple[bool, float, str]] = {}

    def run_one(name: str, cursor) -> None:
        t0 = time.time()
        try:
            res = compare_query(spark, REGISTRY[name], sf_dir, cursor)
            results[name] = (res.ok, time.time() - t0, res.detail)
        except Exception as exc:  # noqa: BLE001 — dev tool, report and continue
            results[name] = (False, time.time() - t0, f"{type(exc).__name__}: {exc}")

    if args.parallel > 1:
        par = [n for n in names if not _needs_serial(REGISTRY[n])]
        ser = [n for n in names if n not in set(par)]
        with ThreadPoolExecutor(max_workers=args.parallel) as pool:
            futs = [pool.submit(run_one, n, con.cursor()) for n in par]
            for f in futs:
                f.result()
    else:
        par, ser = [], names

    for name in ser:
        run_one(name, con)

    failures = 0
    for name in names:
        ok, dt, detail = results[name]
        if not ok:
            failures += 1
        print(f"{'ok  ' if ok else 'FAIL'} {name:32s} {dt:6.2f}s  {detail}")
    print(
        f"\n{len(names) - failures}/{len(names)} queries match "
        f"({time.time() - t_start:.0f}s wall, {len(par)} parallel + {len(ser)} serial)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
