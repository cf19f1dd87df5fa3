"""Driver-contract shape tests: entry/queries/oracle_sql."""

from __future__ import annotations

import os

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    # every oracle key is a query; non-oracle queries are the documented few
    assert set(oracles) <= set(qs)
    rows_only = set(qs) - set(oracles)
    for name in rows_only:
        assert name in qs


ALL_SURVEY_OPS = frozenset(
    [f"S{i}" for i in range(1, 12)]
    + [f"P{i}" for i in range(1, 7)]
    + [f"J{i}" for i in range(1, 11)]
    + [f"A{i}" for i in range(1, 10)]
    + [f"W{i}" for i in range(1, 5)]
    + [f"O{i}" for i in range(1, 4)]
    + [f"E{i}" for i in range(1, 4)]
    + [f"F{i}" for i in range(1, 9)]
    + [f"T{i}" for i in range(1, 9)]
    + [f"U{i}" for i in range(1, 7)]
)


def _driver_green_names():
    """One implementation: the window computation and this test must agree
    on what counts as evidence (ADVICE r4: fully green only)."""
    from amazonbigdata_for_students_spark.plans import driver_green_names

    return driver_green_names()


def test_priority_prefix_covers_all_operators():
    """The driver verifies the first 50 registry entries per round. The window
    rotates (round 4+) to accumulate external evidence over the whole
    registry, so the invariant is CUMULATIVE: queries already driver-green in
    past rounds plus the current window must set-cover every SURVEY.md §2
    operator id (VERDICT r1+r2 item 1)."""
    from amazonbigdata_for_students_spark.plans import DRIVER_PRIORITY, REGISTRY

    assert len(ALL_SURVEY_OPS) == 68
    first50 = list(REGISTRY)[:50]
    assert first50 == list(DRIVER_PRIORITY)[:50]
    evidence = _driver_green_names() | set(first50)
    covered = {tag for name in evidence if name in REGISTRY for tag in REGISTRY[name].tags}
    assert ALL_SURVEY_OPS <= covered, f"uncovered ops: {sorted(ALL_SURVEY_OPS - covered)}"


def test_priority_prefix_is_oracle_backed_and_fresh():
    """Every window slot must carry a DuckDB oracle (hash-checkable by the
    driver), and the rotation must spend slots on queries without prior
    driver evidence — at most a handful of repeats are tolerated."""
    import __spark_entry__ as em

    from amazonbigdata_for_students_spark.plans import DRIVER_PRIORITY

    from amazonbigdata_for_students_spark.plans import REGISTRY

    oracles = em.oracle_sql()
    missing = [n for n in DRIVER_PRIORITY if n not in oracles]
    assert not missing, f"window entries without oracle: {missing}"
    green = _driver_green_names()
    repeats = [n for n in DRIVER_PRIORITY if n in green]
    # Self-rotating window: repeats are allowed only once the unseen pool
    # is smaller than the window (then padding re-verifies greens).
    unseen_pool = sum(1 for n in REGISTRY if n not in green)
    allowed = max(0, len(DRIVER_PRIORITY) - unseen_pool)
    assert len(repeats) <= max(5, allowed), (
        f"window wastes slots on already-green queries: {repeats}"
    )


def test_query_callables_run(spark, sf_small):
    qs = entrymod.queries()
    # spot-run one query per family through the public contract
    for name in ("q1_pricing_summary", "win_topn_per_group", "txt_token_stats", "vec_cosine_topk"):
        df = qs[name](spark, sf_small)
        assert df.count() >= 0


def test_cli_list_and_check(spark, capsys):
    # The CLI surfaces the same registry: list needs no session; check
    # runs the oracle compare in-process against the active session.
    from amazonbigdata_for_students_spark import cli

    assert cli.main(["list", "q1_"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "sql-oracle" in out

    from .conftest import SF_SMALL

    width_before = spark.conf.get("spark.sql.shuffle.partitions")
    assert cli.main(["check", "q1_pricing_summary", "--sf", SF_SMALL]) == 0
    out = capsys.readouterr().out
    assert "1/1 match" in out
    # Embedded use must NOT clobber the host session's parallelism — a
    # builder.getOrCreate() with our defaults would silently set 32 here
    # (that leak once broke an AQE plan-shape test downstream).
    assert spark.conf.get("spark.sql.shuffle.partitions") == width_before

    assert cli.main(["run", "no_such_query"]) == 2


def test_window_rotation_mechanics():
    """The self-rotating window must (a) skip queries with green evidence,
    (b) follow the curated rotation order, and (c) pad with greens only
    when the unseen pool is exhausted."""
    from amazonbigdata_for_students_spark.plans import (
        DRIVER_PRIORITY,
        REGISTRY,
        _ROTATION_ORDER,
        _compute_window,
    )

    # (a)/(b): greening the current window's first 10 rotates them out and
    # pulls the next 10 unseen entries in, preserving relative order.
    base = _compute_window(green=set())
    greened = set(base[:10])
    rotated = _compute_window(green=greened)
    assert not (set(rotated) & greened)
    assert list(rotated[:40]) == list(base[10:])
    # (c): with everything green, the window pads by re-verifying from the
    # top of the rotation order.
    full = _compute_window(green=set(REGISTRY))
    assert len(full) == len(DRIVER_PRIORITY)
    assert list(full) == [n for n in _ROTATION_ORDER if n in REGISTRY][: len(full)]


def _load_gen_coverage():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_coverage",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "gen_coverage.py"),
    )
    gc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gc)
    return gc


def test_coverage_md_in_sync_with_registry():
    """COVERAGE.md went one round stale in r6 (VERDICT hygiene slip): it
    is generated, so staleness must be impossible. Restructured per
    VERDICT r9 item 1: the check is gen_coverage.validate(), whose
    committed-file-count rule is `<=` on-disk (a driver CORRECTNESS drop
    AFTER the builder's final regen is expected, not staleness) while
    registry drift and table-body drift from the committed prefix's own
    snapshot still fail red."""
    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "COVERAGE.md")) as f:
        text = f.read()
    problems = _load_gen_coverage().validate(text, root)
    assert not problems, (
        "COVERAGE.md stale — run: python scripts/gen_coverage.py > COVERAGE.md\n"
        + "\n".join(problems)
    )


def test_coverage_guard_tolerates_post_final_correctness_drop(tmp_path):
    """Regression for the r8/r9/r10 structural reds: simulate the driver
    dropping CORRECTNESS_r{N+1}.json (one or MORE) after the builder's
    last regen. The guard must stay green for any number of post-final
    drops, and go red only when the committed header claims MORE files
    than exist (true staleness / hand-edit). VERDICT r10 item 1: the old
    simulation deleted exactly one file, which landed back ON the header
    count whenever the driver had already dropped an extra file — make
    the deletion count derive from the committed header so the red leg
    always goes strictly below it."""
    import glob
    import json
    import re
    import shutil

    root = os.path.join(os.path.dirname(__file__), "..")
    gc = _load_gen_coverage()
    with open(os.path.join(root, "COVERAGE.md")) as f:
        text = f.read()
    m = re.search(r"parsed from (\d+) CORRECTNESS files", text)
    assert m, "COVERAGE.md driver-verdict header missing"
    n_committed = int(m.group(1))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert len(files) >= n_committed >= 1, (
        f"on-disk CORRECTNESS files ({len(files)}) fewer than the committed "
        f"header count ({n_committed}) — the real tree is already stale"
    )
    for p in files:
        shutil.copy(p, tmp_path / os.path.basename(p))
    assert gc.validate(text, str(tmp_path)) == []
    # Post-final driver drops: ANY number of files beyond the header's
    # count must be tolerated (the driver appends r{N+1}, r{N+2}, ...).
    for rn in (97, 98, 99):
        (tmp_path / f"CORRECTNESS_r{rn}.json").write_text(
            json.dumps({"q1_pricing_summary": {
                "rows_match": True, "schema_match": True, "hash_match": True,
                "spark_rows": 4, "oracle_rows": 4, "err": None}})
        )
        assert gc.validate(text, str(tmp_path)) == [], (
            "guard must tolerate newer driver CORRECTNESS drops"
        )
    # True staleness: strictly fewer files on disk than the header claims.
    # Delete from the end until we are one BELOW the committed count —
    # invariant to how many post-final drops the real tree carries.
    remaining = sorted(tmp_path.glob("CORRECTNESS_r*.json"))
    for p in remaining[n_committed - 1:]:
        p.unlink()
    assert len(list(tmp_path.glob("CORRECTNESS_r*.json"))) == n_committed - 1
    assert any(
        "exist on disk" in p for p in gc.validate(text, str(tmp_path))
    ), "guard must fail when the committed header overstates the file count"


def test_plans_md_in_sync_with_showcase():
    """PLANS.md is generated from scripts/gen_plans.py's SHOWCASE dict; the
    r6 continuation hand-appended four sections without updating the
    generator and a later regen silently dropped them. Guard both ways:
    every SHOWCASE key has a section, every section has a SHOWCASE key."""
    import importlib.util
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    spec = importlib.util.spec_from_file_location(
        "gen_plans", os.path.join(root, "scripts", "gen_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(root, "PLANS.md")) as f:
        sections = set(re.findall(r"^## (\S+)", f.read(), re.M))
    assert sections == set(mod.SHOWCASE), (
        f"PLANS.md vs SHOWCASE drift: only-in-md={sorted(sections - set(mod.SHOWCASE))} "
        f"only-in-showcase={sorted(set(mod.SHOWCASE) - sections)} — "
        "run: python scripts/gen_plans.py > PLANS.md"
    )


# Every SPARK_GRAFT_* environment option the package reads. CPUS,
# DRIVER_MEM and SHUFFLE_PARTITIONS are set by the benchmark and the
# spine scripts; the AUDIT pair by tests and scripts/vec_spine_bench.py.
# A new option must be added here on purpose, with a caller that sets it.
_ALLOWED_ENV_OPTIONS = frozenset(
    {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_AUDIT_UNFENCED",
        "SPARK_GRAFT_AUDIT_MAX_ROWS",
    }
)


def test_package_env_options_are_fenced():
    import pathlib
    import re

    pkg = pathlib.Path(entrymod.__file__).parent / "amazonbigdata_for_students_spark"
    found = {
        name
        for path in pkg.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text())
    }
    assert found == _ALLOWED_ENV_OPTIONS


def test_check_oracle_runs_every_stream_query_serially():
    """``check_oracle.py --parallel`` must keep streaming queries (most of
    which reach writeStream through a drain helper) off the thread pool,
    and still run a plain read in it."""
    import importlib.util

    from amazonbigdata_for_students_spark.plans import REGISTRY

    spec = importlib.util.spec_from_file_location(
        "check_oracle",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "check_oracle.py"),
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    streams = [n for n in REGISTRY if "stream_" in n]  # the `stream_` filter
    assert len(streams) == 36
    assert [n for n in streams if not co._needs_serial(REGISTRY[n])] == []
    # source-fixture builders (clear + build under the cache lock)
    builders = ["src_jsonl_scan", "mm_binary_file_scan", "join_bucketed_colocated"]
    assert [n for n in builders if not co._needs_serial(REGISTRY[n])] == []
    assert not co._needs_serial(REGISTRY["q1_pricing_summary"])


def test_each_source_fixture_name_has_one_builder():
    """Each source-fixture cache name is built by one function: every
    name literal handed to ``sources_ops._fixture`` (or to
    ``batch_twins._json_replay``, which hands it on) appears in a single
    top-level function, and queries that share a layout call that
    function. delete_propagate_rewrite's invalidate-and-rebuild is a
    second call inside its one builder."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "amazonbigdata_for_students_spark"
    builders: dict[str, set[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and getattr(node.func, "id", None) in (
                    "_fixture",
                    "_json_replay",
                ):
                    for a in node.args:
                        if isinstance(a, ast.Constant) and isinstance(a.value, str):
                            builders.setdefault(a.value, set()).add(f"{path.name}:{fn.name}")
    assert len(builders) >= 20, sorted(builders)
    assert {n: b for n, b in builders.items() if len(b) > 1} == {}
