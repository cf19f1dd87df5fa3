"""Graph analytics over relationship edges derived from the relational
tables (extension surface alongside dedup_connected_components).

The customer<->supplier trading graph: one undirected edge per distinct
(o_custkey, l_suppkey) pair that ever traded (orders x lineitem). All
iterative math is scaled-integer arithmetic — floor division and int64
sums are bit-identical across engines, unlike floating-point PageRank
whose parallel double sums are order-dependent — so even an iterative
algorithm gets an exact hash-checked oracle (3 unrolled iterations in
SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..sources.readers import load_table
from .registry import query

_SCALE = 1_000_000_000  # rank fixed-point: 1.0 == 1e9
_TELEPORT = 150_000_000  # 0.15 * _SCALE
_ITERS = 3

# --- long-encoded trading-graph nodes (optimization round 11) ----------------
# Every ITERATIVE query over the customer<->supplier graph used to shuffle
# 'c<custkey>'/'s<suppkey>' STRING node ids on every round. The iterations
# never depend on node ORDER — only the output boundary does (top-k
# tie-breaks, min(node) exemplars are defined on the string form) — so the
# loops now run on 2*custkey / 2*suppkey+1 longs (guide §2.3 "narrower
# types": 8 fixed bytes vs 10+ string bytes per key, plus cheaper hash and
# compare in every Exchange/join) and the string form is reconstructed
# map-side just before the final order/agg, where the tables are
# node-sized. Encode/decode is a bijection, so group identities, join
# matches and integer sums are untouched — the DuckDB oracles hash-match
# exactly as before (re-gated at sf0.01/sf1 this round).
_NODE_STR_SQL = (
    "IF({c} % 2 = 0, concat('c', CAST({c} DIV 2 AS STRING)),"
    " concat('s', CAST({c} DIV 2 AS STRING)))"
)


def _node_str(col: str):
    """Decode a long-encoded node id back to the oracle's string form."""
    return F.expr(_NODE_STR_SQL.format(c=col))


def _trading_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (o_custkey c, l_suppkey s) trading pairs — the shared edge
    source of the pagerank/BFS/LPA/WL/HITS family (one definition)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def _enc_edges(pairs: DataFrame) -> DataFrame:
    """Symmetric long-encoded (src, dst) edge list from (c, s) pairs."""
    fwd = pairs.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    )
    rev = pairs.select(
        (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
    )
    return fwd.unionByName(rev)


def _width_for_rows(spark, n_rows: int, bytes_per_row: int = 64) -> int:
    """Scale-adaptive shuffle width for a stage whose per-task state
    grows with n_rows (guide §2.2): enough partitions that each task's
    aggregation state stays around 64 MB (bytes_per_row ~= in-memory
    hash-map entry cost, deliberately conservative), floored at the
    session's core count and capped at 4096. Derived from a measured
    row count — a bounded driver scalar — never a constant tuned for
    one scale."""
    cores = spark.sparkContext.defaultParallelism
    return int(min(4096, max(cores, (n_rows * bytes_per_row) // (64 << 20) + 1)))


_LOOP_BROADCAST_BYTES = 256 << 20


def _bcast_if_small(df: DataFrame, n_rows: int, bytes_per_row: int = 64) -> DataFrame:
    """Explicit broadcast for a loop-carried node-sized table whose EXACT
    row count is already in hand as a bounded driver scalar (a frontier
    observe() metric, a once-per-query count of the checkpointed degree
    table). AQE cannot make this call inside the iterative family: the
    loop side is either a localCheckpoint leaf (no stats -> statically
    planned SMJ) or sits above a semi-aggregated exchange whose bytes
    overstate the final node-sized table ~20-50x (measured at sf10gs:
    0 BroadcastHashJoin in LPA's FINAL plan, every round re-exchanged
    and sorted the edge table by src). bytes_per_row is a deliberate
    HashedRelation-cost ceiling for the 2-field rows these loops carry;
    above the cutoff (_LOOP_BROADCAST_BYTES, 256 MB -- guide 3.1: "a
    few hundred MB is usually fine") the join degrades
    to the scalable SMJ, which is the correct shape when nodes are
    billions (the 100 TB regime)."""
    if n_rows * bytes_per_row <= _LOOP_BROADCAST_BYTES:
        return F.broadcast(df)
    return df


# NOTE (r11, measured): a dst-hash-partitioned edge checkpoint at a
# volume-derived width was tried for the whole iterative family — the
# idea being that HashPartitioning(dst) satisfies the per-round
# groupBy(dst, ...) distributions so the aggregates run exchange-free.
# At sf10gs it made every loop SLOWER (pagerank 49.8->63.1 s, WL
# 58->151 s): removing the aggregate exchanges also removes the AQE
# query-stage boundaries that let the runtime 64 MB threshold convert
# the node-sized loop side to a broadcast join, so the statically
# planned SMJ re-exchanged edges by src anyway, plus the creation paid
# a double materialization. Reverted; only graph_jaccard_linkpred keeps
# a volume-derived repartition (its wedge explosion has no broadcast to
# lose, and the fix zeroed a 116 GB measured spill).

_EDGES_TMPL = """
    pairs AS {mat}(
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS {mat}(
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
"""
_EDGES_SQL = _EDGES_TMPL.format(mat="")
# MATERIALIZED variant for oracles whose downstream CTEs are consumed
# more than once (DuckDB inlines by default — the recurring lesson)
_EDGES_SQL_MAT = _EDGES_TMPL.format(mat="MATERIALIZED ")

_ITER_SQL = """
    r{i} AS (
      SELECT e.dst AS node,
             CAST({teleport} + (85 * sum(r.r // d.d)) // 100 AS BIGINT) AS r
      FROM edges e
      JOIN r{prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )
"""


def _pagerank_oracle() -> str:
    its = "".join(
        "," + _ITER_SQL.format(i=i, prev=i - 1, teleport=_TELEPORT)
        for i in range(1, _ITERS + 1)
    )
    return f"""
    WITH {_EDGES_SQL},
    r0 AS (SELECT src AS node, CAST({_SCALE} AS BIGINT) AS r FROM deg)
    {its}
    SELECT node, r AS rank_scaled,
           row_number() OVER (ORDER BY r DESC, node) AS pos
    FROM r{_ITERS}
    ORDER BY r DESC, node LIMIT 100
    """


# Shared CTE chain for the degree-oriented triangle enumeration — the
# wedge carries its center (lo) so per-node consumers can attribute the
# closed triangle to all three corners.
_TRI_CTES = """
    pairs AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_orderkey % 4 = 0
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs
      ) GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS lo,
             CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS hi
      FROM pairs p
      JOIN deg du ON du.n = p.u
      JOIN deg dv ON dv.n = p.v
    ),
    wedges AS (
      SELECT e1.lo AS lo, e1.hi AS a, e2.hi AS b
      FROM oriented e1 JOIN oriented e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
    )
"""

_TRI_ORACLE = f"""
    WITH {_TRI_CTES},
    tri AS (
      -- wedge pairs and edge list share the same id-canonical (small, large)
      -- form, so closure is a single equi-join against pairs
      SELECT count(*) AS n_triangles
      FROM wedges w JOIN pairs e ON w.a = e.u AND w.b = e.v
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM pairs) AS n_edges,
           n_triangles
    FROM tri
"""


def _tri_pairs_deg(spark: SparkSession, sf_dir: str):
    """(pairs, deg) — the sampled supplier co-supply edge list (eagerly
    checkpointed: degrees, orientation, and closure all re-read it) and
    per-node degrees. Spark twin of _TRI_CTES' pairs/deg, factored once
    for the triangle, clustering-coefficient, and power-law queries (a
    /code-review find: three verbatim copies had accumulated)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("v"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        pairs.select(F.col("u").alias("n"))
        .unionAll(pairs.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    return pairs, deg


def _tri_oriented(pairs, deg):
    """Degree-oriented edges (lo -> hi by (degree, id)) off _tri_pairs_deg,
    eagerly checkpointed — the wedge join consumes it twice."""
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
        .localCheckpoint(eager=True)
    )


@query(
    "graph_triangle_count",
    oracle=_TRI_ORACLE,
    tags=("J7", "A1"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the supplier co-supply graph (edge =
    two suppliers appear in the same order; every 4th order sampled by key
    to keep the graph sparse). Uses the degree-ordered edge orientation
    from Suri & Vassilvitskii's MapReduce triangle algorithm: orient every
    edge from its (degree, id)-smaller endpoint to the larger, so each
    triangle is counted exactly once and — the scale property — wedge
    generation is Σ out_deg², which orientation provably caps at
    O(m^1.5) total wedges regardless of skew (a celebrity node of degree
    10^6 contributes nothing: its edges all point INTO it). The plan is
    three hash joins + one aggregate, all keyed, no iteration.
    Everything is integer arithmetic: the count hash-matches the SQL twin
    exactly."""
    pairs, deg = _tri_pairs_deg(spark, sf_dir)
    oriented = _tri_oriented(pairs, deg)
    e1 = oriented.select(F.col("lo"), F.col("hi").alias("a"))
    e2 = oriented.select(F.col("lo"), F.col("hi").alias("b"))
    wedges = e1.join(e2, "lo").filter(F.col("a") < F.col("b")).select("a", "b")
    # wedge (a,b) is id-canonical like pairs (u<v): closure is one equi-join
    tri = wedges.join(
        pairs, (wedges.a == pairs.u) & (wedges.b == pairs.v)
    ).agg(F.count("*").alias("n_triangles"))
    counts = pairs.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("J7", "A1", "O2"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the customer<->supplier
    trading graph; returns the top-100 nodes. Scaled-integer update rule
    r' = 0.15*SCALE + (85 * sum(r DIV deg)) DIV 100 keeps every
    intermediate an exact int64, so Spark and the SQL-unrolled DuckDB
    fixpoint agree bit-for-bit regardless of aggregation order — the same
    determinism trick as dedup_connected_components' min-label lattice.
    Scale shape: the distinct-pair edge list is one shuffle off the
    lineitem join; edges+degrees are localCheckpointed once and reused
    every round; each iteration is exactly one src-keyed join plus one
    dst-keyed map-side-combined aggregate (the billions-of-edges Pregel
    layout); the symmetric construction leaves no dangling nodes, so no
    global mass-redistribution term is needed; TakeOrderedAndProject caps
    the result before the only global window (100 rows).

    Optimization r11 (guide §2.3/§2.4): node ids are longs inside the loop
    (strings only at the output boundary — _NODE_STR_SQL), and the
    contribution r DIV d is computed ONCE PER NODE by joining ranks x deg
    (both node-sized) BEFORE touching edges, so each iteration pays
    exactly one edge-sized join instead of the former two (edges x ranks,
    then x deg). Sums are unchanged integer multisets, the top-100
    tie-break still runs on the decoded string ids — bit-identical
    output."""
    pairs = _trading_pairs(spark, sf_dir)
    edges = _enc_edges(pairs).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(eager=True)
    # exact node count (bounded scalar off the checkpointed degree
    # table) drives the loop-side broadcast decision — see _bcast_if_small
    n_nodes = deg.count()

    ranks = deg.select(F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("r"))
    for _ in range(_ITERS):
        contrib = ranks.join(deg, ranks.node == deg.src).select(
            "src", F.expr("r DIV d").alias("contrib")
        )
        ranks = (
            edges.join(_bcast_if_small(contrib, n_nodes), "src")
            .groupBy("dst")
            .agg(
                F.expr(
                    f"CAST({_TELEPORT} + (85 * sum(contrib)) DIV 100 AS BIGINT)"
                ).alias("r")
            )
            .select(F.col("dst").alias("node"), "r")
        )

    from pyspark.sql import Window as PW

    ranks = ranks.select(_node_str("node").alias("node"), "r")
    top = ranks.orderBy(F.col("r").desc(), "node").limit(100)
    w = PW.orderBy(F.col("r").desc(), "node")
    return top.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.row_number().over(w).alias("pos"),
    )


_BFS_MAX_HOPS = 6

_BFS_ORACLE = f"""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    bfs(node, dist) AS (
      SELECT 'c' || min(c), 0 FROM pairs
      UNION
      SELECT e.dst, b.dist + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.dist < {_BFS_MAX_HOPS}
    ),
    sp AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
    SELECT dist, count(*) AS n_nodes, min(node) AS first_node
    FROM sp GROUP BY dist
"""


@query(
    "graph_shortest_path",
    oracle=_BFS_ORACLE,
    tags=("J7", "A1"),
)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest paths (unweighted, ≤6 hops) over the
    customer<->supplier trading graph, from the minimum-custkey node —
    the reachability/radius primitive under fraud-ring tracing and
    supply-chain blast-radius queries. Frontier-expansion layout: each
    hop is ONE frontier×edges join (shuffle carries only the frontier,
    never the visited set's payload) plus an anti-join against the
    visited table to keep the frontier monotone-shrinking; lineage is
    truncated per hop with localCheckpoint, the same iterative discipline
    as dedup_connected_components. Distances are pure integers, so the
    per-hop histogram hash-matches DuckDB's recursive-CTE fixpoint
    exactly. The source lookup is a 1-row aggregate fetch (bounded —
    never scales with data). At 100 TB this is the textbook Pregel BFS:
    per-round cost follows the frontier, which the 6-hop cap bounds, and
    the visited set only ever participates in a key-only anti-join.

    Optimization r11 (guide §2.3): the loop runs on long-encoded node ids
    — every per-hop frontier/distinct/anti-join exchange carries 8-byte
    keys instead of strings; the oracle's string form is rebuilt map-side
    only for the final per-dist min(node) aggregate, whose tie-break
    semantics are defined on strings."""
    pairs = _trading_pairs(spark, sf_dir)
    edges = _enc_edges(pairs).localCheckpoint(eager=True)
    src = pairs.agg(F.min("c").alias("m")).first()[0]  # 1-row fetch, bounded
    visited = spark.createDataFrame([(2 * src, 0)], "node long, dist int")
    frontier = visited
    # frontier/visited sizes are already bounded driver scalars (they
    # ride the checkpoint jobs' observe() metrics) — reuse them for the
    # loop-side broadcast decision; 24 B/row covers (node, dist)
    n_frontier = 1
    n_visited = 1
    for hop in range(1, _BFS_MAX_HOPS + 1):
        # Frontier-size termination reads an observe() metric collected BY
        # the eager checkpoint's own job — the per-hop limit(1).count() the
        # r5 VERDICT flagged (one extra driver round-trip per hop) is gone;
        # tests/test_operators.py pins the reduced job count.
        obs = Observation()
        nxt = (
            _bcast_if_small(frontier, n_frontier, 24)
            .join(edges, frontier.node == edges.src)
            .select("dst")
            .distinct()
            .select(F.col("dst").alias("node"))
            .join(_bcast_if_small(visited, n_visited, 24), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n = obs.get["n"]
        if n == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
        n_frontier = n
        n_visited += n
    return visited.groupBy("dist").agg(
        F.count("*").alias("n_nodes"), F.min(_node_str("node")).alias("first_node")
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    steps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    d{i} AS MATERIALIZED (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM e{i - 1} UNION ALL SELECT v AS n FROM e{i - 1}
      ) GROUP BY n
    ),
    e{i} AS MATERIALIZED (
      SELECT u, v FROM e{i - 1}
      WHERE u IN (SELECT n FROM d{i} WHERE d >= {_KCORE_K})
        AND v IN (SELECT n FROM d{i} WHERE d >= {_KCORE_K})
    )""")
    r = _KCORE_ROUNDS
    return f"""
    -- MATERIALIZED throughout: each peel round reads the previous
    -- round's edges five times (once directly, and twice through each
    -- of its two IN lists on d{{i}}, a UNION ALL of u and v); DuckDB 1.0
    -- inlines plain CTEs per reference, which expands the 4-round chain
    -- into ~2,600 copies of the lineitem self-join and runs out of
    -- memory even at sf0.001 (the CTE-inlining lesson again)
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_orderkey % 4 = 0
    ),{",".join(steps)}
    SELECT (SELECT count(*) FROM (SELECT u AS n FROM e{r} UNION SELECT v FROM e{r})) AS n_nodes,
           (SELECT count(*) FROM e{r}) AS n_edges,
           (SELECT count(*) FROM e{r}) = (SELECT count(*) FROM e{r - 1}) AS converged
    """


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("J7", "A1"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3, 4 peeling rounds) over the supplier
    co-supply graph — the dense-subgraph extraction behind community
    seeds and spam-cluster mining. Each round drops every node of degree
    < k and the edges touching it; surviving edges feed the next round
    (the oracle unrolls the same 4 rounds, so truncation is part of the
    checked contract, like graph_pagerank's 3 iterations — the converged
    flag reports whether the peel had already reached its fixpoint).
    Per-round cost is one degree aggregate plus two left-semi joins on
    the survivor set — shuffles carry (node) and (u,v) keys only, never
    payload, and lineage truncates per round. Peeling rounds needed in
    practice is small (degeneracy ordering); at 100 TB each round is the
    same bounded Pregel shape as the other iterative ops here."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("v"))
    obs0 = Observation()
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # Survivor counts ride the checkpoint jobs as observe() metrics — the
    # per-round edges.count() the r5 VERDICT flagged is gone (half the
    # driver round-trips; tests/test_operators.py pins the job count).
    prev_count = obs0.get["n"]
    converged = False
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("n")
        obs = Observation()
        edges = (
            edges.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        cnt = obs.get["n"]
        converged = cnt == prev_count
        prev_count = cnt
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
    )
    return nodes.agg(F.count("*").alias("n_nodes")).select(
        "n_nodes",
        F.lit(prev_count).cast("long").alias("n_edges"),
        F.lit(converged).alias("converged"),
    )


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    its = "".join(
        f""",
    l{i} AS (
      SELECT node, lbl FROM (
        SELECT e.dst AS node, l.lbl, count(*) AS cnt,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY e.dst, l.lbl
      ) WHERE rn = 1
    )"""
        for i in range(1, _LPA_ITERS + 1)
    )
    return f"""
    WITH {_EDGES_SQL},
    l0 AS (SELECT src AS node, src AS lbl FROM deg)
    {its}
    SELECT lbl AS community, count(*) AS n_members, min(node) AS exemplar
    FROM l{_LPA_ITERS}
    GROUP BY lbl
    """



def _lpa_labels(spark: SparkSession, sf_dir: str):
    """(pairs, edges, deg, labels) after _LPA_ITERS synchronous rounds —
    factored so graph_label_propagation and graph_modularity run the
    IDENTICAL propagation (one definition, two consumers).

    Optimization r11: (a) node/label ids are longs inside the loop
    (guide §2.3 — the edge-sized join per round shuffles 8-byte keys,
    not strings); (b) the per-round argmax moved from a row_number
    window (hash exchange + full SORT of the votes table per round —
    22 GB of measured memory spill at sf10gs) to a min_by hash
    aggregate over struct(-cnt, <decoded lbl string>) (guide §2.4:
    partial map-side combine, no sort). The ordering key decodes the
    label to its string form, so tie-breaks (count DESC, then SMALLEST
    STRING label) remain bit-identical to the unrolled DuckDB oracle.

    (c) The votes count is the loop's one EDGE-CARDINALITY-keyed
    aggregate — distinct (node, lbl) pairs approach the edge count, so
    unlike pagerank's node-keyed sums its hash-map state scales with
    edges, and at the AQE-coalesced width (64 MB advisory, sized for
    shuffle bytes, blind to agg state) each task spilled ~6x its input
    (9.4-9.6 GB memory spill per round measured at sf10gs). The join
    output is now repartitioned by (node, lbl) to a width derived from
    the edge count (the jaccard wedge precedent, guide §2.2/§2.5), so
    both vote aggregates run in-stage with bounded maps; the rows
    crossing are raw 16-byte pairs instead of the partial-agg output —
    measured cheaper than the spill it removes. groupBy(node) still
    plans its own AQE-sized exchange, which keeps the next round's
    labels side a materialized stage the runtime 64 MB threshold can
    convert to a broadcast (the experiment-13 trap)."""
    pairs = _trading_pairs(spark, sf_dir).localCheckpoint(eager=True)
    edges = _enc_edges(pairs).localCheckpoint(eager=True)
    n_edges = edges.count()
    votes_width = _width_for_rows(spark, n_edges, 48)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lbl")
    )
    # node count = round-0 label count (loop-invariant: every round
    # emits one label row per node) — drives the loop-side broadcast
    n_nodes = labels.count()
    argmax = F.expr(
        f"min_by(lbl, struct(-cnt, {_NODE_STR_SQL.format(c='lbl')}))"
    ).alias("lbl")
    for _ in range(_LPA_ITERS):
        votes = (
            edges.join(_bcast_if_small(labels, n_nodes), edges.src == labels.node)
            .select(F.col("dst").alias("nd"), "lbl")
            .repartition(votes_width, "nd", "lbl")
            .groupBy(F.col("nd").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        labels = votes.groupBy("node").agg(argmax)
    return pairs, edges, deg, labels


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("J7", "A1", "W1"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3 rounds)
    over the customer<->supplier trading graph: every node starts as its
    own label; each round it adopts the label most frequent among its
    neighbors, ties broken by smallest label — a total, deterministic
    rule, so the unrolled DuckDB fixpoint matches bit-for-bit (no
    float scores, no random tie-breaks, and a FIXED round count rather
    than convergence detection, because synchronous LPA can 2-cycle on
    bipartite graphs). Per round: one src-keyed join, one
    (dst, lbl)-keyed count with map-side combine, one per-dst window for
    the argmax — the same Pregel layout as graph_pagerank, with
    edges+degrees localCheckpointed once and reused. Output is
    community-level (label, size, exemplar), vocabulary-bounded by the
    community count."""
    _pairs, _edges, _deg, labels = _lpa_labels(spark, sf_dir)
    return labels.groupBy(_node_str("lbl").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min(_node_str("node")).alias("exemplar"),
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_TRI_CTES},
    closed AS (
      SELECT w.lo, w.a, w.b
      FROM wedges w JOIN pairs e ON w.a = e.u AND w.b = e.v
    ),
    tcount AS (
      SELECT n, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT unnest([lo, a, b]) AS n FROM closed) GROUP BY n
    )
    SELECT d.n AS node, CAST(d.d AS BIGINT) AS degree,
           coalesce(t.t, 0) AS n_tri,
           CAST(CAST(coalesce(t.t, 0) AS HUGEINT) * 2000000
                // (CAST(d.d AS HUGEINT) * (d.d - 1)) AS BIGINT) AS cc_ppm
    FROM deg d LEFT JOIN tcount t ON t.n = d.n
    WHERE d.d >= 2
    """,
    tags=("J7", "A1", "J6"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998)
    over the supplier co-supply graph — how tightly each supplier's
    trading neighborhood is interlinked: cc(v) = 2*t(v) / (d(v)*(d(v)-1)),
    reported as the exact floor-scaled integer 2*t*1e6 // (d*(d-1)) for
    every node of degree >= 2 (degree-1 nodes have no defined
    coefficient). Triangles are attributed to all three corners of each
    closed wedge from the SAME degree-oriented enumeration as
    graph_triangle_count — each triangle is found exactly once, then
    fanned out by a 3-element explode, so per-node counts cost one extra
    narrow aggregate over the (already O(m^1.5)-bounded) closure output,
    not a second enumeration.

    Scale: inherits the Suri-Vassilvitskii orientation bound — wedge
    volume is capped at O(m^1.5) regardless of skew; the per-node tally
    shuffles only closed triangles (3 rows each); the left join against
    the degree table keeps zero-triangle nodes in the output. All keyed
    hash joins + aggregates, no iteration, exact integers end to end."""
    pairs, deg = _tri_pairs_deg(spark, sf_dir)
    oriented = _tri_oriented(pairs, deg)
    e1 = oriented.select("lo", F.col("hi").alias("a"))
    e2 = oriented.select(F.col("lo").alias("lo2"), F.col("hi").alias("b"))
    wedges = (
        e1.join(e2, e1.lo == e2.lo2)
        .filter(F.col("a") < F.col("b"))
        .select("lo", "a", "b")
    )
    closed = wedges.join(pairs, (wedges.a == pairs.u) & (wedges.b == pairs.v)).select(
        "lo", "a", "b"
    )
    tcount = (
        closed.select(F.explode(F.array("lo", "a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(tcount, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST(CAST(coalesce(t, 0) AS DECIMAL(38,0)) * 2000000"
                " div (CAST(d AS DECIMAL(38,0)) * (d - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )


_TEXTRANK_TOP = 20


def _textrank_oracle() -> str:
    from .text import SQL_TOKENS

    its = "".join(
        "," + _ITER_SQL.format(i=i, prev=i - 1, teleport=_TELEPORT)
        for i in range(1, _ITERS + 1)
    )
    return f"""
    WITH wpairs AS (
      SELECT DISTINCT toks[i] AS a, toks[i+1] AS b
      FROM (SELECT {SQL_TOKENS} AS toks FROM documents),
           unnest(generate_series(1, len(toks) - 1)) AS u(i)
      WHERE toks[i] <> toks[i+1]),
    edges AS (
      SELECT a AS src, b AS dst FROM wpairs
      UNION
      SELECT b, a FROM wpairs),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST({_SCALE} AS BIGINT) AS r FROM deg)
    {its}
    SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT) AS rank,
           node AS word, r AS rank_scaled
    FROM r{_ITERS}
    ORDER BY r DESC, node LIMIT {_TEXTRANK_TOP}
    """


@query(
    "txt_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("U2", "J7", "A1", "O2"),
)
def txt_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank
    over the corpus-wide word co-occurrence graph (undirected edge
    between adjacent tokens), top-{_TEXTRANK_TOP} words by stationary
    importance. The graph-centrality complement to txt_rake_keywords'
    frequency heuristics: TextRank promotes words that BRIDGE contexts,
    not just frequent ones. Same scaled-integer update rule as
    graph_pagerank (r' = 0.15e9 + 85 * sum(r div d) div 100, 3
    iterations), so the iterative fixpoint is bit-identical to the
    SQL-unrolled oracle regardless of aggregation order.

    Scale: the edge list is DISTINCT adjacent pairs — vocabulary^2-
    bounded, not corpus-bounded — built in one explode + distinct;
    edges and degrees checkpoint once and serve every iteration; each
    iteration is one keyed join + one map-side-combined aggregate (the
    Pregel layout); TakeOrdered caps the output before the only global
    window (top-{_TEXTRANK_TOP} rows)."""
    from pyspark.sql import Window as PW

    from .text import TOKENS

    d = load_table(spark, sf_dir, "documents")
    wpairs = (
        d.select(TOKENS().alias("toks"))
        .select(
            F.explode(
                # sequence(1, 0) descends for 0/1-token docs and the
                # transform would index out of bounds under ANSI — same
                # guard as the span-corruption and cross-source queries
                F.expr(
                    "IF(size(toks) >= 2,"
                    " transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS a, toks[i] AS b)),"
                    " cast(array() as array<struct<a:string,b:string>>))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    edges = (
        wpairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(wpairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint(
        eager=True
    )
    # vocabulary-bounded node count for the loop-side broadcast
    n_nodes = deg.count()
    r = deg.select(F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("r"))
    for _ in range(_ITERS):
        # r div d once per node (node-sized join) BEFORE the edge join —
        # one edge-sized join per iteration, not two (guide §2.4; same
        # restructure as graph_pagerank)
        contrib = r.join(deg, r.node == deg.src).select(
            "src", F.expr("r div d").alias("contrib")
        )
        r = (
            edges.join(_bcast_if_small(contrib, n_nodes), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(
                    f"CAST({_TELEPORT} + (85 * sum(contrib)) div 100 AS BIGINT)"
                ).alias("r")
            )
        )
    top = r.orderBy(F.desc("r"), "node").limit(_TEXTRANK_TOP)
    return top.select(
        F.row_number()
        .over(PW.orderBy(F.desc("r"), "node"))
        .cast("long")
        .alias("rank"),
        F.col("node").alias("word"),
        F.col("r").alias("rank_scaled"),
    )


@query(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH {_TRI_CTES},
    dd AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY d),
    mins AS (SELECT min(d) AS dmin, CAST(count(*) AS HUGEINT) AS n FROM deg),
    lnsum AS (
      SELECT CAST(sum(CAST(floor(
               ln(CAST(d.d AS DOUBLE) / m.dmin) * 1000000000 + 0.5)
               AS BIGINT)) AS HUGEINT) AS s_nano,
             max(m.n) AS n, max(m.dmin) AS dmin
      FROM deg d CROSS JOIN mins m)
    SELECT CAST(dd.d AS BIGINT) AS degree, dd.n_nodes,
           CAST(l.n AS BIGINT) AS n_total,
           CAST(l.dmin AS BIGINT) AS d_min,
           CASE WHEN l.s_nano = 0 THEN 0
                ELSE CAST(1000000 + l.n * 1000000000 * 1000000 // l.s_nano
                     AS BIGINT) END AS alpha_micro
    FROM dd CROSS JOIN lnsum l
    """,
    tags=("A1", "A4", "F4"),
)
def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution census of the supplier co-supply graph plus
    the continuous power-law exponent MLE (Clauset, Shalizi & Newman
    2009: alpha = 1 + n / sum ln(d/dmin)) — the first question asked of
    any production graph, because every downstream plan choice (salting,
    orientation bounds, hub caps) depends on whether the tail is heavy.
    Each ln term quantizes to integer nanonats (the repo's ln
    discipline), so the MLE is an exact integer ratio — reported in
    micro-units (alpha_micro = 1e6 means alpha 1.0) on every row of the
    census for one-pass consumption.

    Scale: degrees from the same edge pipeline as the triangle family;
    the census is a count-of-counts over the degree table (bounded by
    distinct degrees); the MLE is one more aggregate over the node
    dimension. No pairwise anything."""
    pairs, deg = _tri_pairs_deg(spark, sf_dir)
    # three consumers (census, min/count, ln sum) read the degree table
    deg = deg.localCheckpoint(eager=False)
    dd = deg.groupBy("d").agg(F.count("*").cast("long").alias("n_nodes"))
    mins = deg.agg(
        F.min("d").alias("dmin"),
        F.count("*").cast("decimal(38,0)").alias("n_tot"),
    )
    lnsum = deg.crossJoin(F.broadcast(mins)).agg(
        F.sum(
            F.expr(
                "CAST(floor(ln(CAST(d AS DOUBLE) / dmin) * 1000000000 + 0.5)"
                " AS BIGINT)"
            )
        )
        .cast("decimal(38,0)")
        .alias("s_nano"),
        F.max("n_tot").alias("n_tot"),
        F.max("dmin").alias("dmin"),
    )
    return dd.crossJoin(F.broadcast(lnsum)).select(
        F.col("d").cast("long").alias("degree"),
        "n_nodes",
        F.col("n_tot").cast("long").alias("n_total"),
        F.col("dmin").cast("long").alias("d_min"),
        F.expr(
            "CASE WHEN s_nano = 0 THEN 0"
            " ELSE CAST(1000000 + n_tot * 1000000000 * 1000000 div s_nano"
            " AS BIGINT) END"
        ).alias("alpha_micro"),
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_TRI_CTES},
    ed AS (
      SELECT CAST(du.d AS HUGEINT) AS j, CAST(dv.d AS HUGEINT) AS k
      FROM pairs p
      JOIN deg du ON du.n = p.u
      JOIN deg dv ON dv.n = p.v),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             sum(j + k) AS s1,
             sum(j * j + k * k) AS s2,
             sum(j * k) AS s3
      FROM ed)
    SELECT CAST(m AS BIGINT) AS n_edges,
           CASE WHEN 2 * m * s2 - s1 * s1 = 0 THEN 0
                ELSE CAST((4 * m * s3 - s1 * s1) * 1000
                          // (2 * m * s2 - s1 * s1) AS BIGINT) END
             AS assortativity_milli
    FROM s
    """,
    tags=("J7", "A3", "F4"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier co-supply graph (Newman
    2002): the Pearson correlation of endpoint degrees across edges —
    positive means hubs trade with hubs (social-network shape), negative
    means hubs fan out to the periphery (internet/supply-chain shape);
    the single number that predicts how the graph responds to hub
    failures and how skewed its joins will be. Cleared of divisions by
    cross-multiplying Newman's formula: r = (4M*Σjk - S1²) /
    (2M*Σ(j²+k²) - S1²), reported as the exact truncated milli ratio
    (numerator may be negative: integer division truncates identically
    in both engines); a degree-regular graph (den = 0) reports 0.

    Scale: two degree joins against the edge list (keyed hash joins)
    and one 4-sum aggregate — the sums reach M*d² ~ 1e18+ at scale and
    are HUGEINT/decimal-lifted."""
    pairs, deg = _tri_pairs_deg(spark, sf_dir)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("j"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("k"))
    ed = pairs.join(du, "u").join(dv, "v").select(
        F.col("j").cast("decimal(38,0)").alias("j"),
        F.col("k").cast("decimal(38,0)").alias("k"),
    )
    s = ed.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum(F.expr("j + k")).alias("s1"),
        F.sum(F.expr("j * j + k * k")).alias("s2"),
        F.sum(F.expr("j * k")).alias("s3"),
    )
    return s.select(
        F.col("m").cast("long").alias("n_edges"),
        F.expr(
            "CASE WHEN 2 * m * s2 - s1 * s1 = 0 THEN 0"
            " ELSE CAST((4 * m * s3 - s1 * s1) * 1000"
            " div (2 * m * s2 - s1 * s1) AS BIGINT) END"
        ).alias("assortativity_milli"),
    )


_LP_CAP = 128  # deterministic per-node neighbor cap (production hub guard)
_LP_TOPK = 50


@query(
    "graph_jaccard_linkpred",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    adj AS (
      SELECT u AS n, v AS nbr FROM pairs
      UNION ALL SELECT v, u FROM pairs),
    ranked AS (
      SELECT n, nbr,
             row_number() OVER (PARTITION BY n ORDER BY nbr) AS rn
      FROM adj),
    capped AS (SELECT n, nbr FROM ranked WHERE rn <= {_LP_CAP}),
    cdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS cd FROM capped GROUP BY n),
    wedges AS (
      SELECT x.nbr AS a, y.nbr AS b, CAST(count(*) AS BIGINT) AS common
      FROM capped x JOIN capped y ON x.n = y.n AND x.nbr < y.nbr
      GROUP BY 1, 2),
    nonedge AS (
      SELECT w.a, w.b, w.common
      FROM wedges w LEFT JOIN pairs p ON w.a = p.u AND w.b = p.v
      WHERE p.u IS NULL),
    scored AS (
      SELECT ne.a, ne.b, ne.common,
             da.cd + db.cd - ne.common AS union_sz,
             CAST(ne.common * 1000000 // (da.cd + db.cd - ne.common)
                  AS BIGINT) AS jaccard_ppm
      FROM nonedge ne
      JOIN cdeg da ON da.n = ne.a JOIN cdeg db ON db.n = ne.b),
    audit AS (
      SELECT CAST(count(*) FILTER (WHERE rn > {_LP_CAP}) AS BIGINT)
               AS n_capped_rows
      FROM ranked)
    SELECT CAST(row_number() OVER (ORDER BY jaccard_ppm DESC, a, b)
                AS BIGINT) AS rank,
           a AS part_a, b AS part_b, common, union_sz, jaccard_ppm,
           (SELECT n_capped_rows FROM audit) AS n_capped_rows
    FROM scored
    ORDER BY jaccard_ppm DESC, a, b
    LIMIT {_LP_TOPK}
    """,
    tags=("J7", "A1", "O2", "J2"),
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the part co-purchase graph (edge =
    two parts in the same sampled order): for every NON-edge pair with a
    shared neighbor, score |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and return the
    top-50 predicted links — the classic 'customers who bought X also
    buy Y' candidate generator (Liben-Nowell & Kleinberg 2003).

    Scale shape: common-neighbor counting is inherently Σ d(c)² wedge
    work, so the adjacency is DEGREE-CAPPED first — each node keeps its
    first 128 neighbors by id (deterministic, same rule in both
    engines), bounding wedge volume at n·128² regardless of hubs; the
    n_capped_rows audit column reports exactly how many adjacency rows
    the cap dropped (0 on the fixtures — the co-purchase degree is ~31
    and CONSTANT ACROSS SF because parts and orders both scale
    linearly; no silent truncation). The adjacency is grouped ONCE into
    per-node sorted neighbor arrays (equivalent to the oracle's
    row_number cap because (n, nbr) is unique), and candidate wedges
    are enumerated map-side from each array with codegen combinations —
    the same Σ C(d,2) multiset the old capped-adjacency self-join
    produced, minus that join's two extra exchanges and sorts of the
    capped edge table (r11: this stage was the lane's 133 GB-spill /
    300 s wall at sf10gs). cdeg and the audit scalar are free
    byproducts of the node-sized array table. Existing edges leave via
    one anti join on the id-canonical pair, Jaccard is exact integer
    ppm (union = cd(a)+cd(b)-common needs no second pass), and
    TakeOrdered caps the result."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 4 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window as PW

    adj = pairs.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        pairs.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    # one exchange: group the adjacency into per-node sorted arrays;
    # slice(sorted, 1, CAP) == the oracle's rn <= CAP because nbr is
    # unique within n (pairs is distinct), so "first CAP by id" is
    # order-unambiguous
    nbrs = adj.groupBy("n").agg(
        F.array_sort(F.collect_list("nbr")).alias("full")
    )
    capped = (
        nbrs.select(
            "n",
            F.slice("full", 1, _LP_CAP).alias("arr"),
            F.size("full").alias("fd"),
        )
        .localCheckpoint(eager=True)
    )
    # bounded audit scalars off the node-sized array table: rows the cap
    # dropped = Σ (full degree - capped degree), and the EXACT wedge
    # volume Σ C(|arr|, 2) the enumeration below will emit — one tiny
    # aggregate, no second pass over the adjacency
    aud = capped.agg(
        F.sum(F.col("fd") - F.size("arr")).cast("long").alias("ncap"),
        F.sum(F.expr("CAST(size(arr) AS BIGINT) * (size(arr) - 1) DIV 2"))
        .cast("long")
        .alias("wedge_rows"),
    ).first()
    n_capped = aud["ncap"] or 0
    wedge_rows = aud["wedge_rows"] or 0
    cdeg = capped.select("n", F.size("arr").cast("long").alias("cd"))
    # wedge candidates enumerated map-side from each sorted array —
    # identical multiset to the old self-join keyed on the shared
    # neighbor (arr is sorted asc + unique, so x precedes y ⇔ x < y).
    # r11 (guide §2.2/§2.5): the array table is re-partitioned by n to a
    # width derived from the POST-explosion wedge volume — the node-sized
    # checkpoint's AQE-coalesced width is sized for the arrays, and the
    # ~C(cap,2)x row explosion under it left each task's partial-agg
    # hash map ~15x oversized (116 GB memory + 17 GB disk spill measured
    # at sf10gs). Σ C(|arr|,2) is exact, so the width is too.
    #
    # NOTE (r11, measured, kept as a record): packing the pair into ONE
    # long (a*2^32+b) to halve the grouping-key bytes was tried and is
    # a measured LOSS at sf10gs — 212.9 s / 22.7 GB shuffle written vs
    # the struct key's 176.6 s / 13.5 GB in the same session. The raw
    # UnsafeRow is 25% narrower, but lz4 compresses the struct layout
    # far better: consecutive wedges from one array share `a`, so the
    # struct row repeats a 16-byte (null-bits + a) pattern lz4 matches,
    # while the packed long mixes the changing b into the same word
    # (guide §2.3: "there is no universal answer — measure").
    wedges = (
        capped.repartition(_width_for_rows(spark, wedge_rows, 48), "n")
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(arr, (x, i) ->"
                    " transform(slice(arr, i + 2, size(arr)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    nonedge = wedges.join(
        pairs, (wedges.a == pairs.u) & (wedges.b == pairs.v), "left_anti"
    )
    scored = (
        nonedge.join(cdeg.select(F.col("n").alias("a"), F.col("cd").alias("da")), "a")
        .join(cdeg.select(F.col("n").alias("b"), F.col("cd").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            F.expr("da + db - common").alias("union_sz"),
            F.expr("CAST(common * 1000000 div (da + db - common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )
    top = scored.orderBy(F.desc("jaccard_ppm"), "a", "b").limit(_LP_TOPK)
    w = PW.orderBy(F.desc("jaccard_ppm"), "a", "b")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "common",
        "union_sz",
        "jaccard_ppm",
        F.lit(n_capped).cast("long").alias("n_capped_rows"),
    )


_HITS_ITERS = 3
_HITS_SCALE = 1_000_000
_HITS_TOPK = 20


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        # max-normalize via a window over the SAME select: each CTE level
        # is referenced exactly ONCE downstream, keeping DuckDB's
        # CTE-inlining linear (a scalar `(SELECT max(raw) FROM a{{i}}raw)`
        # references the level twice and the inline tree doubles per
        # iteration — measured as a >57 GB spill at sf1)
        steps.append(f"""
    a{i} AS (
      SELECT s, CAST(raw * {_HITS_SCALE} // max(raw) OVER ()
                     AS HUGEINT) AS auth
      FROM (SELECT s, CAST(sum(h.hub) AS HUGEINT) AS raw
            FROM cs JOIN {prev_h} h USING (c) GROUP BY s)),
    h{i} AS (
      SELECT c, CAST(raw * {_HITS_SCALE} // max(raw) OVER ()
                     AS HUGEINT) AS hub
      FROM (SELECT c, CAST(sum(a.auth) AS HUGEINT) AS raw
            FROM cs JOIN a{i} a USING (s) GROUP BY c))""")
        prev_h = f"h{i}"
    return f"""
    WITH cs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    h0 AS (SELECT DISTINCT c, CAST({_HITS_SCALE} AS HUGEINT) AS hub FROM cs)
    ,{",".join(steps)}
    SELECT CAST(row_number() OVER (ORDER BY auth DESC, s) AS BIGINT) AS rank,
           s AS supplier, CAST(auth AS BIGINT) AS auth_scaled
    FROM a{_HITS_ITERS}
    ORDER BY auth DESC, s LIMIT {_HITS_TOPK}
    """


@query(
    "graph_hits",
    oracle=_hits_oracle(),
    tags=("J7", "A1", "O2"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the
    customer->supplier trading bipartite, 3 iterations: customers are
    hubs, suppliers authorities; auth(s) = Σ hub over buying customers,
    hub(c) = Σ auth over bought-from suppliers. Classic HITS L2-
    normalizes each half-step; this exact-integer variant MAX-normalizes
    instead (score * 1e6 div max) — same fixpoint ranking, and every
    intermediate is an exact integer so the unrolled DuckDB twin agrees
    bit-for-bit regardless of aggregation order (the graph_pagerank
    determinism discipline). Top-20 authorities.

    Scale: the distinct (c, s) edge list is one shuffle, checkpointed
    and reused; each half-step is one keyed join + one map-side-combined
    sum plus a 1-row max broadcast back — the Pregel layout; sums are
    decimal-lifted (degree x 1e6 passes 2^63 at corpus scale);
    TakeOrdered caps the result."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = cs.select("c").distinct().select(
        "c", F.lit(_HITS_SCALE).cast("decimal(38,0)").alias("hub")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        araw = cs.join(hub, "c").groupBy("s").agg(
            F.sum("hub").cast("decimal(38,0)").alias("raw")
        )
        amax = araw.agg(F.max("raw").alias("mx"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "s", F.expr(f"CAST(raw * {_HITS_SCALE} div mx AS DECIMAL(38,0))").alias("auth")
        )
        hraw = cs.join(auth, "s").groupBy("c").agg(
            F.sum("auth").cast("decimal(38,0)").alias("raw")
        )
        hmax = hraw.agg(F.max("raw").alias("mx"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "c", F.expr(f"CAST(raw * {_HITS_SCALE} div mx AS DECIMAL(38,0))").alias("hub")
        )
    from pyspark.sql import Window as PW

    top = auth.orderBy(F.desc("auth"), "s").limit(_HITS_TOPK)
    w = PW.orderBy(F.desc("auth"), "s")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("s").alias("supplier"),
        F.col("auth").cast("long").alias("auth_scaled"),
    )


def _modularity_oracle() -> str:
    its = "".join(
        f""",
    l{i} AS (
      SELECT node, lbl FROM (
        SELECT e.dst AS node, l.lbl, count(*) AS cnt,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY e.dst, l.lbl
      ) WHERE rn = 1
    )"""
        for i in range(1, _LPA_ITERS + 1)
    )
    return f"""
    WITH {_EDGES_SQL},
    l0 AS (SELECT src AS node, src AS lbl FROM deg)
    {its},
    -- MATERIALIZED: lab is referenced three times and und twice below;
    -- DuckDB inlines plain CTEs per reference, which re-runs the whole
    -- 3-round LPA chain (and the pairs join) per mention — measured as
    -- a 617 s OOM at sf1 before materialization (the graph_hits
    -- CTE-inlining lesson, second instance)
    lab AS MATERIALIZED (SELECT node, lbl FROM l{_LPA_ITERS}),
    und AS MATERIALIZED (SELECT 'c' || c AS a, 's' || s AS b FROM pairs),
    m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM und),
    ec AS (
      SELECT la.lbl, CAST(count(*) AS HUGEINT) AS e_c
      FROM und u
      JOIN lab la ON u.a = la.node
      JOIN lab lb ON u.b = lb.node AND la.lbl = lb.lbl
      GROUP BY 1),
    dc AS (
      SELECT l.lbl, CAST(sum(d.d) AS HUGEINT) AS d_c
      FROM lab l JOIN deg d ON d.src = l.node GROUP BY 1),
    terms AS (
      SELECT dc.lbl, coalesce(ec.e_c, 0) AS e_c, dc.d_c, m.m
      FROM dc LEFT JOIN ec USING (lbl) CROSS JOIN m)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(m) AS BIGINT) AS n_edges,
           CAST(sum(4 * m * e_c - d_c * d_c) * 1000000
                // (4 * max(m) * max(m)) AS BIGINT) AS modularity_ppm
    FROM terms
    """


@query(
    "graph_modularity",
    oracle=_modularity_oracle(),
    tags=("J7", "A1", "A3"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition — the standard 'is this
    community structure real' score (Newman 2006): Q = Σ_c [e_c/m -
    (d_c/2m)²], where e_c counts intra-community edges and d_c sums
    member degrees. Runs the IDENTICAL 3-round propagation as
    graph_label_propagation (_lpa_labels — one definition, two
    consumers) and scores it exactly: cross-multiplied to
    Q_ppm = Σ(4·m·e_c - d_c²) * 1e6 div (4m²), every intermediate an
    exact integer (negative Q truncates toward zero identically in both
    engines). On the bipartite trading graph LPA's 2-cycle behavior
    keeps Q near zero — the score QUANTIFIES that, which is the point:
    a modularity gate catches a degenerate clustering before anything
    downstream consumes it.

    Scale: labels are one Pregel loop (checkpointed edges); e_c is one
    edge x label x label hash-join chain keyed on node ids; d_c one
    keyed join + map-side-combined sum; the final algebra runs over
    |communities| rows. Sums are HUGEINT/decimal-lifted (d_c² reaches
    4m² ~ 1e14 at sf1, x1e6 past 2^63)."""
    pairs, _edges, deg, labels = _lpa_labels(spark, sf_dir)
    # long-encoded endpoints to match _lpa_labels' encoded node ids (the
    # output of this query carries no node/label values, only counts)
    und = pairs.select(
        (F.col("c") * 2).alias("a"), (F.col("s") * 2 + 1).alias("b")
    )
    m = und.agg(F.count("*").cast("decimal(38,0)").alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("lbl"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("lbl_b"))
    ec = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("lbl") == F.col("lbl_b"))
        .groupBy("lbl")
        .agg(F.count("*").cast("decimal(38,0)").alias("e_c"))
    )
    dc = (
        labels.join(deg, labels.node == deg.src)
        .groupBy("lbl")
        .agg(F.sum("d").cast("decimal(38,0)").alias("d_c"))
    )
    terms = (
        dc.join(ec, "lbl", "left")
        .select(
            "lbl",
            F.coalesce("e_c", F.lit(0).cast("decimal(38,0)")).alias("e_c"),
            "d_c",
        )
        .crossJoin(F.broadcast(m))
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("n_edges"),
        F.expr(
            "CAST(sum(4 * m * e_c - d_c * d_c) * 1000000"
            " div (4 * max(m) * max(m)) AS BIGINT)"
        ).alias("modularity_ppm"),
    )


# --- Weisfeiler-Lehman color refinement ---------------------------------------
_WL_SUMMARY = """
      SELECT {r} AS round,
             CAST(count(DISTINCT lbl) AS BIGINT) AS n_classes,
             CAST(max(c) AS BIGINT) AS largest_class
      FROM (SELECT lbl, count(*) AS c FROM l{r} GROUP BY lbl)"""


@query(
    "graph_wl_refinement",
    oracle=f"""
    WITH {_EDGES_SQL_MAT},
    -- MATERIALIZED throughout: l1 is consumed twice (node + neighbor
    -- side of the next round); DuckDB would otherwise inline and
    -- recompute it, which at sf10 spilled past the disk (the fourth
    -- CTE-inlining catch after hits, modularity, and the r8 pair)
    l0 AS MATERIALIZED (
      SELECT src AS node, CAST(d AS VARCHAR) AS lbl FROM deg),
    l1 AS MATERIALIZED (
      SELECT v.node,
             md5(v.lbl || '|' ||
                 array_to_string(list(nb.lbl ORDER BY nb.lbl), ',')) AS lbl
      FROM l0 v
      JOIN edges e ON e.dst = v.node
      JOIN l0 nb ON nb.node = e.src
      GROUP BY v.node, v.lbl),
    l2 AS MATERIALIZED (
      SELECT v.node,
             md5(v.lbl || '|' ||
                 array_to_string(list(nb.lbl ORDER BY nb.lbl), ',')) AS lbl
      FROM l1 v
      JOIN edges e ON e.dst = v.node
      JOIN l1 nb ON nb.node = e.src
      GROUP BY v.node, v.lbl)
    {_WL_SUMMARY.format(r=0)}
    UNION ALL {_WL_SUMMARY.format(r=1)}
    UNION ALL {_WL_SUMMARY.format(r=2)}
    """,
    tags=("J7", "A4", "F8"),
)
def graph_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement (2 rounds) over the trading
    graph — the canonical-form fingerprint behind graph-isomorphism
    screening, WL-kernel features, and structural-role discovery: each
    round rehashes every node's label with the SORTED multiset of its
    neighbors' labels, so two nodes keep the same color only while
    their neighborhoods look identical at that depth. Reported as the
    refinement trajectory (round, #color classes, largest class) — the
    rate at which classes split is the structure signal (a regular
    graph never splits; a heterogeneous one shatters in 1-2 rounds).
    md5 is the cross-engine-stable relabeling hash (the MinHash
    discipline) and the neighbor multiset concatenates in sorted order,
    so every label — and therefore the histogram — is bit-identical in
    both engines.

    Scale: per round, ONE keyed join (edges x labels on the neighbor
    end) + one collect-sorted aggregate per node — the same
    billions-of-edges shape as the label-propagation family; rounds are
    fixed at 2, and the summary reads from node-sized tables.

    Optimization r11 (guide §2.3): node ids are longs, and md5 labels
    travel as 16-byte BINARY (unhex) instead of 32-char hex strings —
    the edge-sized shuffle into each round's collect aggregate carries
    half the label bytes. Byte-wise binary order equals lowercase-hex
    string order, so sorting the binary multiset and re-hexing
    (lower(hex(x))) at hash time reproduces the oracle's sorted hex
    concatenation exactly; the histogram groups by the (injective)
    binary form. Round-0 degree-string labels keep their string sort."""
    pairs = _trading_pairs(spark, sf_dir)
    edges = _enc_edges(pairs).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    labels = deg.select(
        F.col("src").alias("node"), F.col("d").cast("string").alias("lbl")
    ).localCheckpoint(eager=True)
    # exact node count off the round-0 checkpoint (loop-invariant: WL
    # relabels every node every round) — drives the loop-side broadcast
    n_nodes = labels.count()
    rounds = [labels]
    lbl_is_binary = False
    for _ in range(2):
        prev = rounds[-1]
        nb = prev.select(
            F.col("node").alias("nb_node"), F.col("lbl").alias("nb_lbl")
        )
        if lbl_is_binary:
            nbs = F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("nb_lbl")),
                    lambda x: F.lower(F.hex(x)),
                ),
                ",",
            )
            own = F.lower(F.hex(F.col("lbl")))
        else:
            nbs = F.array_join(F.array_sort(F.collect_list("nb_lbl")), ",")
            own = F.col("lbl")
        nxt = (
            edges.join(_bcast_if_small(nb, n_nodes, 80), edges.src == nb.nb_node)
            .select(F.col("dst").alias("node"), "nb_lbl")
            .groupBy("node")
            .agg(nbs.alias("nbs"))
            .join(_bcast_if_small(prev, n_nodes, 80), "node")
            .select(
                "node",
                F.unhex(F.md5(F.concat_ws("|", own, F.col("nbs")))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        lbl_is_binary = True
        rounds.append(nxt)
    outs = []
    for r, lr in enumerate(rounds):
        hist = lr.groupBy("lbl").agg(F.count("*").alias("c"))
        outs.append(
            hist.agg(
                F.lit(r).cast("int").alias("round"),
                F.countDistinct("lbl").cast("long").alias("n_classes"),
                F.max("c").cast("long").alias("largest_class"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out
