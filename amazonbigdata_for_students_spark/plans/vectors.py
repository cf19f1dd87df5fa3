"""Similarity search over the embeddings table (north-star extension U5).

Exact brute-force cosine is the correctness baseline (SQL-expressible, so
it gets a DuckDB oracle). The scale path — LSH bucketing so candidate
generation is a groupBy instead of a cross join — lives in
operators/similarity.py and registers rows-only checks.

Float discipline: embeddings are float32; both engines cast to double
before any arithmetic, and similarities are rounded to 6 decimals so the
last-bit difference between Spark's fold and DuckDB's list_dot_product
cannot flip a comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.readers import load_table
from .registry import query


def _as_double(col: str):
    return F.transform(F.col(col), lambda x: x.cast("double"))


# Executable guard on the exact label-blocked pairwise AUDIT ARMS
# (vec_neardup_pairs, dedup_embedding_cosine, dedup_cosine_threshold_sweep).
# Their blocking key has CONSTANT cardinality (10 labels), so the pair
# stage is O(N^2/10) with a ~|labels|-task parallelism ceiling — measured
# >500x wall at 100x data (BASELINE.md vector-spine section). The r10
# verdict's finding: a prose "audit arm" label still lets a user hit a
# silent multi-hour wall; this fence makes that impossible by accident.
# 50k rows ~= 125M block pairs (minutes on 32 cores) is the default
# ceiling; deliberate audit runs at larger N set
# SPARK_GRAFT_AUDIT_UNFENCED=1 (scripts/vec_spine_bench.py --queries audit
# does). SPARK_GRAFT_AUDIT_MAX_ROWS tunes the ceiling (tests use it to
# prove the fence trips).
_AUDIT_FENCE_ROWS = 50_000


def _fence_quadratic_audit(e: DataFrame, name: str) -> DataFrame:
    import os

    if os.environ.get("SPARK_GRAFT_AUDIT_UNFENCED") == "1":
        return e
    max_rows = int(os.environ.get("SPARK_GRAFT_AUDIT_MAX_ROWS", _AUDIT_FENCE_ROWS))
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"{name}: refusing the exact pairwise audit plan on {n} input "
            f"rows (> {max_rows}): the constant-cardinality label blocking "
            f"makes it O(N^2/|labels|) — measured >500x wall at 100x data. "
            f"Use the scale paths (dedup_semantic_clusters, the banded "
            f"MinHash/SimHash/ANN family) or, for a deliberate audit run, "
            f"set SPARK_GRAFT_AUDIT_UNFENCED=1 "
            f"(or raise SPARK_GRAFT_AUDIT_MAX_ROWS)."
        )
    return e


def _dot(a, b):
    """Dot product of two array Columns as a zip_with/aggregate left fold
    (acc + x*y, element by element; higher-order functions are
    interpreted, never codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


@query(
    "vec_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("U5",),
    bench=True,
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector: broadcast the query
    row, score every embedding JVM-side (zip_with/aggregate fold — no
    Python), TakeOrderedAndProject for the top-k. This is the exact
    baseline ANN implementations are measured against."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        # per-vector norm computed once in the scan, not per comparison
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    q = (
        e.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    )
    scored = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    sim = _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm"))
    return (
        scored.select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "vec_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    """,
    tags=("U5", "U6"),
)
def vec_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label so candidate
    generation is an equi-join (per-label blocks) instead of a full cross
    join; threshold 0.4 (the testdata embeddings are spread — max
    intra-label cosine ~0.47).

    Scale honesty: the label key has CONSTANT cardinality (10), so blocks
    grow linearly with N and the pair stage is O(N^2/10) — this is the
    lane's exact-pairwise AUDIT ARM (same policy as dedup_span_ngrams /
    join_range), not a 100-TB path. The scale paths are
    dedup_semantic_clusters (cells sized so K grows as N/256) and the
    banded ANN family; scripts/vec_spine_bench.py keeps this arm out of
    the sf100 spine and measures it at sf10. The honesty is executable:
    _fence_quadratic_audit refuses oversized inputs unless explicitly
    overridden."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        # Norms are per-vector, not per-pair: computing them before the
        # join turns 3 array folds per PAIR into 1 (the dot product) —
        # at B-sized blocks that's the difference between O(B^2) and
        # O(3*B^2) folds, measured ~3x on the pairwise stage.
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    e = _fence_quadratic_audit(e, "vec_neardup_pairs")
    a = e.alias("a")
    b = e.alias("b")
    sim = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(sim >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
    )


def _cosine(a, b, anrm, bnrm):
    return _dot(a, b) / (anrm * bnrm)


def _seed_cells(e: DataFrame, k: int):
    """The deterministic IVF coarse quantizer of vec_ann_ivf_topk and
    vec_ann_recall_curve. The seeds are the k lowest-vec_id rows of `e`
    (vec_id, v, nrm), returned as ``c`` (cid, cv, cnrm). Each row of `e`
    goes to the seed with the highest round(cos, 6), ties to the lowest
    cid — the oracle's row_number over (round(cos) DESC, cid) — returned
    as ``cell`` (vec_id, v, nrm, cid).

    The k seed rows are collected and the argmin is one
    least(struct(key, cid)) expression over literal seed arrays, so
    assignment runs inside the scan: no join, no shuffle. Struct ordering
    is lexicographic, so equal keys resolve to the lowest cid. The key
    0 - round(cos, 6) is ascending. In a non-ANSI session a zero-norm
    seed's cosine is NULL, and a NULL key would sort FIRST (win), so it
    is coalesced to +inf — the window's DESC NULLS LAST, where a
    zero-norm seed never wins. ANSI sessions raise on the zero division.

    The key stays a Spark expression rather than an _argmin_arrow arm:
    Spark's round() is HALF_UP over Double.toString, which on JDK 17 does
    not always give the shortest digits, so a numpy port cannot be shown
    bit-exact.

    Raises ValueError on an empty `e` (no seeds)."""
    c = e.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    seeds = c.collect()
    if not seeds:
        raise ValueError(
            "_seed_cells: empty input — no seed vectors to quantize against; "
            "short-circuit to an empty result before assignment"
        )
    cands = [
        F.struct(
            F.coalesce(
                F.lit(0.0)
                - F.round(
                    _cosine(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in r["cv"]]),
                        F.col("nrm"),
                        F.lit(float(r["cnrm"])),
                    ),
                    6,
                ),
                F.lit(float("inf")),
            ).alias("k"),
            F.lit(int(r["cid"])).cast("long").alias("cid"),
        )
        for r in seeds
    ]
    m = F.least(*cands) if len(cands) > 1 else cands[0]
    return c, e.select("vec_id", "v", "nrm", m["cid"].alias("cid"))


@query(
    "vec_ann_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1),
         assign AS (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY round(list_dot_product(e.v, c.cv)
                          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid) AS rn
           FROM e, c
         ),
         cell AS (SELECT vec_id, v, cid FROM assign WHERE rn = 1),
         probe AS (
           SELECT c.cid FROM c, q
           ORDER BY round(list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cid
           LIMIT 2
         )
    SELECT cell.vec_id,
           round(list_dot_product(cell.v, q.qv)
                 / (sqrt(list_dot_product(cell.v, cell.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM cell JOIN probe USING (cid), q
    WHERE cell.vec_id <> q.qid
    ORDER BY cos_sim DESC, cell.vec_id
    LIMIT 10
    """,
    tags=("U5",),
)
def vec_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the scale path for similarity search:
    assign every vector to its nearest of K=8 coarse centroids (broadcast
    centroids, linear scan — the IVF build), then search only the nprobe=2
    cells nearest the query. At 100 TB the cell assignment partitions the
    index so a query touches ~nprobe/K of the data. The coarse quantizer
    here is deterministic (lowest-vec_id vectors) so the whole index is
    SQL-expressible and the oracle checks it end-to-end — a k-means
    quantizer plugs into the same seam without changing the plan shape.
    Similarities are rounded before every ORDER BY so float last-bits
    can't flip an ordering between engines."""
    K, NPROBE = 8, 2
    # per-vector norms once in the scan — the K-way assignment then costs
    # one fold per (vector, centroid), not three
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    c, cell = _seed_cells(e, K)
    q = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    probe = (
        c.crossJoin(F.broadcast(q))
        .orderBy(
            F.round(_cosine(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")), 6).desc(),
            F.col("cid"),
        )
        .limit(NPROBE)
        .select("cid")
    )
    return (
        cell.join(F.broadcast(probe), "cid")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "vec_cosine_topk_pandas",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("U5", "U1"),
)
def vec_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched pandas-UDF formulation of brute-force cosine
    top-k — the path to take when scoring needs a Python library (a real
    model, a tokenizer) instead of JVM folds: one numpy matmul per Arrow
    batch, query vector broadcast in the closure. Scores round to 6
    decimals before comparison/ordering, which absorbs the last-bit
    difference between numpy's pairwise summation and a sequential fold —
    so it shares the exact JVM query's oracle; tests/test_operators.py
    additionally asserts rank equality with vec_cosine_topk."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    qv = np.asarray(qrow.embedding, dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))
    qid = qrow.vec_id

    def _cos(emb):
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in emb])
        sims = (m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return pd.Series(sims)

    cos_sim = F.pandas_udf(_cos, T.DoubleType())

    return (
        e.filter(F.col("vec_id") != qid)
        .select("vec_id", F.round(cos_sim(F.col("embedding")), 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "vec_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         mm AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM e)
    SELECT vec_id,
           round(lo, 6) AS scale_lo,
           round(hi, 6) AS scale_hi,
           CAST(len(v) AS BIGINT) AS dim,
           CAST(list_sum(list_transform(v,
                 x -> CAST(least(floor((x - lo) / (hi - lo) * 256), 255) - 128 AS BIGINT)))
             AS BIGINT) AS q_checksum
    FROM mm
    """,
    tags=("U5", "F7"),
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization — the 4x storage/bandwidth compression
    step of an embedding pipeline: per-vector min/max affine scale to
    [-128, 127] (equal-width bins of 1/256; the hi endpoint's bin 256
    clamps to 255 → code 127). Pure JVM higher-order
    array functions, map-only, no shuffle. floor() on identically-ordered
    double arithmetic is bit-stable across engines (unlike round-half
    modes), so the oracle recomputes the quantized values exactly; the
    checked columns are the per-vector scale params + quantized-sum
    checksum (a flipped code anywhere shifts the sum)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    lo = F.array_min("v")
    hi = F.array_max("v")
    mm = e.select("vec_id", "v", lo.alias("lo"), hi.alias("hi"))
    qcode = F.transform(
        F.col("v"),
        lambda x: (
            F.least(
                F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 256),
                F.lit(255),
            )
            - 128
        ).cast("long"),
    )
    return mm.select(
        "vec_id",
        F.round("lo", 6).alias("scale_lo"),
        F.round("hi", 6).alias("scale_hi"),
        F.size("v").cast("long").alias("dim"),
        F.aggregate(qcode, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "q_checksum"
        ),
    )


def _py_d2(a, b):
    """Driver-side squared euclidean distance with the SAME left-fold
    accumulation order as the in-plan zip_with/aggregate form
    (acc + (x-y)*(x-y), element by element) — bit-identical doubles, so
    a collected codebook/query row can replace an in-plan crossJoin
    without perturbing any distance-ordered tie-break."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def _argmin_arrow(df, arms, carry):
    """Arrow-native literal-codebook argmin: ONE mapInArrow pass over `df`
    computes, for every arm ``(voff, [(cid, cv), ...])``, the winning
    centroid id and its squared distance over ``v[voff : voff+len(cv)]``.
    Output = the `carry` columns plus ``_cid{j}`` (long) / ``_d2{j}``
    (double) per arm.

    Bit-exact contract with the zip_with/aggregate fold (and _py_d2):
    acc starts at 0.0 and adds (x-c)^2 one DIMENSION at a time
    (vectorized across rows, looped over dims), so each row's fold order
    matches the expression form exactly — and ties resolve to the LOWEST
    cid (candidates are scored in ascending-cid order; np.argmin returns
    the first minimum).

    Why not the expression forms (r11, measured at sf100vec): a K x dim
    unrolled argmin puts a single giant expression into the fused
    doConsume — past Janino's 64KB method limit the compile FAILS
    ("Failed to compile the generated Java code", ~13 s per attempt per
    distinct literal set) and the interpreted fallback is slower than the
    zip_with/aggregate HOF, while the HOF form itself is interpreted
    row-at-a-time (4-argmin pass: 32.3 s over 2M vectors). The numpy
    batch loop (guide §4.2; the SemDeDup-matmul precedent) runs the same
    arithmetic vectorized (4.7 s -> ~2 s for that pass) with NO codegen.
    The mapInArrow node is also a projection barrier: downstream
    explodes/aggregates see plain attribute columns, never the codebook
    expressions, so CollapseProject cannot rebuild the giant tree."""
    import numpy as np
    import pyarrow as pa

    arms_np = []
    for voff, rows in arms:
        rows = sorted(rows, key=lambda t: int(t[0]))  # cid-asc tie-break
        arms_np.append(
            (
                int(voff),
                np.array([int(c) for c, _ in rows], dtype=np.int64),
                np.array([[float(x) for x in cv] for _, cv in rows],
                         dtype=np.float64),
            )
        )
    carry_ddl = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in carry
    )
    out_ddl = carry_ddl + "".join(
        f", _cid{j} long, _d2{j} double" for j in range(len(arms_np))
    )

    def assign(batches):
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            emb = b.column(b.schema.get_field_index("v"))
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            mat = np.ascontiguousarray(flat, dtype=np.float64).reshape(n, -1)
            cols = [b.column(b.schema.get_field_index(c)) for c in carry]
            names = list(carry)
            for j, (voff, cids, cmat) in enumerate(arms_np):
                kk, sub = cmat.shape
                dist = np.empty((n, kk), dtype=np.float64)
                for k in range(kk):
                    acc = np.zeros(n, dtype=np.float64)
                    for i in range(sub):
                        d = mat[:, voff + i] - cmat[k, i]
                        acc += d * d
                    dist[:, k] = acc
                idx = np.argmin(dist, axis=1)
                cols.append(pa.array(cids[idx], pa.int64()))
                cols.append(pa.array(dist[np.arange(n), idx], pa.float64()))
                names += [f"_cid{j}", f"_d2{j}"]
            yield pa.RecordBatch.from_arrays(cols, names)

    need = list(dict.fromkeys(list(carry) + ["v"]))
    return df.select(*need).mapInArrow(assign, out_ddl)


def _kmeans_centroids(e: DataFrame, k: int = 8, iters: int = 3):
    """Lloyd's k-means expressed in DataFrame ops — the iterative-algorithm
    pattern (like connected components): assign by squared euclidean
    argmin against the collected codebook (zero join/shuffle, see
    _argmin_arrow), recompute per-dimension means as `dim` flat avg
    aggregates, localCheckpoint each round to truncate lineage.
    Deterministic: init = the K lowest-vec_id vectors, argmin ties break
    on cid. Returns (centroids, [inertia per iteration]); with mean
    updates inertia is non-increasing — the self-audit invariant. The
    per-iteration driver scalar (one float) is convergence telemetry, the
    same shape every iterative distributed algorithm pays.

    Recompute shape (VERDICT r10 item 4): the old form exploded every
    assigned vector (`posexplode -> groupBy(cid, pos) -> collect_list`),
    shuffling N x dim ROWS per iteration — 128M exchange rows per round
    at sf100. `avg(v[i])` per dimension partial-aggregates map-side, so
    the exchange carries at most K rows per map partition (K x dim
    doubles total) and the reassembly is a plain array() — no second
    groupBy, no collect_list sort."""
    cents = e.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    inertia: list[float] = []
    for _ in range(iters):
        # bounded collect (K<=16 codebook rows; the loop already pulls a
        # driver scalar per round) -> zero-shuffle literal assignment
        rows = [(r["cid"], list(r["cv"])) for r in cents.collect()]
        if not rows:
            raise ValueError(
                "_kmeans_centroids: empty input — no vectors to train on; "
                "short-circuit to an empty result before training"
            )
        dim = len(rows[0][1])
        # Arrow-batched numpy assignment (see _argmin_arrow — the K x dim
        # expression forms either fail codegen compile or run interpreted
        # row-at-a-time).
        assigned = _argmin_arrow(e, [(0, rows)], carry=["vec_id", "v"]).select(
            "vec_id", "v", F.col("_d20").alias("_d2"), F.col("_cid0").alias("cid")
        )
        # r11 (guide §1.2/§2.4): the iteration's inertia scalar rides the
        # SAME job as the centroid recompute — per-cid sum(_d2) is one
        # more map-side-combined aggregate in the existing groupBy, and
        # the global inertia is the K-row sum of the checkpointed table.
        # The old separate `assigned.agg(sum(_d2))` action re-ran the
        # full assignment scan, doubling every Lloyd round's passes.
        cents = (
            assigned.groupBy("cid")
            .agg(
                *[F.avg(F.col("v")[i]).alias(f"_m{i}") for i in range(dim)],
                F.sum("_d2").alias("_w"),
            )
            .select(
                "cid",
                F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias("cv"),
                "_w",
            )
            .localCheckpoint(eager=True)
        )
        inertia.append(float(cents.agg(F.sum("_w")).first()[0]))
        cents = cents.select("cid", "cv")
    return cents, inertia


@query(
    "vec_ann_ivf_kmeans_topk",
    oracle="SELECT CAST(10 AS BIGINT) AS k, true AS recall_ok, true AS inertia_monotone",
    tags=("U5", "A7"),
)
def vec_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a REAL (k-means-trained) coarse quantizer — the
    production upgrade of vec_ann_ivf_topk's deterministic quantizer,
    plugged into the same cell-probe search seam. Training is 3 Lloyd
    rounds in pure DataFrame ops (_kmeans_centroids). Trained centroids
    are float-history-dependent (no cross-engine twin), so the
    hash-checkable form audits the two things that make the index valid:
    inertia non-increasing across rounds (Lloyd's invariant) and
    cosine recall>=0.8 of the nprobe=4/K=8 search vs the exact top-k
    computed inline."""
    K, NPROBE, TOPK = 8, 4, 10
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    cents, inertia = _kmeans_centroids(e.select("vec_id", "v"), k=K, iters=3)
    monotone = all(b <= a * (1 + 1e-9) for a, b in zip(inertia, inertia[1:]))

    # r11 (guide §1.2): 1-row bounded query fetch (the qrow pattern) —
    # the old broadcast(q) 1-row DataFrame re-ran a full TakeOrdered
    # corpus pass for each of its three consumers (probe/ann/exact).
    qrow = e.orderBy("vec_id").limit(1).collect()
    if not qrow:
        raise ValueError("vec_ann_ivf_kmeans_topk: empty embeddings table")
    qid = qrow[0]["vec_id"]
    qv = [float(x) for x in qrow[0]["v"]]
    qnrm = float(qrow[0]["nrm"])
    # trained codebook is K=8 rows — zero-shuffle Arrow-batched
    # assignment (see _argmin_arrow)
    crows = [(r["cid"], list(r["cv"])) for r in cents.collect()]
    cell = _argmin_arrow(e, [(0, crows)], carry=["vec_id", "v", "nrm"]).select(
        "vec_id", "v", "nrm", F.col("_cid0").alias("cid")
    )
    # r11: the probe set (NPROBE nearest centroids to the query) is a
    # pure driver computation over the already-collected K-row codebook —
    # _py_d2 keeps the old zip_with fold order, so distances and the
    # (d2, cid) tie-break are bit-identical; the old form paid a
    # crossJoin + broadcast build that re-scanned the corpus for q.
    probe_cids = [
        cid
        for _, cid in sorted(
            (_py_d2(qv, cv), cid) for cid, cv in crows
        )[:NPROBE]
    ]
    qv_lit = F.array(*[F.lit(x) for x in qv])
    sim = _dot(F.col("v"), qv_lit) / (F.col("nrm") * F.lit(qnrm))
    ann = (
        cell.filter(F.col("cid").isin([int(c) for c in probe_cids]))
        .filter(F.col("vec_id") != F.lit(qid))
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOPK)
    )
    exact = (
        e.filter(F.col("vec_id") != F.lit(qid))
        .select("vec_id", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOPK)
    )
    hits = (
        ann.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.select(
        F.lit(TOPK).cast("long").alias("k"),
        (F.col("n_hits") >= 8).alias("recall_ok"),
        F.lit(monotone).alias("inertia_monotone"),
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT b.vec_id, b.label
    FROM e b
    WHERE NOT EXISTS (
      SELECT 1 FROM e a
      WHERE a.label = b.label AND a.vec_id < b.vec_id
        AND list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    )
    """,
    tags=("U6", "U5", "J2"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP (not just the pair list):
    survivors under the min-id canonical rule — drop a vector iff some
    lower-id vector in its block is cosine-similar above the 0.4
    threshold. Candidate generation is the same label-blocked equi-join
    as vec_neardup_pairs (per-block pairs, never all-pairs); the survivor
    pass is a LEFT ANTI join of the corpus against the dropped-id side of
    the pair set.

    Scale honesty: like vec_neardup_pairs, the 10-label blocking key is
    CONSTANT-cardinality, so the pair stage is O(N^2/10) — an exact
    AUDIT ARM, not a 100-TB path (and no output-sensitive short-circuit
    helps: at threshold 0.4 with max intra-label cosine ~0.47, matches
    are rare, so certifying a survivor requires checking ~all its block
    pairs). The production shape swaps the label key for a blocking key
    whose cardinality grows with N — dedup_semantic_clusters' cells
    (exact at its own threshold) or MinHash/SimHash bands (recall<1,
    audited) — feeding the same anti-join. _fence_quadratic_audit makes
    the audit-arm policy executable: oversized inputs raise instead of
    walling."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    e = _fence_quadratic_audit(e, "dedup_embedding_cosine")
    a = e.alias("a")
    b = e.alias("b")
    sim = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dropped = (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(sim >= 0.4)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


@query(
    "vec_ann_pq_topk",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS k,
           CAST(64 AS BIGINT) AS compression_x,
           true AS recall_ok, true AS inertia_monotone
    """,
    tags=("U5", "A7"),
)
def vec_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-ranking (the IVFADC+R shape,
    Jégou et al., PAMI 2011) — the memory-side complement to IVF's
    compute-side pruning. The 64-dim float32 vectors compress 64x into M=4
    one-byte codes: each 16-dim subspace gets its own K=16 k-means codebook
    (trained with the same deterministic Lloyd loop as
    vec_ann_ivf_kmeans_topk). Search is two-stage: (1) Asymmetric Distance
    Computation builds one K-entry lookup table per subspace from the query
    (M*K = 64 floats, broadcast) and scores every database vector with M
    table lookups + adds over its CODES — the full vectors never enter this
    scan — keeping a shortlist; (2) only the shortlist re-joins the
    float vectors for exact L2 re-ranking to top-10. At 100 TB stage 1
    touches 4 bytes/vector instead of 256 (RAM-resident codes) and stage 2
    reads the shortlist, not 10^9 vectors. The shortlist scales as
    max(100, N/20): with M=4 coarse codebooks the ADC distortion is a
    constant fraction of intra-cluster distances, so a FIXED shortlist's
    recall decays as the corpus grows past it (measured: recall@10 0.7+
    at 2k vectors but <0.7 at 20k with shortlist 100) — the re-rank
    budget is a corpus-relative knob, exactly as IVFADC+R tunes R with N.
    Codebooks are float-history-dependent (no cross-engine twin), so the
    hash-checked form audits the invariants that make the index valid:
    per-subspace quantization error non-increasing over Lloyd rounds, and
    re-ranked recall@10 >= 0.7 vs the exact top-k computed inline."""
    M, SUBDIM, K, TOPK = 4, 16, 16, 10
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    # one bounded driver scalar (the _SEM pattern) sizing the re-rank budget
    SHORTLIST = max(100, e.count() // 20)
    # r11 (guide §1.2): the 1-row query vector is a bounded driver fetch
    # (the qrow pattern) — the old broadcast(q) 1-row DataFrame re-ran a
    # full TakeOrdered pass over the corpus for EVERY consumer that
    # rebuilt it (4 LUTs + shortlist + rerank + exact = up to 7 passes).
    qrow = e.orderBy("vec_id").limit(1).collect()
    if not qrow:
        raise ValueError("vec_ann_pq_topk: empty embeddings table")
    qid, qv = qrow[0]["vec_id"], [float(x) for x in qrow[0]["v"]]

    # r11 (guide §1.2/§2.4/§4.2): joint training of all M subspace
    # codebooks. The old loop ran M=4 independent _kmeans_centroids, each
    # paying its own init TakeOrdered + per-iteration passes (~20 full
    # corpus scans). The init rows are the SAME K lowest-vec_id vectors
    # for every subspace (one pass, sliced driver-side, bit-identical to
    # slicing in the plan), and each Lloyd round is ONE pass: the 4
    # per-subspace argmins run in a single Arrow-batched numpy map (see
    # _argmin_arrow — the expression forms either fail codegen compile or
    # run interpreted row-at-a-time), then the 4 TINY computed
    # (m, cid, d2) structs explode into groupBy(m, cid) with map-side
    # partial combine (the exchange carries <= M*K rows per map task);
    # the subspace means read v[m*SUBDIM+i] directly (column-indexed, no
    # slice copies), and the mapInArrow node is the projection barrier
    # that keeps the explode's generator input tiny. Inertia rides the
    # same aggregate as sum(_d2) per group (math.fsum driver-side, so the
    # scalar is independent of collect order); it feeds only the
    # monotonicity audit boolean, same as before.
    import math

    seed_rows = sorted(
        e.orderBy("vec_id").limit(K).collect(), key=lambda r: r["vec_id"]
    )
    codebooks = [
        [
            (r["vec_id"], [float(x) for x in r["v"]][m * SUBDIM:(m + 1) * SUBDIM])
            for r in seed_rows
        ]
        for m in range(M)
    ]
    inertias = [[] for _ in range(M)]  # per-subspace inertia per iteration
    for _ in range(2):
        assigned = _argmin_arrow(
            e,
            [(m * SUBDIM, codebooks[m]) for m in range(M)],
            carry=["v"],
        )
        stats = (
            assigned.select(
                "v",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(m).alias("m"),
                                F.col(f"_cid{m}").alias("cid"),
                                F.col(f"_d2{m}").alias("_d2"),
                            )
                            for m in range(M)
                        ]
                    )
                ).alias("s"),
            )
            .select("v", "s.m", "s.cid", "s._d2")
            .groupBy("m", "cid")
            .agg(
                *[
                    F.avg(F.col("v")[F.col("m") * SUBDIM + i]).alias(f"_a{i}")
                    for i in range(SUBDIM)
                ],
                F.sum("_d2").alias("_w"),
            )
            .collect()
        )
        new_cb: list[list] = [[] for _ in range(M)]
        for r in stats:
            new_cb[r["m"]].append(
                (r["cid"], [r[f"_a{i}"] for i in range(SUBDIM)])
            )
        for m in range(M):
            new_cb[m].sort(key=lambda t: t[0])
            inertias[m].append(
                math.fsum(r["_w"] for r in stats if r["m"] == m)
            )
        codebooks = new_cb
    monotone = all(
        b <= a * (1 + 1e-9)
        for ins in inertias
        for a, b in zip(ins, ins[1:])
    )

    # all M code columns in ONE Arrow-batched map-only pass
    codes = _argmin_arrow(
        e,
        [(m * SUBDIM, codebooks[m]) for m in range(M)],
        carry=["vec_id"],
    ).select(
        "vec_id", *[F.col(f"_cid{m}").alias(f"code{m}") for m in range(M)]
    )

    # stage 1 — ADC scan over codes only (the vectors never enter this
    # plan). r11: the per-subspace LUT (query-to-centroid d2, K entries)
    # is computed driver-side from the collected codebooks with the same
    # left-fold (x-y)*(x-y) accumulation as the old in-plan zip_with —
    # bit-identical doubles — and applied as a literal CASE chain, so the
    # ADC stage is pure codegen with ZERO joins (was 4 broadcast joins +
    # a crossJoin whose builds re-ran corpus passes).
    def _lut_expr(m):
        qsub = qv[m * SUBDIM:(m + 1) * SUBDIM]
        expr = None
        for cid, cv in codebooks[m]:
            d = _py_d2(cv, qsub)
            cond = F.col(f"code{m}") == F.lit(int(cid)).cast("long")
            expr = F.when(cond, F.lit(d)) if expr is None else expr.when(cond, F.lit(d))
        return expr

    shortlist = (
        codes.filter(F.col("vec_id") != F.lit(qid))
        .select(
            "vec_id", sum(_lut_expr(m) for m in range(M)).alias("adc_d2")
        )
        .orderBy(F.col("adc_d2").asc(), "vec_id")
        .limit(SHORTLIST)
    )

    # stage 2 — exact re-rank of the shortlist only (query as literals;
    # same fold order as the old zip_with against the broadcast row)
    qv_lit = F.array(*[F.lit(x) for x in qv])
    qd2 = F.aggregate(
        F.zip_with(F.col("v"), qv_lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rerank = (
        shortlist.join(e, "vec_id")
        .select("vec_id", qd2.alias("d2"))
        .orderBy(F.col("d2").asc(), "vec_id")
        .limit(TOPK)
    )
    exact = (
        e.filter(F.col("vec_id") != F.lit(qid))
        .select("vec_id", qd2.alias("d2"))
        .orderBy(F.col("d2").asc(), "vec_id")
        .limit(TOPK)
    )
    hits = (
        rerank.select("vec_id")
        .join(exact.select("vec_id"), "vec_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.select(
        F.lit(TOPK).cast("long").alias("k"),
        F.lit(64).cast("long").alias("compression_x"),
        (F.col("n_hits") >= 7).alias("recall_ok"),
        F.lit(monotone).alias("inertia_monotone"),
    )


@query(
    "vec_hard_negatives",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
               FROM e ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM e, q
    WHERE e.label <> q.qlabel
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("U5",),
)
def vec_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op: for a query
    vector, the most-similar vectors with a DIFFERENT label (the negatives
    that actually teach the model something; random negatives are too easy).
    Identical plan shape to vec_cosine_topk — broadcast query row, JVM fold,
    label-inequality pushed into the scan filter, TakeOrderedAndProject —
    so at 100 TB it is one map-side pass over the embeddings. In a full
    pipeline this runs per training batch with the ANN index (IVF/PQ)
    supplying candidates; the exact form here is its correctness oracle."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    q = (
        e.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    sim = _dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm"))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select("vec_id", "label", F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "vec_matryoshka_truncate",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         t AS (SELECT vec_id, v[1:16] AS tv FROM e),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1),
         tq AS (SELECT vec_id AS qid, tv AS qtv FROM t ORDER BY vec_id LIMIT 1),
         full_topk AS (
           SELECT e.vec_id FROM e, q WHERE e.vec_id <> q.qid
           ORDER BY list_dot_product(e.v, q.qv)
                    / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))
                    DESC, e.vec_id
           LIMIT 10
         ),
         trunc_topk AS (
           SELECT t.vec_id FROM t, tq WHERE t.vec_id <> tq.qid
           ORDER BY list_dot_product(t.tv, tq.qtv)
                    / (sqrt(list_dot_product(t.tv, t.tv)) * sqrt(list_dot_product(tq.qtv, tq.qtv)))
                    DESC, t.vec_id
           LIMIT 10
         )
    SELECT CAST(16 AS BIGINT) AS kept_dims,
           CAST(4 AS BIGINT) AS compression_x,
           CAST((SELECT count(*) FROM full_topk f JOIN trunc_topk t ON f.vec_id = t.vec_id) AS BIGINT)
             AS n_overlap
    """,
    tags=("U5", "P1"),
)
def vec_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation (Kusupati et al., NeurIPS
    2022): keep only the first 16 of 64 dimensions and renormalize — the
    zero-compute 4x compression used for coarse retrieval tiers when
    embeddings are trained front-loaded. The audit measures exactly what a
    retrieval tier cares about: the overlap between the truncated-space
    cosine top-10 and the full-space top-10, computed inline (both sides
    JVM folds over broadcast query rows). Unlike PQ/IVF this is pure
    projection — a column expression, no training, no index build — so
    BOTH engines can compute the entire audit exactly and the overlap
    count itself is hash-gated (not a thresholded boolean: the testdata's
    first 16 dims carry whatever signal they carry, and both engines must
    agree on precisely how much)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    t = e.select("vec_id", F.slice("v", 1, 16).alias("tv"))

    def topk(df, vec_col: str):
        q = (
            df.orderBy("vec_id")
            .limit(1)
            .select(F.col("vec_id").alias("qid"), F.col(vec_col).alias("qv"))
        )
        nrm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
        qnrm = F.sqrt(_dot(F.col("qv"), F.col("qv")))
        sim = _dot(F.col(vec_col), F.col("qv")) / (nrm * qnrm)
        return (
            df.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("vec_id", sim.alias("s"))
            .orderBy(F.col("s").desc(), "vec_id")
            .limit(10)
            .select("vec_id")
        )

    overlap = topk(e, "v").join(topk(t, "tv"), "vec_id").agg(
        F.count("*").alias("n_overlap")
    )
    return overlap.select(
        F.lit(16).cast("long").alias("kept_dims"),
        F.lit(4).cast("long").alias("compression_x"),
        F.col("n_overlap").cast("long"),
    )


@query(
    "vec_ann_recall_curve",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1),
         assign AS (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY round(list_dot_product(e.v, c.cv)
                          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid) AS rn
           FROM e, c
         ),
         cell AS (SELECT vec_id, v, cid FROM assign WHERE rn = 1),
         pr AS (
           SELECT c.cid,
                  row_number() OVER (
                    ORDER BY round(list_dot_product(q.qv, c.cv)
                          / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid) AS prk
           FROM c, q
         ),
         exact AS (
           SELECT e.vec_id FROM e, q WHERE e.vec_id <> q.qid
           ORDER BY round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
             e.vec_id
           LIMIT 10
         ),
         cand AS (
           SELECT p.nprobe, cell.vec_id,
                  round(list_dot_product(cell.v, q.qv)
                        / (sqrt(list_dot_product(cell.v, cell.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
                    AS sim
           FROM cell JOIN pr USING (cid)
                JOIN (SELECT unnest(range(1, 5)) AS nprobe) p ON pr.prk <= p.nprobe,
                q
           WHERE cell.vec_id <> q.qid
         ),
         ranked AS (
           SELECT nprobe, vec_id,
                  row_number() OVER (PARTITION BY nprobe
                                     ORDER BY sim DESC, vec_id) AS rn
           FROM cand
         )
    SELECT r.nprobe, CAST(count(x.vec_id) AS BIGINT) AS n_hits
    FROM ranked r LEFT JOIN exact x ON r.vec_id = x.vec_id
    WHERE r.rn <= 10
    GROUP BY r.nprobe
    """,
    tags=("U5", "W1"),
)
def vec_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve — recall@10 as a function of nprobe (1..4) over
    the deterministic IVF index: the accuracy/cost trade-off an operator
    actually consults before picking a probe budget (each +1 nprobe scans
    one more of the 8 cells ≈ +12.5% of the data). Per-nprobe candidate
    sets come from ONE probe-rank table (cells ranked by query similarity)
    joined against a tiny nprobe range — the index is built once, not per
    setting. The whole curve is hash-gated exactly: deterministic
    quantizer, rounded similarities, integer hit counts — no thresholded
    booleans."""
    from pyspark.sql import Window as W

    K, MAXPROBE, TOPK = 8, 4, 10
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    c, cell = _seed_cells(e, K)
    q = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    pr = (
        c.crossJoin(F.broadcast(q))
        .select(
            "cid",
            F.row_number()
            .over(
                W.orderBy(
                    F.round(
                        _cosine(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")), 6
                    ).desc(),
                    F.col("cid"),
                )
            )
            .alias("prk"),
        )
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6).alias("s"),
        )
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    nprobes = spark.range(1, MAXPROBE + 1).select(F.col("id").alias("nprobe"))
    cand = (
        cell.join(F.broadcast(pr), "cid")
        .join(F.broadcast(nprobes), F.col("prk") <= F.col("nprobe"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "nprobe",
            "vec_id",
            F.round(_cosine(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6).alias("sim"),
        )
    )
    ranked = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("nprobe").orderBy(F.col("sim").desc(), "vec_id")
        ),
    ).filter(F.col("rn") <= TOPK)
    return (
        ranked.join(exact.withColumnRenamed("vec_id", "hit_id"),
                    ranked.vec_id == F.col("hit_id"), "left")
        .groupBy("nprobe")
        .agg(F.count("hit_id").cast("long").alias("n_hits"))
    )


@query(
    "vec_topk_mapinarrow",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("U5", "U1"),
)
def vec_topk_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-NATIVE formulation of brute-force cosine top-k —
    mapInArrow hands each partition's RecordBatches straight to numpy
    with zero pandas materialization, the cheapest possible
    JVM→Python→JVM round trip (one contiguous buffer per batch each
    way; the pandas_udf variant pays a Series wrap per column on top).
    The list<float> column flattens to one contiguous float buffer and
    reshapes to a (rows, dim) matrix for a single BLAS matmul per batch.
    Rounding to 6 decimals happens JVM-side after the UDF (same
    discipline as vec_cosine_topk_pandas), absorbing summation-order
    last-bit drift, so all three formulations share one oracle;
    TakeOrderedAndProject caps the result. This is the execution
    strategy to reach for when per-vector scoring needs a real Python
    model at 100 TB: Arrow batch size bounds executor Python memory and
    the scan stays columnar end-to-end."""
    import numpy as np
    import pyarrow as pa

    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.orderBy("vec_id").limit(1).collect()[0]  # 1-row fetch, bounded
    qv = np.asarray(qrow.embedding, dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))
    qid = qrow.vec_id

    def score(batches):
        for b in batches:
            ids = b.column(b.schema.get_field_index("vec_id"))
            emb = b.column(b.schema.get_field_index("embedding"))
            n = len(b)
            if n == 0:
                continue
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            m = flat.reshape(n, -1)
            sims = (m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sims, pa.float64())], ["vec_id", "cos_sim"]
            )

    scored = (
        e.filter(F.col("vec_id") != qid)
        .select("vec_id", "embedding")
        .mapInArrow(score, "vec_id long, cos_sim double")
    )
    return (
        scored.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_BQ_CAND = 50  # hamming candidates fed to the exact rerank
_BQ_K = 10


@query(
    "vec_binary_hamming_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         p AS (SELECT vec_id, v,
                      list_reduce(list_transform(range(1, 33),
                        i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END),
                        (a, b) -> a | b) AS w0,
                      list_reduce(list_transform(range(33, 65),
                        i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END),
                        (a, b) -> a | b) AS w1
               FROM e),
         q AS (SELECT vec_id AS qid, v AS qv, w0 AS qw0, w1 AS qw1
               FROM p ORDER BY vec_id LIMIT 1),
         cand AS (
           SELECT p.vec_id, p.v,
                  CAST(bit_count(CAST(xor(p.w0, q.qw0) AS BIGINT))
                       + bit_count(CAST(xor(p.w1, q.qw1) AS BIGINT)) AS BIGINT) AS hamming,
                  q.qv
           FROM p, q
           WHERE p.vec_id <> q.qid
           ORDER BY hamming, p.vec_id
           LIMIT {_BQ_CAND}
         )
    SELECT vec_id, hamming,
           round(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM cand
    ORDER BY cos_sim DESC, vec_id
    LIMIT {_BQ_K}
    """,
    tags=("U5", "F8"),
)
def vec_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN — the 1-bit compression tier modern vector
    stores put in front of everything else (256x smaller than float32):
    sign-bit-pack each embedding into two int64 words (32 dims per word —
    bit 63 shifts overflow portably), retrieve by Hamming distance
    (bit_count of XOR — a handful of ALU ops per comparison, all inside
    whole-stage codegen), then exactly rerank the top-{_BQ_CAND}
    candidates by true cosine. Packing is map-only in the scan; the
    Hamming scan touches 16 bytes per vector (the 100 TB property: the
    candidate stage reads the packed column only, like PQ's ADC scan);
    TakeOrderedAndProject caps candidates before the 50-row rerank. Both
    stages and the tie-broken candidate cut are replicated exactly in
    the SQL twin — retrieval AND rerank are hash-gated, not just
    recall-thresholded."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )

    def pack(lo: int):
        # shiftleft needs a column-valued bit index — SQL form (the Python
        # helper only accepts a literal int for numBits)
        return F.expr(
            f"aggregate(transform(slice(v, {lo}, 32),"
            f" (x, i) -> IF(x > CAST(0 AS DOUBLE), shiftleft(1L, i), 0L)),"
            f" 0L, (a, b) -> a | b)"
        )

    p = e.select("vec_id", "v", pack(1).alias("w0"), pack(33).alias("w1"))
    q = (
        p.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("w0").alias("qw0"),
            F.col("w1").alias("qw1"),
        )
    )
    hamming = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("qw0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("qw1")))
    ).cast("long")
    cand = (
        p.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("vec_id", "v", "qv", hamming.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(_BQ_CAND)
    )
    cos = _dot(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        cand.select("vec_id", "hamming", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_BQ_K)
    )


@query(
    "vec_mips_transform",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    m AS (SELECT max(nrm) AS mx FROM n),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n ORDER BY vec_id LIMIT 1),
    scored AS (
      SELECT n.vec_id,
             round(list_dot_product(n.v, q.qv), 6) AS dot,
             round(list_dot_product(n.v, q.qv) / (q.qnrm * m.mx), 6) AS aug_cos
      FROM n, q, m
      WHERE n.vec_id <> q.qid
    ),
    ranked AS (
      SELECT vec_id, dot, aug_cos,
             row_number() OVER (ORDER BY aug_cos DESC, vec_id) AS rk_aug,
             row_number() OVER (ORDER BY dot DESC, vec_id) AS rk_dot
      FROM scored
    )
    SELECT vec_id, dot, aug_cos, rk_aug AS rank,
           CAST(rk_aug = rk_dot AS BOOLEAN) AS mips_rank_preserved
    FROM ranked
    WHERE rk_aug <= 10
    ORDER BY rk_aug
    """,
    tags=("U5", "F4"),
)
def vec_mips_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the norm-augmentation reduction
    (Bachrach et al. / the standard MIPS→cosine trick recsys retrieval
    uses): append sqrt(M² − ‖x‖²) to every item vector (M = max norm)
    and 0 to the query — every augmented item then has norm exactly M,
    so cosine against the augmented query is dot/(‖q‖·M), MONOTONE in
    the raw inner product, and any cosine-ANN index (the IVF/LSH/PQ
    family here) serves inner-product queries unchanged. The query
    emits the top-10 by augmented cosine alongside the raw dot and a
    per-row mips_rank_preserved audit (rank by aug_cos == rank by dot —
    the reduction's defining property, checked as data, same tie-break).
    Float discipline: both scores round to 6 before ranking; M is a max
    of identical doubles. Scale shape: one 1-row norm-max aggregate, one
    broadcast of (query, M), then the same TakeOrderedAndProject scan as
    vec_cosine_topk — no shuffle of the embedding table."""
    from pyspark.sql import Window as W

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    m = e.agg(F.max("nrm").alias("mx"))
    q = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(m))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id",
            F.round(_dot(F.col("v"), F.col("qv")), 6).alias("dot"),
            F.round(
                _dot(F.col("v"), F.col("qv")) / (F.col("qnrm") * F.col("mx")), 6
            ).alias("aug_cos"),
        )
    )
    rk_aug = F.row_number().over(W.orderBy(F.col("aug_cos").desc(), "vec_id"))
    rk_dot = F.row_number().over(W.orderBy(F.col("dot").desc(), "vec_id"))
    ranked = scored.select(
        "vec_id", "dot", "aug_cos", rk_aug.alias("rank"), rk_dot.alias("rk_dot")
    )
    return (
        ranked.filter(F.col("rank") <= 10)
        .select(
            "vec_id",
            "dot",
            "aug_cos",
            "rank",
            (F.col("rank") == F.col("rk_dot")).alias("mips_rank_preserved"),
        )
    )


_SEM_K = 8
_SEM_TARGET = 256  # target cluster size: K = max(_SEM_K, N // _SEM_TARGET)
_SEM_SCALE = 1024  # embedding quantization: q = floor(x*1024 + 0.5)
_SEM_TAU = 0.30  # enforced as the exact rational 100*dot^2 >= 9*na2*nb2


def sem_sql_ctes(src: str) -> str:
    """DuckDB CTE block (eq/c/assign/cell/dropped) for the INTEGER-EXACT
    SemDeDup pipeline over ``src`` rows (vec_id, embedding) — the SQL
    twin of semantic_cells_drops, shared by dedup_semantic_clusters and
    corpus_build_pipeline_v4 so the two oracles cannot drift."""
    return f"""
    eq0 AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * {_SEM_SCALE} + 0.5) AS BIGINT)) AS q
            FROM {src}),
    eq AS (SELECT vec_id, q,
             CAST(list_sum([q[i]*q[i] for i in generate_series(1, len(q))]) AS BIGINT) AS na2
           FROM eq0),
    c AS (SELECT vec_id AS cid, q AS cq FROM eq ORDER BY vec_id
          LIMIT greatest({_SEM_K}, (SELECT count(*) FROM eq) // {_SEM_TARGET})),
    assign AS (
      SELECT eq.vec_id, eq.q, eq.na2, c.cid,
             row_number() OVER (
               PARTITION BY eq.vec_id
               ORDER BY CAST(list_sum([(eq.q[i]-c.cq[i])*(eq.q[i]-c.cq[i])
                          for i in generate_series(1, len(eq.q))]) AS BIGINT) ASC,
                 c.cid) AS rn
      FROM eq, c),
    cell AS (SELECT vec_id, q, na2, cid FROM assign WHERE rn = 1),
    pair AS (
      SELECT a.cid, a.vec_id,
             CAST(list_sum([a.q[i]*b.q[i] for i in generate_series(1, len(a.q))]) AS BIGINT) AS dot,
             a.na2 AS na2a, b.na2 AS na2b
      FROM cell a JOIN cell b ON a.cid = b.cid AND b.vec_id < a.vec_id),
    dropped AS (SELECT DISTINCT cid, vec_id FROM pair
                WHERE dot > 0 AND 100 * dot * dot >= 9 * na2a * na2b)
    """


def semantic_cells_drops(e: DataFrame, checkpoint: bool = True):
    """SemDeDup core shared by dedup_semantic_clusters and the corpus
    pipeline, INTEGER-EXACT end to end so the result can never flip on a
    float last-bit at any scale (the sf1 lesson: ~20k clustered vectors
    put thousands of pairs within double-rounding distance of a cosine
    threshold). Embeddings quantize to q = floor(x*1024 + 0.5) — an
    exact function of the float bits — then assignment is BIGINT
    squared-euclidean argmin to the K = max(_SEM_K, N/_SEM_TARGET)
    lowest-id seeds (one bounded driver scalar for the count) and the
    drop rule cos >= 0.3 becomes the exact rational test
    dot > 0 AND 100*dot^2 >= 9*|a|^2*|b|^2 on the quantized ints.
    BIGINT headroom: dim * (scale*|x|)^2 must stay under 2^31 so
    100*dot^2 fits — dim 64 at |x|<=2 is safe. ``e`` must carry
    (vec_id, v[array<double>]). Returns (cell: vec_id/q/na2/cid,
    dropped: cid/vec_id/is_dropped).

    Seed assignment is an Arrow-batched exact integer matmul, not a
    JVM crossJoin: because K grows as N/256, the N x K assignment is
    O(N^2/256) pairs — at sf100 (2M vectors, K=7812) the old
    crossJoin->window plan materialized 15.6B rows into the window's
    hashpartitioning(vec_id) exchange (~15 TB of shuffle; measured
    2026-08-16: filled 17 GB of shuffle disk in minutes with zero task
    progress, the one genuine does-not-complete wall the vector spine
    found). The matmul form scores each Arrow batch against the
    broadcast codebook with one BLAS call per row-chunk and shuffles
    NOTHING (assignment is map-only). Exactness is preserved bit-for-
    bit: all inputs are integers, |q[i]| <= 2048 so every dot/norm
    term is < 2^31 — exactly representable in float64, so the float
    argmin compares exact integers, and numpy argmin's first-occurrence
    rule on a cid-ascending codebook IS the window's (d2 asc, cid asc)
    tie-break. The codebook collect is bounded by the coarse-quantizer
    invariant (codebook << corpus: K rows of 64 longs; 4 MB at sf100) —
    the same bound every IVF index and SemDeDup deployment assumes; a
    corpus big enough to break it gets a two-level quantizer in front,
    same seam."""

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    quant = F.transform(
        F.col("v"), lambda x: F.floor(x * _SEM_SCALE + F.lit(0.5)).cast("long")
    )
    eq = (
        e.select("vec_id", quant.alias("q"))
        .withColumn("na2", idot(F.col("q"), F.col("q")))
        # materialize once: count(), the seed limit, and the cell build
        # would each re-execute e's (possibly join-heavy) subtree
        .localCheckpoint(eager=False)
    )
    k = max(_SEM_K, eq.count() // _SEM_TARGET)
    # bounded collect: the coarse codebook (K rows of 64 longs, K=N/256 —
    # 4 MB at sf100; see docstring for the codebook<<corpus invariant)
    seeds = eq.orderBy("vec_id").limit(k).select("vec_id", "q").collect()
    # defensive: the matmul tie-break (numpy argmin first-occurrence ==
    # window's d2 asc, cid asc) requires the codebook rows cid-ASCENDING;
    # don't let it ride on collect() preserving the orderBy through the
    # projection (r10 advice) — integer-exact ties ARE plausible on the
    # quantized grid
    seeds = sorted(seeds, key=lambda r: r.vec_id)
    import numpy as np

    spark = eq.sparkSession
    if not seeds:
        # empty corpus (e.g. a pipeline's survivor semi-join matched no
        # vectors): return empty frames instead of letting the (0,)-shaped
        # codebook crash the matmul at plan-build time
        cell = spark.createDataFrame(
            [], "vec_id long, q array<long>, na2 long, cid long"
        )
        dropped = spark.createDataFrame(
            [], "cid long, vec_id long, is_dropped long"
        )
        return cell, dropped

    cmat = np.array([r.q for r in seeds], dtype=np.float64)  # K x dim
    cid_arr = np.array([r.vec_id for r in seeds], dtype=np.int64)  # cid asc
    nc2 = (cmat * cmat).sum(axis=1)  # K, exact ints in float64
    # plain closure capture: pyspark ships (and auto-broadcasts) the
    # pickled command per stage and reclaims it with the plan — an
    # explicit sc.broadcast would pin the codebook on the driver for the
    # session lifetime across repeated calls (r10 review finding)
    codebook = (cmat, cid_arr, nc2)

    def _assign(batches):
        import numpy as _np
        import pyarrow as pa

        cm, cids, c2 = codebook
        dim = cm.shape[1]
        # chunk rows so the n x K score matrix stays ~32 MB
        chunk = max(1, (1 << 22) // max(1, cm.shape[0]))
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            qcol = b.column(b.schema.get_field_index("q"))
            qm = (
                qcol.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(_np.float64)
                .reshape(n, dim)
            )
            out = _np.empty(n, dtype=_np.int64)
            for lo in range(0, n, chunk):
                sl = qm[lo : lo + chunk]
                # argmin d2 = argmin(|c|^2 - 2 q.c): |q|^2 is constant per
                # row; all terms exact integers in float64 (docstring)
                scores = c2 - 2.0 * (sl @ cm.T)
                out[lo : lo + chunk] = cids[scores.argmin(axis=1)]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    qcol,
                    b.column(b.schema.get_field_index("na2")),
                    pa.array(out, pa.int64()),
                ],
                ["vec_id", "q", "na2", "cid"],
            )

    cell = eq.select("vec_id", "q", "na2").mapInArrow(
        _assign, "vec_id long, q array<long>, na2 long, cid long"
    )
    if checkpoint:
        # consumed by both sides of the pair self-join AND the caller's
        # census — checkpoint so the N x K assignment runs once
        # (checkpoint=False exists for the plan-shape pin: localCheckpoint
        # replaces the lineage with a LogicalRDD, hiding the shape)
        cell = cell.localCheckpoint(eager=False)
    a, b = cell.alias("a"), cell.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .withColumn("_dot", idot(F.col("a.q"), F.col("b.q")))
        .filter(
            (F.col("_dot") > 0)
            & (
                F.lit(100) * F.col("_dot") * F.col("_dot")
                >= F.lit(9) * F.col("a.na2") * F.col("b.na2")
            )
        )
        .select(F.col("a.cid").alias("cid"), F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1).cast("long"))
    )
    return cell, dropped


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH {sem_sql_ctes("embeddings")}
    SELECT cell.cid,
           count(*) AS n_members,
           CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(coalesce(sum(d.vec_id), 0) AS BIGINT) AS drop_checksum
    FROM cell LEFT JOIN dropped d
      ON cell.cid = d.cid AND cell.vec_id = d.vec_id
    GROUP BY cell.cid
    """,
    tags=("U5", "U6"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): cluster the embedding space coarsely, then search for
    near-duplicates ONLY within each cluster — the clustering turns the
    O(N²) all-pairs problem into Σ O(|cluster|²) with the shuffle keyed
    on cluster id. The whole pipeline is INTEGER-EXACT
    (semantic_cells_drops: quantize -> BIGINT euclidean argmin to
    max({_SEM_K}, N/{_SEM_TARGET}) lowest-id seeds -> exact rational
    cosine test), so it is SQL-expressible, exactly oracled, AND immune
    to float-last-bit flips at any scale; a k-means quantizer plugs into
    the same seam. Within a cluster, a vector is DROPPED iff a
    lower-vec_id member sits at quantized cosine >= {_SEM_TAU} — the
    deterministic keep-one rule (the paper keeps a random representative
    per epsilon-group; lowest-id is the hash-checkable variant). Output
    is the per-cluster census: members, drops, and a drop-id checksum so
    a single misclassified drop flips the hash.

    100 TB design: K scales with N (K ≈ N/target_cluster_size) so
    |cluster| stays bounded and the within-cluster pairwise join is
    bounded work per shuffle partition; megaclusters get the salted
    re-blocking treatment (join_fuzzy_blocked's hierarchy). The paper's
    centroid-distance shortcut (rank members by distance-to-centroid,
    compare only adjacent ranks) drops the within-cluster cost to
    O(|cluster| log |cluster|) at a measured recall cost — same seam,
    selectable, not default."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cell, dropped = semantic_cells_drops(e)
    return (
        cell.select("cid", "vec_id")
        .join(dropped, ["cid", "vec_id"], "left")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("is_dropped").isNotNull(), F.col("vec_id")).otherwise(0)
            )
            .cast("long")
            .alias("drop_checksum"),
        )
    )


# --- Johnson-Lindenstrauss signed random projection ------------------------
_JL_OUT = 16  # projected dims (4x compression of the 64-dim embeddings)
_JL_IN = 64
_JL_KS = (1, 5, 10)

# Deterministic +/-1 "random" sign for matrix cell (i, j): a Weyl-style
# integer mix both engines evaluate identically (pure BIGINT arithmetic,
# no engine RNG). 48 of 97 residues map to +1.
_JL_SIGN = "(({i} * 2654435761 + {j} * 40503) % 97) < 48"


def _jl_idot_sql(a: str, b: str) -> str:
    """Exact BIGINT dot product of two DuckDB BIGINT lists."""
    return (
        f"CAST(list_sum([{a}[i] * {b}[i]"
        f" for i in generate_series(1, len({a}))]) AS BIGINT)"
    )


def _jl_cos_sql(a: str, b: str) -> str:
    """Cosine over exact integer vectors: the dot and both norms are
    exact BIGINTs, so the double sqrt/divide is a deterministic pure
    function of identical inputs in both engines (IEEE correctly-rounded
    ops on identical operands)."""
    return (
        f"CAST({_jl_idot_sql(a, b)} AS DOUBLE)"
        f" / sqrt(CAST({_jl_idot_sql(a, a)} AS DOUBLE)"
        f" * CAST({_jl_idot_sql(b, b)} AS DOUBLE))"
    )


@query(
    "vec_random_projection_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS q
               FROM embeddings),
         p AS (SELECT vec_id, q,
                      list_transform(generate_series(1, {_JL_OUT}),
                        j -> CAST(list_sum(list_transform(generate_series(1, {_JL_IN}),
                               i -> CASE WHEN {_JL_SIGN.format(i="i", j="j")}
                                         THEN q[i] ELSE -q[i] END)) AS BIGINT)) AS y
               FROM e),
         qv AS (SELECT vec_id AS qid, q AS qq, y AS qy FROM p
                ORDER BY vec_id LIMIT 1),
         scored AS (SELECT p.vec_id,
                           {_jl_cos_sql("p.q", "qv.qq")} AS cf,
                           {_jl_cos_sql("p.y", "qv.qy")} AS cp
                    FROM p, qv WHERE p.vec_id <> qv.qid),
         te AS (SELECT vec_id, row_number() OVER (ORDER BY cf DESC, vec_id) AS re
                FROM scored ORDER BY cf DESC, vec_id LIMIT {max(_JL_KS)}),
         tp AS (SELECT vec_id, row_number() OVER (ORDER BY cp DESC, vec_id) AS rp
                FROM scored ORDER BY cp DESC, vec_id LIMIT {max(_JL_KS)}),
         hits AS (SELECT te.vec_id, te.re, tp.rp FROM te JOIN tp USING (vec_id)),
         ks AS (SELECT unnest([{", ".join(str(k) for k in _JL_KS)}]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(count(hits.vec_id) AS BIGINT) AS n_hits
    FROM ks LEFT JOIN hits ON hits.re <= ks.k AND hits.rp <= ks.k
    GROUP BY ks.k
    ORDER BY k
    """,
    tags=("U5", "F4", "F7"),
)
def vec_random_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection (Achlioptas 2003's
    database-friendly +/-1 matrix): project the 64-dim embeddings to
    16 dims with a sign matrix derived from a deterministic integer
    mix — the dimensionality-reduction tier that makes first-pass ANN
    over 100 TB of embeddings 4x cheaper before any index is built
    (complementary to Matryoshka truncation, which assumes front-loaded
    training; JL assumes nothing about the embedding). The audit is
    recall@k of the projected-space cosine top-k against the exact-space
    top-k for k in (1, 5, 10).

    Determinism: embeddings quantize to q = floor(x*1024 + 0.5) (an
    exact function of the float bits — the repo-wide vector discipline),
    the projection y_j = sum_i sign(i,j)*q_i is an exact BIGINT
    column expression, and every dot/norm underneath the cosines is an
    exact BIGINT — the final sqrt/divide doubles are correctly-rounded
    IEEE ops on identical integer inputs, so both engines rank
    identically with no rounding window.

    Scale: the projection is MAP-ONLY (a nested higher-order expression
    inside codegen — no UDF, no shuffle, no training pass, unlike the
    k-means quantizers); top-k is TakeOrdered against a broadcast query
    row; the rank join runs on <= 10 rows."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    sign = _JL_SIGN.format(i="i", j="j")
    proj = F.expr(
        f"transform(sequence(1, {_JL_OUT}), j ->"
        f" aggregate(sequence(1, {_JL_IN}), 0L, (acc, i) ->"
        f" acc + CASE WHEN {sign} THEN element_at(q, i)"
        f" ELSE -element_at(q, i) END))"
    )
    p = e.withColumn("y", proj)
    # Query row: TakeOrdered(1) on the QUANTIZED table, projecting y for
    # that single row only — deriving qv from p would run the full-corpus
    # projection a second time just to keep one row of it.
    qv = (
        e.orderBy("vec_id")
        .limit(1)
        .withColumn("y", proj)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("q").alias("qq"),
            F.col("y").alias("qy"),
        )
    )

    def idot(a: str, b: str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (s, v) -> s + v)"
        )

    def cos(a: str, b: str):
        return F.col(f"_d_{a}_{b}").cast("double") / F.sqrt(
            F.col(f"_n_{a}").cast("double") * F.col(f"_n_{b}").cast("double")
        )

    scored = (
        p.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("_d_q_qq", idot("q", "qq"))
        .withColumn("_n_q", idot("q", "q"))
        .withColumn("_n_qq", idot("qq", "qq"))
        .withColumn("_d_y_qy", idot("y", "qy"))
        .withColumn("_n_y", idot("y", "y"))
        .withColumn("_n_qy", idot("qy", "qy"))
        .select("vec_id", cos("q", "qq").alias("cf"), cos("y", "qy").alias("cp"))
        # Two TakeOrdered consumers (exact-space and projected-space top-k)
        # would each re-run the projection + dot products; the checkpointed
        # score table is 3 narrow columns (~10% of the input bytes), so
        # materializing once halves the expensive pass.
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window as W

    kmax = max(_JL_KS)
    te = (
        scored.orderBy(F.desc("cf"), "vec_id")
        .limit(kmax)
        .select(
            "vec_id",
            F.row_number().over(W.orderBy(F.desc("cf"), "vec_id")).alias("re"),
        )
    )
    tp = (
        scored.orderBy(F.desc("cp"), "vec_id")
        .limit(kmax)
        .select(
            "vec_id",
            F.row_number().over(W.orderBy(F.desc("cp"), "vec_id")).alias("rp"),
        )
    )
    hits = te.join(tp, "vec_id")
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _JL_KS])).alias("k")
    )
    return (
        ks.join(
            F.broadcast(hits),
            (F.col("re") <= F.col("k")) & (F.col("rp") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("vec_id").cast("long").alias("n_hits"))
        .select(F.col("k").cast("long"), "n_hits")
        .orderBy("k")
    )


# --- exact Gram/covariance accumulation via the Arrow seam -------------------
_COV_DIM = 64
_COV_TOP = 10


@query(
    "vec_gram_covariance_topk",
    oracle=f"""
    WITH e AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ),
    idx AS (SELECT unnest(range(1, {_COV_DIM} + 1)) AS i),
    sums AS (
      SELECT idx.i,
             CAST(sum(q[idx.i]) AS BIGINT) AS s
      FROM e, idx GROUP BY idx.i
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    pairs AS (
      SELECT a.i, b.i AS j,
             CAST(sum(q[a.i] * q[b.i]) AS BIGINT) AS sxy
      FROM e, idx a, idx b
      WHERE a.i < b.i
      GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT pairs.i, pairs.j,
             CAST((CAST(n.n AS HUGEINT) * sxy - CAST(si.s AS HUGEINT) * sj.s)
                  * 1000000 // (CAST(n.n AS HUGEINT) * n.n) AS BIGINT)
               AS cov_scaled
      FROM pairs
      JOIN sums si ON si.i = pairs.i
      JOIN sums sj ON sj.i = pairs.j
      CROSS JOIN n
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, cov_scaled
    FROM cov
    ORDER BY abs(cov_scaled) DESC, i, j
    LIMIT {_COV_TOP}
    """,
    tags=("U1", "F4", "A7"),
)
def vec_gram_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 (_COV_TOP) most-covarying embedding dimension pairs — the Gram-matrix
    accumulation underneath PCA/whitening/feature-correlation audits,
    done the way a 100 TB pass must: an Arrow-batched mapInPandas
    computes each batch's integer X^T.X partial (one numpy matmul per
    ~10k-row batch — vectorized C, not per-row Python), emits the
    D*(D-1)/2 upper-triangle sums plus the column sums and count, and a
    single groupBy((i,j)) reduces partials across partitions: the
    shuffle carries O(partitions * D^2) rows, never data. Covariance
    then clears denominators exactly: cov_num = n*Sxy - Sx*Sy over the
    quantized grid (q = floor(x*1024+0.5), the repo-wide vector rule),
    scaled 10^6 and floor-divided by n^2 with decimal/HUGEINT-lifted
    products (n*Sxy ~ 10^24 at target scale). Ranked by |cov|, ties
    (i,j)-broken.

    The pandas UDF is the documented U1 seam pattern: model-side numpy
    math on Arrow batches with exact integer outputs, so even the UDF
    path stays under the cross-engine hash gate (the oracle re-derives
    the same sums with DuckDB list arithmetic)."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select(
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT))"
        ).alias("q")
    )

    def gram_partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            g = x.T @ x  # exact: |q|<=~2048, n<=10^4 per batch
            s = x.sum(axis=0)
            iu, ju = np.triu_indices(_COV_DIM, k=1)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu + 1, np.arange(1, _COV_DIM + 1), [0]]),
                    "j": np.concatenate([ju + 1, np.zeros(_COV_DIM, int), [0]]),
                    "v": np.concatenate([g[iu, ju], s, [len(pdf)]]),
                }
            )

    partials = e.mapInPandas(gram_partials, "i int, j int, v long")
    sums = partials.groupBy("i", "j").agg(F.sum("v").cast("long").alias("v"))
    sums = sums.localCheckpoint(eager=False)  # pairs/col-sums/count consumers
    pairs = sums.filter((F.col("i") > 0) & (F.col("j") > 0)).select(
        "i", "j", F.col("v").alias("sxy")
    )
    cols = sums.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("ci"), F.col("v").alias("s")
    )
    n = sums.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("v").alias("n")
    )
    cov = (
        pairs.join(F.broadcast(cols.withColumnRenamed("ci", "i").withColumnRenamed("s", "si")), "i")
        .join(
            F.broadcast(
                cols.withColumnRenamed("ci", "j").withColumnRenamed("s", "sj")
            ),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.expr(
                "CAST((CAST(n AS DECIMAL(38,0)) * sxy"
                " - CAST(si AS DECIMAL(38,0)) * sj) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("cov_scaled"),
        )
    )
    top = cov.orderBy(F.abs(F.col("cov_scaled")).desc(), "i", "j").limit(_COV_TOP)
    return top


@query(
    "vec_embedding_drift",
    oracle="""
    WITH q AS (
      SELECT vec_id % 2 AS h, i AS pos,
             CAST(floor(embedding[i] * 1000) AS BIGINT) AS qv
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    cent AS (
      SELECT pos,
             CAST(sum(CASE WHEN h = 0 THEN qv END) AS HUGEINT)
               // nullif(count(CASE WHEN h = 0 THEN 1 END), 0) AS ma,
             CAST(sum(CASE WHEN h = 1 THEN qv END) AS HUGEINT)
               // nullif(count(CASE WHEN h = 1 THEN 1 END), 0) AS mb
      FROM q GROUP BY pos),
    counts AS (
      SELECT CAST(count(CASE WHEN vec_id % 2 = 0 THEN vec_id END)
                  AS BIGINT) AS n_a,
             CAST(count(CASE WHEN vec_id % 2 = 1 THEN vec_id END)
                  AS BIGINT) AS n_b
      FROM embeddings),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS dim,
             sum(ma * mb) AS dot,
             sum(ma * ma) AS na2,
             sum(mb * mb) AS nb2
      FROM cent)
    SELECT c.n_a, c.n_b, a.dim,
           CASE WHEN a.na2 IS NULL OR a.nb2 IS NULL
                  OR a.na2 = 0 OR a.nb2 = 0 THEN 0
                ELSE (CASE WHEN a.dot < 0 THEN -1 ELSE 1 END)
                     * CAST(a.dot * a.dot * 1000000 // (a.na2 * a.nb2)
                            AS BIGINT) END AS centroid_cos2_sppm
    FROM agg a CROSS JOIN counts c
    """,
    tags=("U5", "A3", "F4", "F7"),
)
def vec_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the embedding table
    into two cohorts (vec_id parity — the stand-in for before/after a
    model or pipeline change) and report the signed squared cosine
    between the two cohort CENTROIDS — the cheapest useful drift
    statistic (a healthy re-run scores ~1e6; a centroid swing is the
    first sign the upstream encoder or the data mix moved). Components
    quantize once to integer millis (floor(x*1000)) and each centroid
    coordinate is the TRUNCATED MEAN of its cohort — integer division
    truncates toward zero in BOTH engines on integer types (verified
    with negative coordinate sums at two scales), and the mean is
    crucially BOUNDED BY THE DATA RANGE, not by the row count: the first draft kept raw coordinate SUMS whose squared dot
    overflowed decimal(38,0) at sf1 (caught by the scale smoke — sums
    grow with n, means don't). The signed cos^2 of the mean centroids
    is then an exact small-integer floor ratio.

    Scale: one explode -> per-(cohort, dim) sum+count (map-side
    combine; shuffle bounded by 2 x dim rows), then a dim-bounded
    aggregate. Every product is bounded by (1000*|x|)^2 * dim —
    n-independent by construction."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select("h", "pos", F.expr("CAST(floor(v * 1000) AS BIGINT)").alias("qv"))
    cent = q.groupBy("pos").agg(
        F.expr(
            "CAST(sum(CASE WHEN h = 0 THEN qv END) AS DECIMAL(38,0))"
            " div nullif(count(CASE WHEN h = 0 THEN 1 END), 0)"
        ).alias("ma"),
        F.expr(
            "CAST(sum(CASE WHEN h = 1 THEN qv END) AS DECIMAL(38,0))"
            " div nullif(count(CASE WHEN h = 1 THEN 1 END), 0)"
        ).alias("mb"),
    )
    counts = e.agg(
        F.count(F.expr("CASE WHEN vec_id % 2 = 0 THEN vec_id END"))
        .cast("long")
        .alias("n_a"),
        F.count(F.expr("CASE WHEN vec_id % 2 = 1 THEN vec_id END"))
        .cast("long")
        .alias("n_b"),
    )
    agg = cent.agg(
        F.count("*").cast("long").alias("dim"),
        F.sum(F.expr("CAST(ma AS DECIMAL(38,0)) * mb")).alias("dot"),
        F.sum(F.expr("CAST(ma AS DECIMAL(38,0)) * ma")).alias("na2"),
        F.sum(F.expr("CAST(mb AS DECIMAL(38,0)) * mb")).alias("nb2"),
    )
    return agg.crossJoin(F.broadcast(counts)).select(
        "n_a",
        "n_b",
        "dim",
        F.expr(
            "CASE WHEN na2 IS NULL OR nb2 IS NULL OR na2 = 0 OR nb2 = 0 THEN 0"
            " ELSE (CASE WHEN dot < 0 THEN -1 ELSE 1 END)"
            " * CAST(dot * dot * 1000000 div (na2 * nb2) AS BIGINT) END"
        ).alias("centroid_cos2_sppm"),
    )


_SWEEP_THRESHOLDS = (300, 400, 500, 600, 700)  # cosine milli


@query(
    "dedup_cosine_sweep_cells",
    oracle=f"""
    WITH {{sem}},
    pair2 AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             round(CAST(list_sum([a.q[i]*b.q[i]
                     for i in generate_series(1, len(a.q))]) AS DOUBLE)
                   / sqrt(CAST(a.na2 AS DOUBLE) * CAST(b.na2 AS DOUBLE)),
                   6) AS cos
      FROM cell a JOIN cell b ON a.cid = b.cid AND b.vec_id < a.vec_id),
    thresholds AS (
      SELECT unnest({list(_SWEEP_THRESHOLDS)}) AS thr_milli),
    hits AS (
      SELECT t.thr_milli, unnest([p.va, p.vb]) AS x
      FROM pair2 p JOIN thresholds t
        ON p.cos * 1000 >= t.thr_milli),
    per_thr AS (
      SELECT thr_milli,
             CAST(count(*) // 2 AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT x) AS BIGINT) AS n_docs_affected
      FROM hits GROUP BY thr_milli)
    SELECT t.thr_milli,
           coalesce(p.n_pairs, 0) AS n_pairs,
           coalesce(p.n_docs_affected, 0) AS n_docs_affected
    FROM thresholds t LEFT JOIN per_thr p USING (thr_milli)
    """.format(sem=sem_sql_ctes("embeddings")),
    tags=("U5", "U6", "A4"),
)
def dedup_cosine_sweep_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION threshold-sensitivity curve — the ANN-prefiltered
    counterpart of dedup_cosine_threshold_sweep (VERDICT r10 item 3's
    optional arm). Candidate pairs come from the SemDeDup cell blocking
    (semantic_cells_drops: integer-quantized embeddings, Arrow-matmul
    argmin to K = max(8, N/256) lowest-id seeds), so the pair stage is
    Σ O(|cell|²) with |cell| bounded ~256 — linear-ish in N and keyed on
    cid for the shuffle — instead of the exact arm's O(N²/10)
    label-blocked census. Cosines are computed on the SAME quantized
    integer grid the blocking uses (exact BIGINT dot / na2 norms, one
    deterministic double divide + round-6), so both engines bucket
    identically at any scale. Recall semantics are stated, not hidden:
    only within-cell pairs enter the curve, exactly the pair population
    SemDeDup itself would consider — the exact label-blocked arm remains
    the fenced calibration oracle for measuring what cross-cell mass the
    blocking misses."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cell, _ = semantic_cells_drops(e)
    a, b = cell.alias("a"), cell.alias("b")
    dotq = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("b.vec_id") < F.col("a.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.round(
            dotq.cast("double")
            / F.sqrt(F.col("a.na2").cast("double") * F.col("b.na2").cast("double")),
            6,
        ).alias("cos"),
    )
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr_milli long"
    )
    hits = pairs.join(F.broadcast(thr), F.expr("cos * 1000 >= thr_milli"))
    per_thr = (
        hits.select("thr_milli", F.explode(F.array("va", "vb")).alias("x"))
        .groupBy("thr_milli")
        .agg(
            F.expr("CAST(count(*) div 2 AS BIGINT)").alias("n_pairs"),
            F.countDistinct("x").cast("long").alias("n_docs_affected"),
        )
    )
    return (
        F.broadcast(thr)
        .alias("t")
        .join(per_thr.alias("p"), "thr_milli", "left")
        .select(
            "thr_milli",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
    )


@query(
    "dedup_cosine_threshold_sweep",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
    thresholds AS (
      SELECT unnest({list(_SWEEP_THRESHOLDS)}) AS thr_milli),
    hits AS (
      SELECT t.thr_milli, unnest([p.va, p.vb]) AS x
      FROM pairs p JOIN thresholds t
        ON p.cos * 1000 >= t.thr_milli),
    per_thr AS (
      SELECT thr_milli,
             CAST(count(*) // 2 AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT x) AS BIGINT) AS n_docs_affected
      FROM hits GROUP BY thr_milli)
    SELECT t.thr_milli,
           coalesce(p.n_pairs, 0) AS n_pairs,
           coalesce(p.n_docs_affected, 0) AS n_docs_affected
    FROM thresholds t LEFT JOIN per_thr p USING (thr_milli)
    """,
    tags=("U5", "U6", "A4"),
)
def dedup_cosine_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve — the tuning audit every
    embedding-dedup deployment runs before picking its knob: for each
    candidate cosine threshold, how many near-dup pairs fire and how
    many distinct documents they touch (the aggressive-vs-conservative
    trade-off made visible; SemDeDup-style pipelines publish exactly
    this curve). Pairs come from ONE label-blocked pass (the
    vec_neardup_pairs blocking); each pair then fans out to the
    thresholds it clears — the sweep costs one extra |thresholds|-way
    explode over candidate pairs, never a re-scoring pass per
    threshold. Similarities use the repo's round-to-6-decimals float
    discipline, and threshold comparison is against exact milli
    constants, so both engines bucket identically.

    Scale: norms are precomputed per-vector, thresholds explode only
    over PAIRS, counts are map-side-combined, and distinct-doc counts
    shuffle (threshold, doc) keys only — but the pair census itself is
    an exact AUDIT ARM: it enumerates every within-block pair, and the
    10-label blocking key is constant-cardinality, so the pass is
    O(N^2/10) by construction (the curve's SEMANTICS require the full
    census — no banding scheme is lossless at these thresholds). At
    100 TB this curve is published over a uniform pair SAMPLE or a
    banded candidate set with its recall stated; the exact form here is
    the calibration oracle for those, measured at sf10 by
    scripts/vec_spine_bench.py --queries audit (which sets the
    _fence_quadratic_audit override — oversized accidental runs raise)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double("embedding").alias("v"))
        .withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    e = _fence_quadratic_audit(e, "dedup_cosine_threshold_sweep")
    a, b = e.alias("a"), e.alias("b")
    sim = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(sim, 6).alias("cos"),
        )
    )
    thr = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr_milli long"
    )
    hits = pairs.join(
        F.broadcast(thr), F.expr("cos * 1000 >= thr_milli")
    )
    per_thr = (
        hits.select("thr_milli", F.explode(F.array("va", "vb")).alias("x"))
        .groupBy("thr_milli")
        .agg(
            F.expr("CAST(count(*) div 2 AS BIGINT)").alias("n_pairs"),
            F.countDistinct("x").cast("long").alias("n_docs_affected"),
        )
    )
    return (
        F.broadcast(thr).alias("t")
        .join(per_thr.alias("p"), "thr_milli", "left")
        .select(
            "thr_milli",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
    )
