"""Model-evaluation and pipeline-audit lane.

A training-data engine is judged by the models it feeds, so the pipeline
needs the standard eval statistics AS QUERIES — computed distributed, over
the same tables, with the same determinism discipline as everything else
(reference parity: the reference repo ships its metric jobs next to its
ETL operators; here they are registry queries with DuckDB oracle twins).

The graded classifier is the repo's own: the stopword-marker language
identifier (plans/text.py:txt_lang_id). Its prediction expression is
imported (lang_pred_col / LANG_HITS_SQL / LANG_PRED_CASE_SQL) rather than
re-derived, so these evals grade exactly the classifier that ships — same
for the train/val/test split (plans/traindata.py:split_col) in the
leakage audit.

Determinism discipline (registry.py): every metric that is a ratio is
reported as an EXACT scaled integer — numerator lifted to
decimal(38,0)/HUGEINT, multiplied by 10^6, floor-divided by the exact
integer denominator — so the cross-engine hash compare has no float
window. ln() quantizes as floor(ln(x)*1e6 + 0.5), an exact function of
the float bits (the repo-wide vector/transcendental discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.readers import load_table
from .clickstream import VARIANT_SQL, variant_col
from .registry import query
from .relational import EVENTS
from .text import (
    LANG_HITS_SQL,
    SPARK_SQL_TOKENS,
    LANG_PRED_CASE_SQL,
    MINHASH_BAND_SQL,
    SQL_TOKENS,
    TOKENS,
    _LANG_MARKERS,
    _marker_pred_sql,
    _SIG_SQL,
    dedup_minhash_signatures,
    lang_pred_col,
    minhash_band_col,
)
from .traindata import SPLIT_CASE_SQL, split_col


def _scaled_div(num_sql: str, den_sql: str, scale: int = 1_000_000) -> str:
    """Spark SQL: exact 10^6-scaled integer ratio, decimal(38,0)-lifted so
    the multiply can't overflow BIGINT; 0 when the denominator is 0."""
    return (
        f"CASE WHEN ({den_sql}) = 0 THEN 0 ELSE CAST("
        f"(CAST(({num_sql}) AS DECIMAL(38,0)) * {scale}) div ({den_sql})"
        f" AS BIGINT) END"
    )


def _scaled_div_duck(num_sql: str, den_sql: str, scale: int = 1_000_000) -> str:
    """DuckDB twin of _scaled_div (HUGEINT lift, // floor-to-zero division
    — both engines truncate toward zero on the same exact integers)."""
    return (
        f"CASE WHEN ({den_sql}) = 0 THEN 0 ELSE CAST("
        f"(CAST(({num_sql}) AS HUGEINT) * {scale}) // ({den_sql})"
        f" AS BIGINT) END"
    )


# --- exact ROC-AUC via the Mann-Whitney rank statistic ----------------------
# Score: English marker-token density per mille (integer). Label: lang='en'.
# _en_score_col / _AUC_SCORE_SQL are ONE definition pair shared by the AUC
# and calibration queries — the two metrics must grade the same scorer.
_EN_LIST = ", ".join(f"'{w}'" for w in _LANG_MARKERS["en"])


def _en_score_col():
    """Spark twin of _AUC_SCORE_SQL, over a column named 'toks'."""
    return F.expr(
        f"CAST(size(filter(toks, x -> x IN ({_EN_LIST}))) * 1000"
        " div greatest(size(toks), 1) AS BIGINT)"
    )


_AUC_SCORE_SQL = (
    f"CAST({_marker_pred_sql(_LANG_MARKERS['en'])} * 1000"
    f" // greatest(len({SQL_TOKENS}), 1) AS BIGINT)"
)


@query(
    "eval_auc_mannwhitney",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    hist AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT np, nn,
             CAST(coalesce(sum(nn) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cumneg
      FROM hist
    ),
    agg AS (
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             sum(CAST(np AS HUGEINT) * (2 * cumneg + nn)) AS auc2
      FROM cum
    )
    SELECT n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE CAST(auc2 * 1000000
                          // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                     AS BIGINT) END AS auc_scaled
    FROM agg
    """,
    tags=("A1", "W3", "U2"),
)
def eval_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the English-marker-density score against the
    lang='en' label, via the Mann-Whitney U identity (Hanley & McNeil
    1982): AUC = P(score_pos > score_neg) + P(=)/2. With per-score counts
    np/nn and cumneg = negatives strictly below, 2*P*N*AUC =
    sum_s np(s)*(2*cumneg(s) + nn(s)) — ties contribute the half credit
    exactly, everything an integer, no sort of the raw rows.

    Scale: one scan computes the integer score map-only; the only
    shuffle is the groupBy on the score, whose cardinality is <= 1001
    (per-mille density), so the rank cumulation runs on a HISTOGRAM, not
    on rows — the single-partition window is bounded by score arity, the
    classic trick for AUC over billions of rows. auc_scaled is the exact
    10^6-scaled ratio; the rank-sum (~2*P*N) and the denominator both
    exceed 2^63 at 100 TB row counts, so every product is
    decimal(38,0)/HUGEINT-lifted — the rank-sum stays internal and only
    the counts and the scaled ratio are reported."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("lang", TOKENS().alias("toks"))
    score = _en_score_col()
    hist = (
        base.select(
            score.alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").cast("long").alias("np"),
            F.sum(F.lit(1) - F.col("pos")).cast("long").alias("nn"),
        )
    )
    cum = hist.withColumn(
        "cumneg",
        F.coalesce(
            F.sum("nn").over(
                W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    agg = cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        # The rank-sum itself reaches ~2*P*N, past 2^63 at target scale —
        # lift BEFORE the per-bucket multiply, not just at the final ratio.
        F.sum(F.col("np").cast("decimal(38,0)") * (2 * F.col("cumneg") + F.col("nn")))
        .cast("decimal(38,0)")
        .alias("auc2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0"
            " ELSE CAST(auc2 * 1000000"
            " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            " AS BIGINT) END"
        ).alias("auc_scaled"),
    )


# --- multi-class confusion matrix + per-class precision/recall/F1 ----------
def _lang_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (lang, pred, n) confusion cells — the Spark twin of
    _CELLS_SQL, shared by the confusion and kappa queries: ONE corpus
    scan feeds every consumer, and both metrics grade the same table."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_pred_col().alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )


_CELLS_SQL = f"""
    scored AS (
      SELECT doc_id, lang,
             {LANG_HITS_SQL}
      FROM documents
    ),
    cells AS (
      SELECT lang, {LANG_PRED_CASE_SQL} AS pred, count(*) AS n
      FROM scored GROUP BY 1, 2
    )
"""


@query(
    "eval_confusion_f1",
    oracle=f"""
    WITH {_CELLS_SQL},
    acts AS (
      SELECT lang AS cls,
             CAST(sum(n) AS BIGINT) AS n_actual,
             CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT) AS tp
      FROM cells GROUP BY 1
    ),
    preds AS (
      SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred
      FROM cells GROUP BY 1
    ),
    m AS (
      SELECT coalesce(acts.cls, preds.cls) AS cls,
             coalesce(n_actual, 0) AS n_actual,
             coalesce(n_pred, 0) AS n_pred,
             coalesce(tp, 0) AS tp
      FROM acts FULL OUTER JOIN preds ON acts.cls = preds.cls
    )
    SELECT cls, n_actual, n_pred, tp,
           n_pred - tp AS fp,
           n_actual - tp AS fn,
           {_scaled_div_duck("tp", "n_pred")} AS prec_scaled,
           {_scaled_div_duck("tp", "n_actual")} AS rec_scaled,
           {_scaled_div_duck("2 * tp", "n_pred + n_actual")} AS f1_scaled
    FROM m
    ORDER BY cls
    """,
    tags=("A1", "J6", "U2"),
)
def eval_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class confusion matrix and per-class precision / recall / F1
    for the shipped language identifier against the labeled lang column —
    the standard classifier report card, exact: metrics are 10^6-scaled
    integer ratios (F1 = 2tp/(n_pred+n_actual), algebraically equal to
    the harmonic mean, so one exact division instead of nested ones).
    Classes appearing only in truth (zh: the marker set never predicts
    it) or only in predictions (und) survive via the FULL OUTER join
    with zero-filled counts — recall/precision 0, not missing rows.

    Scale: ONE corpus scan -> class-arity² cell counts (the cell table is
    checkpointed because two consumers — acts and preds — would otherwise
    each re-run the scan); everything after the first groupBy runs on
    <= |classes|² rows. The acts×preds join is a broadcast of a 6-row
    table."""
    cells = _lang_cells(spark, sf_dir)
    acts = cells.groupBy(F.col("lang").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_actual"),
        F.sum(F.when(F.col("pred") == F.col("lang"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    preds = cells.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    m = (
        acts.join(preds, "cls", "full_outer")
        .select(
            "cls",
            F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return m.select(
        "cls",
        "n_actual",
        "n_pred",
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_actual") - F.col("tp")).alias("fn"),
        F.expr(_scaled_div("tp", "n_pred")).alias("prec_scaled"),
        F.expr(_scaled_div("tp", "n_actual")).alias("rec_scaled"),
        F.expr(_scaled_div("2 * tp", "n_pred + n_actual")).alias("f1_scaled"),
    ).orderBy("cls")


# --- Cohen's kappa -----------------------------------------------------------
@query(
    "eval_cohens_kappa",
    oracle=f"""
    WITH {_CELLS_SQL},
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN pred = lang THEN n ELSE 0 END) AS BIGINT)
               AS sum_diag
      FROM cells
    ),
    marg AS (
      SELECT CAST(coalesce(sum(CAST(r.rn AS HUGEINT) * c.cn), 0) AS HUGEINT)
               AS pe_num
      FROM (SELECT lang AS cls, sum(n) AS rn FROM cells GROUP BY 1) r
      JOIN (SELECT pred AS cls, sum(n) AS cn FROM cells GROUP BY 1) c
        ON r.cls = c.cls
    )
    SELECT n_docs, sum_diag,
           CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - pe_num = 0 THEN 0
                ELSE CAST((CAST(n_docs AS HUGEINT) * sum_diag - pe_num)
                          * 1000000
                          // (CAST(n_docs AS HUGEINT) * n_docs - pe_num)
                     AS BIGINT) END AS kappa_scaled
    FROM tot, marg
    """,
    tags=("A1", "J1", "U2"),
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) — chance-corrected agreement between the
    shipped language identifier and the labeled lang column: kappa =
    (po - pe) / (1 - pe), cleared of denominators to the exact integer
    form 10^6*(N*diag - pe_num) div (N² - pe_num) with pe_num =
    sum_c rowtotal(c)*coltotal(c). N² at 100 TB row counts overflows
    BIGINT, so every product lifts to decimal(38,0) (HUGEINT in the
    oracle); kappa lands in [-10^6, 10^6] as an exact integer.

    Scale: identical shape to the confusion matrix — ONE scan (the cell
    table is checkpointed: three consumers — tot, row marginals, column
    marginals — would otherwise each re-run it), then class-arity-bounded
    tables; the marginal product join is per-class (inner: a class absent
    from either side contributes 0)."""
    cells = _lang_cells(spark, sf_dir)
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("pred") == F.col("lang"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("sum_diag"),
    )
    r = cells.groupBy(F.col("lang").alias("cls")).agg(F.sum("n").alias("rn"))
    c = cells.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").alias("cn"))
    marg = (
        r.join(c, "cls")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("rn").cast("decimal(38,0)") * F.col("cn").cast("decimal(38,0)")
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("pe_num")
        )
    )
    return tot.crossJoin(F.broadcast(marg)).select(
        "n_docs",
        "sum_diag",
        F.expr(
            "CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs - pe_num = 0 THEN 0"
            " ELSE CAST((CAST(n_docs AS DECIMAL(38,0)) * sum_diag - pe_num)"
            " * 1000000"
            " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs - pe_num)"
            " AS BIGINT) END"
        ).alias("kappa_scaled"),
    )


# --- train/test split leakage audit -----------------------------------------
@query(
    "split_leakage_audit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({SQL_TOKENS})) AS tok FROM documents
    ),
    sig AS (
      SELECT doc_id, {_SIG_SQL}
      FROM tok GROUP BY doc_id
    ),
    banded AS (
      SELECT {MINHASH_BAND_SQL} AS band_key,
             doc_id,
             {SPLIT_CASE_SQL} AS split
      FROM sig
    ),
    g AS (
      SELECT band_key,
             min(doc_id) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_val,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test
      FROM banded GROUP BY band_key
    )
    SELECT band_key, canonical_id, n_members, n_train, n_val, n_test,
           n_train * (n_val + n_test) + n_val * n_test AS leaked_pairs
    FROM g
    WHERE n_members > 1
      AND n_train * (n_val + n_test) + n_val * n_test > 0
    """,
    tags=("U6", "F8", "A1"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate groups that STRADDLE the
    train/val/test boundary — the contamination mode hash-splits cannot
    prevent (a doc and its near-copy hash independently), and the reason
    dedup must run BEFORE splitting in a corpus pipeline (Lee et al.
    2022's eval-leakage finding). Composes the two shipped definitions
    verbatim: MinHash band groups (dedup_minhash_groups) x the md5-nibble
    split (split_train_test); leaked_pairs counts cross-split pairs
    inside each group (train x val+test plus val x test).

    Scale: the signature stage is map-only per doc; the only shuffle is
    the groupBy on the 128-char band key — identical cost profile to the
    dedup it audits; the split column is a pure expression, joined
    nowhere. An empty result is the audit passing."""
    sig = dedup_minhash_signatures(spark, sf_dir)
    g = (
        sig.select(
            minhash_band_col().alias("band_key"),
            "doc_id",
            split_col().alias("split"),
        )
        .groupBy("band_key")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("long")
            .alias("n_val"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
        )
    )
    leaked = F.col("n_train") * (F.col("n_val") + F.col("n_test")) + F.col(
        "n_val"
    ) * F.col("n_test")
    return g.withColumn("leaked_pairs", leaked).filter(
        (F.col("n_members") > 1) & (F.col("leaked_pairs") > 0)
    )


# --- Zipf rank-frequency slope ----------------------------------------------
_ZIPF_TOP = 200


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({SQL_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY n DESC, tok) AS rank, n
      FROM freq
      QUALIFY rank <= {_ZIPF_TOP}
    ),
    pts AS (
      SELECT CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM pts
    )
    SELECT np AS n_points,
           CASE WHEN np * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN 0
                ELSE CAST((np * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                          // (np * sxx - CAST(sx AS HUGEINT) * sx)
                     AS BIGINT) END AS slope_scaled
    FROM s
    """,
    tags=("A1", "O2", "F4"),
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: the OLS slope of ln(freq) on
    ln(rank) over the top 200 (_ZIPF_TOP) tokens — natural text sits near -1
    (Zipf's law); a corpus drifting toward 0 (too uniform: boilerplate,
    template spam) or strongly below -1 (head collapse) fails the
    health check. Standard corpus-QA statistic next to the distinct-n
    and repetition reports.

    Determinism: ln() of an exact BIGINT quantizes as
    floor(ln*10^6 + 0.5) — an exact function of the float bits, the
    repo-wide transcendental rule — and the whole OLS is then exact
    integer sums (HUGEINT/decimal(38,0)-lifted products; slope =
    (n*Sxy - Sx*Sy)/(n*Sxx - Sx²) 10^6-scaled, floor-div).

    Scale: one scan + one token groupBy (the same vocabulary-sized
    census every lexical op shares), a top-200 TakeOrdered, then
    arithmetic on 200 rows."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(TOKENS()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ranked = freq.orderBy(F.desc("n"), "tok").limit(_ZIPF_TOP)
    pts = (
        ranked.select(
            F.row_number()
            .over(W.orderBy(F.desc("n"), "tok"))
            .cast("long")
            .alias("rank"),
            "n",
        )
        .select(
            F.expr("CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT)").alias("x"),
            F.expr("CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)").alias("y"),
        )
    )
    s = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    return s.select(
        F.col("np").alias("n_points"),
        F.expr(
            "CASE WHEN np * sxx - CAST(sx AS DECIMAL(38,0)) * sx = 0 THEN 0"
            " ELSE CAST((np * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000"
            " div (np * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
            " AS BIGINT) END"
        ).alias("slope_scaled"),
    )




# --- calibration (reliability diagram bins) ---------------------------------
@query(
    "eval_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    )
    SELECT CAST(least(score // 100, 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(score) AS BIGINT) AS sum_score,
           {_scaled_div_duck("sum(pos)", "count(*)")} AS pos_rate_scaled,
           {_scaled_div_duck("sum(score)", "count(*) * 1000")} AS mean_score_scaled
    FROM scored
    GROUP BY 1
    ORDER BY bin
    """,
    tags=("A1", "A3", "U2"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (the calibration half of an eval report,
    Guo et al. 2017's ECE input): bucket the per-mille English-marker
    score into deciles and compare each bin's observed positive rate to
    its mean score — a well-calibrated scorer has the two scaled columns
    tracking each other; ECE is their |difference| weighted by n, which
    the reader (or a downstream query) can take exactly from these
    integers.

    Scale: map-only scoring, one groupBy on a 10-value key — partial
    aggregation absorbs everything map-side, the shuffle carries <= 10
    rows per task. Both scaled ratios are exact integer floor-divisions
    (the repo-wide no-float-window rule)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("lang", TOKENS().alias("toks"))
    score = _en_score_col()
    binned = (
        base.select(
            score.alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy(F.least(F.expr("score div 100"), F.lit(9)).cast("long").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("score").cast("long").alias("sum_score"),
        )
    )
    return binned.select(
        "bin",
        "n",
        "n_pos",
        "sum_score",
        F.expr(_scaled_div("n_pos", "n")).alias("pos_rate_scaled"),
        F.expr(_scaled_div("sum_score", "n * 1000")).alias("mean_score_scaled"),
    ).orderBy("bin")


# --- k-fold stability of the classifier --------------------------------------
_N_FOLDS = 5


@query(
    "eval_kfold_accuracy",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {LANG_HITS_SQL}
      FROM documents
    ),
    pred AS (
      SELECT (strpos('0123456789abcdef',
                substring(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
               % {_N_FOLDS} AS fold,
             CASE WHEN {LANG_PRED_CASE_SQL} = lang THEN 1 ELSE 0 END AS correct
      FROM scored
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           {_scaled_div_duck("sum(correct)", "count(*)")} AS acc_scaled
    FROM pred
    GROUP BY fold
    ORDER BY fold
    """,
    tags=("A1", "F8", "U2"),
)
def eval_kfold_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold accuracy of the shipped language identifier over a
    deterministic 5-fold (_N_FOLDS) assignment (md5 nibble of the doc key, seeded
    'fold|' so folds are independent of the train/val/test split's
    draw) — the fold-stability check an eval report runs to distinguish
    a real accuracy number from a lucky subset: the five acc_scaled
    values should agree within sampling noise.

    Scale: map-only fold assignment + scoring; one groupBy on a
    5-value key with full map-side combine. Folds are a pure function
    of the stable key — re-runs, late shards, and resplits reproduce the
    same assignment (the hash-split argument, applied to evaluation)."""
    d = load_table(spark, sf_dir, "documents")
    nibble = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.concat(F.lit("fold|"), F.col("doc_id").cast("string"))), 1, 1),
        )
        - 1
    )
    pred = d.select(
        (nibble % _N_FOLDS).alias("fold"),
        F.when(lang_pred_col() == F.col("lang"), 1).otherwise(0).alias("correct"),
    )
    g = pred.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("correct").cast("long").alias("n_correct"),
    )
    return g.select(
        "fold",
        "n",
        "n_correct",
        F.expr(_scaled_div("n_correct", "n")).alias("acc_scaled"),
    ).orderBy("fold")




# --- lang x source contingency table (shared by chi2 and MI) -----------------
_CONTINGENCY_SQL = """cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1)"""


def _contingency(spark: SparkSession, sf_dir: str):
    """Checkpointed lang x source cell counts plus total/row/column
    marginals — the Spark twin of _CONTINGENCY_SQL, shared by the
    chi-square and mutual-information queries so both dependence
    statistics grade the same table (the _lang_cells argument)."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("o"))
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    rt = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    ct = cells.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    return cells, tot, rt, ct


# --- chi-square independence (lang x source) --------------------------------
@query(
    "eval_chi2_independence",
    oracle=f"""
    WITH {_CONTINGENCY_SQL},
    grid AS (
      SELECT rt.lang, ct.source,
             CAST(rt.r * 1000000 // tot.n AS BIGINT) AS pr,
             CAST(ct.c * 1000000 // tot.n AS BIGINT) AS pc,
             CAST(coalesce(cells.o, 0) * 1000000 // tot.n AS BIGINT) AS po
      FROM rt CROSS JOIN ct CROSS JOIN tot
      LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source
    ),
    terms AS (
      SELECT CASE WHEN pr * pc = 0 THEN 0
                  ELSE CAST((CAST(po AS HUGEINT) * 1000000 - CAST(pr AS HUGEINT) * pc)
                            * (CAST(po AS HUGEINT) * 1000000 - CAST(pr AS HUGEINT) * pc)
                            // (CAST(pr AS HUGEINT) * pc) AS HUGEINT) END AS t
      FROM grid
    )
    SELECT (SELECT n FROM tot) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM grid) AS n_cells,
           CAST(sum(t) // 1000000 AS BIGINT) AS chi2_per_n_scaled
    FROM terms
    """,
    tags=("A1", "J10", "A3"),
)
def eval_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between the lang and source
    columns — the standard contingency diagnostic for 'is the language
    mix uniform across crawl sources?' (a skewed answer redirects the
    mixture planner). Reported as chi2/N (the mean-square contingency,
    phi²), 10^6-scaled.

    Exactness at scale: the textbook sum has N³-magnitude integer terms
    (overflow even for HUGEINT at 10^12 rows), so the statistic is
    computed on MICRO-PROPORTIONS — po, pr, pc quantized at 10^-6 by
    exact integer floor-division — making every cell term a pure integer
    both engines floor identically, bounded by 10^24 regardless of
    corpus size. The quantization is part of the statistic's definition
    here (error <= arity·10^-6, far below any decision threshold), the
    same trade the repo's quantized-ln discipline makes. Zero-observed
    grid cells contribute their expected mass via the row x column
    cross join (arity-bounded: |langs| x |sources| rows).

    Scale: one corpus scan -> cell counts; everything else runs on
    arity-bounded tables (the checkpointed cells feed total, row, and
    column marginals)."""
    cells, tot, rt, ct = _contingency(spark, sf_dir)
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["lang", "source"], "left")
        .select(
            F.expr("CAST(r * 1000000 div n AS BIGINT)").alias("pr"),
            F.expr("CAST(c * 1000000 div n AS BIGINT)").alias("pc"),
            F.expr("CAST(coalesce(o, 0) * 1000000 div n AS BIGINT)").alias("po"),
            F.col("n"),
        )
    )
    terms = grid.select(
        "n",
        F.expr(
            "CASE WHEN pr * pc = 0 THEN CAST(0 AS DECIMAL(38,0))"
            " ELSE CAST((CAST(po AS DECIMAL(38,0)) * 1000000"
            " - CAST(pr AS DECIMAL(38,0)) * pc)"
            " * (CAST(po AS DECIMAL(38,0)) * 1000000"
            " - CAST(pr AS DECIMAL(38,0)) * pc)"
            " div (CAST(pr AS DECIMAL(38,0)) * pc) AS DECIMAL(38,0)) END"
        ).alias("t"),
    )
    return terms.agg(
        F.max("n").alias("n_docs"),
        F.count("*").cast("long").alias("n_cells"),
        F.expr("CAST(sum(t) div 1000000 AS BIGINT)").alias("chi2_per_n_scaled"),
    )


# --- Benford first-digit audit ------------------------------------------------
@query(
    "dq_benford_digits",
    oracle="""
    WITH cents AS (
      SELECT CAST(o_totalprice * 100 AS BIGINT) AS v FROM orders
      WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM cents
    ),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    d9 AS (SELECT unnest(range(1, 10)) AS digit)
    SELECT CAST(d9.digit AS BIGINT) AS digit,
           CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
           CAST(coalesce(obs.n, 0) * 1000000 // tot.total AS BIGINT)
             AS obs_scaled,
           CAST(floor(ln(1.0 + 1.0 / d9.digit) / ln(10.0) * 1000000 + 0.5)
                AS BIGINT) AS benford_scaled
    FROM d9 CROSS JOIN tot LEFT JOIN obs ON obs.digit = d9.digit
    ORDER BY digit
    """,
    tags=("A1", "F2", "F4"),
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the money column — the classic
    fraud/synthetic-data screen (Nigrini 2012): naturally-occurring
    multiplicative amounts put digit d first with probability
    log10(1+1/d); a flat or spiked profile flags generated or tampered
    values. The first digit comes from the INTEGER cents string (no
    log10/pow on data — exact for any magnitude); the Benford reference
    shares quantize as floor(ln-ratio·10^6+0.5) on nine constants (the
    repo's transcendental rule), and observed shares are exact integer
    floor-divisions. All nine digits report via the 9-row calendar join,
    zero-observed digits included.

    Scale: map-only digit extraction, one groupBy on a 9-value key with
    full map-side combine; everything after runs on 9 rows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(o_totalprice * 100 AS BIGINT) AS STRING), 1, 1)"
            " AS BIGINT)"
        ).alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    d9 = spark.range(1, 10).select(F.col("id").cast("long").alias("digit"))
    return (
        d9.crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), "digit", "left")
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr("CAST(coalesce(n, 0) * 1000000 div total AS BIGINT)").alias(
                "obs_scaled"
            ),
            F.expr(
                "CAST(floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000 + 0.5)"
                " AS BIGINT)"
            ).alias("benford_scaled"),
        )
        .orderBy("digit")
    )


# --- Gini concentration of token mass across sources -------------------------
@query(
    "corpus_gini_sources",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(sum(len({SQL_TOKENS})) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT toks,
             CAST(row_number() OVER (ORDER BY toks, source) AS BIGINT) AS rk
      FROM src
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS ns,
             CAST(sum(toks) AS BIGINT) AS total,
             CAST(sum(rk * toks) AS BIGINT) AS weighted
      FROM ranked
    )
    SELECT ns AS n_sources, total AS total_tokens,
           CASE WHEN ns * total = 0 THEN 0
                ELSE CAST((2 * CAST(weighted AS HUGEINT) * 1000000
                           - CAST(ns + 1 AS HUGEINT) * total * 1000000)
                          // (CAST(ns AS HUGEINT) * total) AS BIGINT) END
             AS gini_scaled
    FROM s
    """,
    tags=("A1", "W1", "F4"),
)
def corpus_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — the concentration
    diagnostic a mixture planner reads before setting domain budgets
    (G=0: every source contributes equally; G→1: one source dominates
    and deduplication/budget caps will bind). Uses the rank identity
    G = (2·Σ i·t_(i))/(n·Σt) − (n+1)/n over ascending-sorted source
    totals, cleared to one exact 10^6-scaled integer division
    (HUGEINT/decimal-lifted products; ties broken by source name so the
    rank is total-order deterministic).

    Scale: one corpus scan -> per-source token totals; the rank window
    runs on the source-arity table (tens of rows at any corpus size)."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(TOKENS())).cast("long").alias("toks")
    )
    ranked = src.select(
        "toks",
        F.row_number().over(W.orderBy("toks", "source")).cast("long").alias("rk"),
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("ns"),
        F.sum("toks").cast("long").alias("total"),
        F.sum(F.col("rk") * F.col("toks")).cast("long").alias("weighted"),
    )
    return s.select(
        F.col("ns").alias("n_sources"),
        F.col("total").alias("total_tokens"),
        F.expr(
            "CASE WHEN ns * total = 0 THEN 0"
            " ELSE CAST((2 * CAST(weighted AS DECIMAL(38,0)) * 1000000"
            " - CAST(ns + 1 AS DECIMAL(38,0)) * total * 1000000)"
            " div (CAST(ns AS DECIMAL(38,0)) * total) AS BIGINT) END"
        ).alias("gini_scaled"),
    )


# --- classical additive seasonal decomposition --------------------------------
_STL_HALF = 12  # symmetric 25-hour moving average window


@query(
    "timeseries_stl_decompose",
    oracle=f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar,
             CAST(count(*) AS BIGINT) AS y
      FROM (SELECT CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts
            FROM events) e
      GROUP BY 1
    ),
    ma AS (
      SELECT bar, y,
             CAST(sum(y) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wcnt
      FROM hourly
      WINDOW w AS (ORDER BY bar
                   ROWS BETWEEN {_STL_HALF} PRECEDING AND {_STL_HALF} FOLLOWING)
    ),
    det AS (
      SELECT bar, y,
             CAST(wsum * 1000000 // (2 * {_STL_HALF} + 1) AS BIGINT)
               AS trend_scaled,
             y * 1000000
               - CAST(wsum * 1000000 // (2 * {_STL_HALF} + 1) AS BIGINT)
               AS d
      FROM ma WHERE wcnt = 2 * {_STL_HALF} + 1
    ),
    seas AS (
      SELECT hour(bar) AS hod,
             CAST(CASE WHEN sum(d) >= 0 THEN sum(d) // count(*)
                       ELSE -((-sum(d)) // count(*)) END AS BIGINT)
               AS seasonal_scaled
      FROM det GROUP BY 1
    )
    SELECT CAST(det.bar AS VARCHAR) AS bar, det.y, det.trend_scaled,
           seas.seasonal_scaled,
           det.d - seas.seasonal_scaled AS remainder_scaled
    FROM det JOIN seas ON hour(det.bar) = seas.hod
    """,
    tags=("W3", "F1", "A1", "J1"),
)
def timeseries_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method underneath STL, Cleveland et al. 1990 §2): hourly event
    counts split into trend (symmetric 25-hour centered moving average;
    edge hours without a full window are dropped, as classical
    decomposition does), seasonal (per hour-of-day mean of the
    detrended series), and remainder — the anomaly-detection
    preprocessing stage (stream_ewma_anomaly's batch sibling that
    separates 'it's 3am' from 'something broke').

    Exactness: counts are integers; the trend is wsum·10^6 div 25, the
    seasonal means divide with explicit floor-toward-zero on both
    engines (Spark div and DuckDB // truncate identically, including
    the negative detrended sums — the CASE mirrors them), and the
    remainder is a difference of exact integers. No floats anywhere.

    Scale: one scan -> hourly counts; the MA window and the join run on
    the calendar-bounded hourly series (the win_cumulative_distinct
    argument), and the seasonal table is 24 rows, broadcast."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(F.date_trunc("hour", "ts").alias("bar"))
        .groupBy("bar")
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = W.orderBy("bar").rowsBetween(-_STL_HALF, _STL_HALF)
    win = 2 * _STL_HALF + 1
    ma = hourly.select(
        "bar",
        "y",
        F.sum("y").over(w).cast("long").alias("wsum"),
        F.count("*").over(w).cast("long").alias("wcnt"),
    )
    det = (
        ma.filter(F.col("wcnt") == win)
        .select(
            "bar",
            "y",
            F.expr(f"CAST(wsum * 1000000 div {win} AS BIGINT)").alias(
                "trend_scaled"
            ),
            F.expr(f"y * 1000000 - CAST(wsum * 1000000 div {win} AS BIGINT)").alias(
                "d"
            ),
        )
        .localCheckpoint(eager=False)  # feeds the seasonal agg AND the join
    )
    seas = (
        det.groupBy(F.hour("bar").alias("hod"))
        .agg(F.expr("CAST(sum(d) div count(*) AS BIGINT)").alias("seasonal_scaled"))
    )
    return (
        det.join(F.broadcast(seas), F.hour(det.bar) == seas.hod)
        .select(
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar"),
            "y",
            "trend_scaled",
            "seasonal_scaled",
            (F.col("d") - F.col("seasonal_scaled")).alias("remainder_scaled"),
        )
    )


# --- McNemar's paired test: lang-id vs majority-class baseline ----------------
@query(
    "eval_mcnemar_vs_baseline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {LANG_HITS_SQL}
      FROM documents
    ),
    outcomes AS (
      SELECT CASE WHEN {LANG_PRED_CASE_SQL} = lang THEN 1 ELSE 0 END AS a_ok,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b_ok
      FROM scored
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM outcomes
    )
    SELECT n, b, c,
           CASE WHEN b + c = 0 THEN 0
                ELSE CAST((CAST(b - c AS HUGEINT) * (b - c)) * 1000000
                          // (b + c) AS BIGINT) END AS mcnemar_scaled
    FROM counts
    """,
    tags=("A1", "A3", "U2"),
)
def eval_mcnemar_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (McNemar 1947) — does the marker-based
    language identifier beat the majority-class baseline ('always en')
    on the SAME documents? The right test when two classifiers share a
    test set (independent-proportion tests overstate significance):
    only the discordant counts matter — b = identifier right where the
    baseline is wrong, c = the reverse — and the statistic (b-c)²/(b+c)
    is chi²(1)-distributed under H0. Reported 10^6-scaled with the
    HUGEINT/decimal lift ((b-c)² reaches ~N² at target scale).

    Scale: one scan, map-only outcome flags, one global 3-counter
    aggregate with map-side combine — the entire test is a fold."""
    d = load_table(spark, sf_dir, "documents")
    outcomes = d.select(
        F.when(lang_pred_col() == F.col("lang"), 1).otherwise(0).alias("a_ok"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("b_ok"),
    )
    counts = outcomes.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("a_ok") == 1) & (F.col("b_ok") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("a_ok") == 0) & (F.col("b_ok") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    return counts.select(
        "n",
        "b",
        "c",
        F.expr(
            "CASE WHEN b + c = 0 THEN 0"
            " ELSE CAST((CAST(b - c AS DECIMAL(38,0)) * (b - c)) * 1000000"
            " div (b + c) AS BIGINT) END"
        ).alias("mcnemar_scaled"),
    )


# --- mutual information lang <-> source ---------------------------------------
@query(
    "eval_mutual_information",
    oracle=f"""
    WITH {_CONTINGENCY_SQL},
    terms AS (
      SELECT CAST(floor(
               (CAST(o AS DOUBLE) / n)
               * ln(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))
               * 1000000000 + 0.5) AS BIGINT) AS t
      FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(t) AS BIGINT) AS mi_nats_nano
    FROM terms
    """,
    tags=("A1", "F4", "A3"),
)
def eval_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats — chi-square's
    information-theoretic sibling (chi2/N approximates 2*MI for weak
    dependence; MI stays meaningful under strong dependence and is the
    quantity the mixture planner actually wants: how many bits of the
    language mix does knowing the source buy?).

    Determinism: each observed cell's term p*ln(p/(pq)) is a pure
    function of four exact integers (o, r, c, n); *, / are correctly
    rounded on identical operands, and ln — which neither engine
    guarantees correctly rounded — is immediately quantized at 10^-9
    (floor(x*1e9+0.5)) so the aggregate is an exact integer sum of
    per-cell integers in any summation order. A last-bit libm
    difference inside ln could in principle flip one cell's quantized
    term by 1e-9 nats when the value sits within an ulp of a boundary —
    the same accepted residual risk as the repo's perplexity/DSIR
    round-then-decimal-sum lane (gated green at three scales); the
    statistic's consumers read orders of magnitude above that window.
    Zero-observed cells contribute exactly 0 (lim p->0 of p*ln p) and
    are correctly absent. Scale: one scan -> arity-bounded cell table
    (the checkpointed cells feed the total and both marginals)."""
    cells, tot, rt, ct = _contingency(spark, sf_dir)
    terms = (
        cells.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor((CAST(o AS DOUBLE) / n)"
                " * ln(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))"
                " * 1000000000 + 0.5) AS BIGINT)"
            ).alias("t"),
            "n",
        )
    )
    return terms.agg(
        F.max("n").alias("n_docs"),
        F.count("*").cast("long").alias("n_cells"),
        F.sum("t").cast("long").alias("mi_nats_nano"),
    )


# --- KL divergence of the filter's source-mixture bias ------------------------
from .text import STOPWORDS as _KL_STOP  # noqa: E402
from .text import _GOPHER_PASS_PRED, gopher_measures_sql_cte  # noqa: E402


@query(
    "mix_kl_filter_bias",
    oracle=f"""
    WITH {gopher_measures_sql_cte("documents", extra_cols="source", stop=_KL_STOP)},
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(CASE WHEN {_GOPHER_PASS_PRED} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept
      FROM gm
      GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_all) AS BIGINT) AS all_tot,
             CAST(sum(n_kept) AS BIGINT) AS kept_tot
      FROM per
    ),
    terms AS (
      SELECT CAST(floor(
               (CAST(n_kept AS DOUBLE) / kept_tot)
               * ln((CAST(n_kept AS DOUBLE) * all_tot)
                    / (CAST(n_all AS DOUBLE) * kept_tot))
               * 1000000000 + 0.5) AS BIGINT) AS t
      FROM per CROSS JOIN tot
      WHERE n_kept > 0
    )
    SELECT tot.all_tot AS n_docs,
           tot.kept_tot AS n_kept,
           CAST(coalesce((SELECT sum(t) FROM terms), 0) AS BIGINT)
             AS kl_nats_nano
    FROM tot
    """,
    tags=("A1", "F4", "U2"),
)
def mix_kl_filter_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-bias audit: KL(P_kept || P_raw) over source shares, where
    P_kept is the source mixture AFTER the Gopher quality gate and
    P_raw before it — quality filters are known to skew domain mixtures
    (the documented failure mode of classifier-filtered corpora), and
    this one number says how many nats of mixture drift the gate
    introduced; the mixture planner reads it before trusting its
    pre-filter domain budgets. Gate definition imported
    (gopher_measure_cols with the corpus stopword inventory, the same
    parameterization the pipeline compositions run — the audit grades
    the filter that ships).

    Determinism: same contract as eval_mutual_information — each
    source's term is a pure function of four exact integers, quantized
    at 10^-9 immediately after the (not-correctly-rounded) ln, so the
    sum is order-independent; sources the filter empties contribute 0
    in the limit and are excluded exactly.

    Scale: one scan fused with the gate's integer measures -> one
    source-arity aggregate; everything after runs on tens of rows."""
    from .text import gopher_measure_cols

    d = load_table(spark, sf_dir, "documents")
    *_, passes = gopher_measure_cols(stop=_KL_STOP)
    per = (
        d.select("source", passes.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_all"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        )
        .localCheckpoint(eager=False)  # totals + terms consumers
    )
    tot = per.agg(
        F.sum("n_all").cast("long").alias("all_tot"),
        F.sum("n_kept").cast("long").alias("kept_tot"),
    )
    terms = (
        per.filter(F.col("n_kept") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(floor((CAST(n_kept AS DOUBLE) / kept_tot)"
                " * ln((CAST(n_kept AS DOUBLE) * all_tot)"
                " / (CAST(n_all AS DOUBLE) * kept_tot))"
                " * 1000000000 + 0.5) AS BIGINT)"
            ).alias("t"),
        )
    )
    kl = terms.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("kl_nats_nano")
    )
    return tot.crossJoin(F.broadcast(kl)).select(
        F.col("all_tot").alias("n_docs"),
        F.col("kept_tot").alias("n_kept"),
        "kl_nats_nano",
    )


# --- Kaplan-Meier survival of user activity lifetimes -------------------------
_KM_CENSOR_US = 3 * 86_400_000_000  # still-active horizon: last 3 days
_KM_EVENTS = (
    "(SELECT * REPLACE (CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS ts)"
    " FROM events)"
)


# Shared CTE chain: per-user lifetimes -> censor marks -> per-duration
# death/censor counts -> risk sets. Consumed by the Kaplan-Meier survival
# curve AND the Nelson-Aalen cumulative hazard.
_KM_RISK_CTES = f"""
    spans AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000 AS t,
             CAST(epoch_us(max(ts)) AS BIGINT) AS last_us
      FROM {_KM_EVENTS} ev GROUP BY 1),
    horizon AS (SELECT max(last_us) AS max_us FROM spans),
    marked AS (
      SELECT t, CASE WHEN last_us >= max_us - {_KM_CENSOR_US} THEN 1 ELSE 0 END AS cens
      FROM spans CROSS JOIN horizon),
    durs AS (
      SELECT t,
             CAST(sum(1 - cens) AS BIGINT) AS d,
             CAST(sum(cens) AS BIGINT) AS c
      FROM marked GROUP BY 1),
    risked AS (
      SELECT t, d, c,
             CAST((SELECT count(*) FROM marked)
                  - coalesce(sum(d + c) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM durs)
"""


def _km_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, d, c, n_risk) per distinct lifetime duration — the survival-
    analysis risk table shared by Kaplan-Meier and Nelson-Aalen (Spark
    twin of _KM_RISK_CTES). The per-user lifetime table is checkpointed:
    it feeds BOTH the horizon aggregate and the censor marking — without
    the cut each consumer re-runs the full events scan + groupBy
    (fan-out-rescan discipline)."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.expr(
            "(unix_micros(max(ts)) - unix_micros(min(ts))) div 86400000000"
        ).alias("t"),
        F.expr("unix_micros(max(ts))").alias("last_us"),
    ).localCheckpoint(eager=False)
    horizon = spans.agg(
        F.max("last_us").alias("max_us"), F.count("*").cast("long").alias("n_users")
    )
    marked = spans.crossJoin(F.broadcast(horizon)).select(
        "t",
        F.expr(
            f"CASE WHEN last_us >= max_us - {_KM_CENSOR_US} THEN 1 ELSE 0 END"
        ).alias("cens"),
        "n_users",
    )
    durs = marked.groupBy("t").agg(
        F.sum(F.expr("1 - cens")).cast("long").alias("d"),
        F.sum("cens").cast("long").alias("c"),
        F.max("n_users").alias("n_users"),
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    return durs.withColumn(
        "n_risk",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
        ).cast("long"),
    ).drop("n_users")


@query(
    "eval_kaplan_meier",
    oracle=f"""
    WITH {_KM_RISK_CTES},
    terms AS (
      SELECT *,
             CASE WHEN d = 0 THEN 0
                  WHEN d < n_risk THEN CAST(floor(
                    ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1000000000 + 0.5) AS BIGINT)
                  ELSE 0 END AS term,
             max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS extinct
      FROM risked)
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d AS d_deaths, c AS c_censored,
           CASE WHEN extinct = 1 THEN NULL
                ELSE CAST(sum(term) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                END AS surv_lnsum_nano
    FROM terms
    """,
    tags=("A1", "W3", "F1", "F4"),
)
def eval_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958) over user
    activity lifetimes — the product-limit curve every retention team
    reads: lifetime = days between a user's first and last event, RIGHT-
    CENSORED for users still active in the final 3 days of the
    observation window (their true lifetime is only known to exceed the
    observed span — treating them as churned is the classic retention-
    analysis bias K-M exists to fix). Per distinct duration t: the risk
    set n_risk (users whose lifetime reached t), deaths d (churned at
    exactly t), censored c, and the survival curve as the cumulative
    Σ ln(1 - d/n_risk) — reported as a 1e-9-quantized exact-integer sum
    (the repo's ln discipline: each term floor(x·1e9 + 0.5), so the
    cumulative is an exact integer in any engine; S(t) = exp(sum/1e9)
    for display). If a risk set ever dies out entirely (d = n_risk,
    S -> 0, ln -> -inf) the curve reports NULL from that t on — the
    deterministic extinction flag is a running max, not a float.

    Scale: one scan -> per-user min/max aggregate (map-side combine on
    user_id), then the risk-set table is bounded by DISTINCT DURATIONS
    (<= observation span in days, ~30 here), so the ordered windows run
    over a constant-size table — never over users or events."""
    wc = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    terms = _km_risk_table(spark, sf_dir).withColumn(
        "term",
        F.expr(
            "CASE WHEN d = 0 THEN 0"
            " WHEN d < n_risk THEN CAST(floor("
            "ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1000000000 + 0.5) AS BIGINT)"
            " ELSE 0 END"
        ),
    ).withColumn("extinct", F.max(F.expr("CASE WHEN d >= n_risk THEN 1 ELSE 0 END")).over(wc))
    return terms.select(
        F.col("t").cast("long").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_deaths"),
        F.col("c").alias("c_censored"),
        F.when(F.col("extinct") == 1, F.lit(None).cast("long"))
        .otherwise(F.sum("term").over(wc))
        .alias("surv_lnsum_nano"),
    )


# --- decision-stump training: best Gini split --------------------------------
@query(
    "eval_decision_stump",
    oracle="""
    WITH labeled AS (
      SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(y) AS HUGEINT) AS p
      FROM labeled),
    vals AS (
      SELECT v, CAST(count(*) AS HUGEINT) AS cnt, CAST(sum(y) AS HUGEINT) AS pos
      FROM labeled GROUP BY 1),
    cums AS (
      SELECT v,
             sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
             sum(pos) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl
      FROM vals),
    scored AS (
      SELECT v, nl, pl, t.n - nl AS nr, t.p - pl AS pr,
             (pl * pl + (nl - pl) * (nl - pl)) * 1000000000000 // nl
             + ((t.p - pl) * (t.p - pl)
                + ((t.n - nl) - (t.p - pl)) * ((t.n - nl) - (t.p - pl)))
               * 1000000000000 // (t.n - nl) AS score
      FROM cums CROSS JOIN tot t
      WHERE t.n - nl > 0)
    SELECT CAST(t.n AS BIGINT) AS n_docs, CAST(t.p AS BIGINT) AS n_pos,
           CAST(s.v AS BIGINT) AS threshold,
           CAST(s.nl AS BIGINT) AS n_left, CAST(s.pl AS BIGINT) AS pos_left,
           CAST(s.nr AS BIGINT) AS n_right, CAST(s.pr AS BIGINT) AS pos_right,
           CAST(s.score AS BIGINT) AS purity_scaled,
           CAST((t.p * t.p + (t.n - t.p) * (t.n - t.p)) * 1000000000000 // t.n
                AS BIGINT) AS baseline_scaled
    FROM scored s CROSS JOIN tot t
    ORDER BY s.score DESC, s.v ASC LIMIT 1
    """,
    tags=("A1", "W3", "O2", "U2"),
)
def eval_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a decision stump distributed — the exact best single
    threshold on n_chars predicting lang='en' (CART with one split,
    Breiman et al. 1984): the root-node computation of every
    distributed tree learner (XGBoost/LightGBM histogram-mode grows
    trees from exactly this cumulative-counts-over-the-value-domain
    scan). Split quality = weighted Gini purity; minimizing weighted
    impurity Σ_side n_s·(1 - Σ p_i²) is equivalent to MAXIMIZING
    Σ_side (pos_s² + neg_s²)/n_s, which stays integer-exact: each
    side's term is floor-scaled at 1e12 (ties inside the 1e-12 window
    resolve to the smaller threshold in both engines — deterministic).
    Candidates = every distinct feature value with a non-empty right
    side; reported with the no-split baseline purity so the consumer
    reads the gain directly.

    Scale: one scan -> per-VALUE counts (the value domain, not the
    rows, bounds everything downstream — the histogram trick of
    distributed GBDT); one ordered window over that bounded table;
    argmax is a top-1 TakeOrdered. pos² at corpus scale (~1e12 docs)
    reaches 1e24 and is multiplied by 1e12: decimal(38,0)/HUGEINT
    everywhere."""
    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    # one corpus scan: the value histogram is checkpointed and the grand
    # totals DERIVE from it (sum of per-value counts) — the naive shape
    # (tot and vals each aggregating `labeled`, plus the final total
    # join) re-scanned documents three times
    vals = (
        labeled.groupBy("v")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("cnt"),
            F.sum("y").cast("decimal(38,0)").alias("pos"),
        )
        .localCheckpoint(eager=False)
    )
    tot = vals.agg(
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("p"),
    )
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cums = vals.select(
        "v",
        F.sum("cnt").over(wc).alias("nl"),
        F.sum("pos").over(wc).alias("pl"),
    )
    scored = (
        cums.crossJoin(F.broadcast(tot))
        .where(F.expr("n - nl > 0"))
        .select(
            "v",
            "nl",
            "pl",
            F.expr("n - nl").alias("nr"),
            F.expr("p - pl").alias("pr"),
            F.expr(
                "(pl * pl + (nl - pl) * (nl - pl)) * 1000000000000 div nl"
                " + ((p - pl) * (p - pl) + ((n - nl) - (p - pl)) * ((n - nl) - (p - pl)))"
                " * 1000000000000 div (n - nl)"
            ).alias("score"),
        )
    )
    best = scored.orderBy(F.desc("score"), F.asc("v")).limit(1)
    return best.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("p").cast("long").alias("n_pos"),
        F.col("v").cast("long").alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("pl").cast("long").alias("pos_left"),
        F.col("nr").cast("long").alias("n_right"),
        F.col("pr").cast("long").alias("pos_right"),
        F.col("score").cast("long").alias("purity_scaled"),
        F.expr(
            "CAST((p * p + (n - p) * (n - p)) * 1000000000000 div n AS BIGINT)"
        ).alias("baseline_scaled"),
    )


# --- Wald SPRT: sequential conversion-rate monitoring -------------------------
# The four quantized-nanonat constants (H0: purchase share <= 10%, H1:
# >= 30%, alpha = beta = 5%) live in streaming/folds.py — ONE definition
# for this batch eval, the streaming fold, and (via the f-string below)
# both engines' SQL: the twin-oracle-constant discipline.
from ..streaming.folds import (  # noqa: E402
    SPRT_A as _SPRT_A,
    SPRT_B as _SPRT_B,
    SPRT_L0 as _SPRT_L0,
    SPRT_L1 as _SPRT_L1,
)

SPRT_ORACLE = f"""
    WITH seq AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
               AS day_no,
             CASE WHEN event_type = 'purchase' THEN {_SPRT_L1}
                  ELSE {_SPRT_L0} END AS inc,
             ts, event_id
      FROM {_KM_EVENTS} ev),
    walk AS (
      SELECT day_no, inc,
             sum(CAST(inc AS HUGEINT)) OVER (PARTITION BY day_no ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (PARTITION BY day_no ORDER BY ts, event_id) AS rn
      FROM seq),
    flagged AS (
      SELECT *, (cum >= {_SPRT_A} OR cum <= {_SPRT_B}) AS crossed FROM walk)
    SELECT day_no,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(coalesce(min(rn) FILTER (WHERE crossed), count(*)) AS BIGINT)
             AS n_steps,
           CASE WHEN min(rn) FILTER (WHERE crossed) IS NULL THEN 'undecided'
                WHEN arg_min(cum, rn) FILTER (WHERE crossed) >= {_SPRT_A}
                  THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(coalesce(arg_min(cum, rn) FILTER (WHERE crossed),
                         sum(CAST(inc AS HUGEINT))) AS BIGINT) AS llr_nano
    FROM flagged GROUP BY day_no
    """


@query(
    "eval_sprt_boundary",
    oracle=SPRT_ORACLE,
    tags=("W2", "W3", "F4", "A7"),
)
def eval_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) run per day
    over the event stream — the optimal sequential A/B monitor: is the
    purchase share <= p0 = 10% (H0) or >= p1 = 30% (H1)? Each event
    moves a cumulative log-likelihood ratio by ln(p1/p0) (purchase) or
    ln((1-p1)/(1-p0)) (anything else); the day DECIDES at the first
    step the walk exits (ln B, ln A) with alpha = beta = 5%, and reports
    'undecided' with its final LLR if the day ends inside the band.
    First-crossing semantics are what makes SPRT sequential: steps after
    the decision are never sampled, so n_steps is the saved sample size.

    Exactness: the four constants are quantized to integer nanonats in
    PYTHON (floor(ln(x)*1e9 + 0.5)) and interpolated verbatim into both
    engines' SQL, so the walk is pure int64 addition and the crossing
    comparisons are exact — no float anywhere in either engine.

    Scale: partitioned by day — the sort and the running sum are
    per-partition, state is one integer; the cumulative sum is lifted to
    decimal(38,0)/HUGEINT so an arbitrarily long undecided day cannot
    wrap int64. One scan, one shuffle on day, bounded output (one row
    per day)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.expr(
            f"CASE WHEN event_type = 'purchase' THEN {_SPRT_L1}L"
            f" ELSE {_SPRT_L0}L END"
        ).alias("inc"),
    )
    w = W.partitionBy("day").orderBy("ts", "event_id")
    walk = ev.select(
        "day",
        "inc",
        F.sum(F.col("inc").cast("decimal(38,0)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.row_number().over(w).alias("rn"),
    ).withColumn("crossed", (F.col("cum") >= _SPRT_A) | (F.col("cum") <= _SPRT_B))
    agg = walk.groupBy("day").agg(
        F.count("*").alias("n_obs"),
        F.expr("min(rn) FILTER (WHERE crossed)").alias("first_rn"),
        F.expr("min_by(cum, rn) FILTER (WHERE crossed)").alias("dec_llr"),
        F.sum(F.col("inc").cast("decimal(38,0)")).alias("total"),
    )
    return agg.select(
        F.expr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT)").alias("day_no"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.coalesce("first_rn", "n_obs").cast("long").alias("n_steps"),
        F.expr(
            f"CASE WHEN first_rn IS NULL THEN 'undecided'"
            f" WHEN dec_llr >= {_SPRT_A} THEN 'accept_h1'"
            f" ELSE 'accept_h0' END"
        ).alias("decision"),
        F.coalesce("dec_llr", "total").cast("long").alias("llr_nano"),
    )


# --- ranked-retrieval evals over the full corpus ordering ---------------------
_RANKED_SQL = f"""
    scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             doc_id
      FROM documents),
    ranked AS (
      SELECT pos,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
             sum(pos) OVER (ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      FROM scored)
"""


def _ranked_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pos, rk, cum_pos) for every document, ranked by the shared
    English-marker score (DESC, doc_id tiebreak) — the distributed
    global ranking both ranked-retrieval evals consume, built with the
    two-pass prefix shape (registry.global_prefix), never a single-node
    sort."""
    from .registry import global_prefix

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("lang", TOKENS().alias("toks"), "doc_id").select(
        _en_score_col().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        "doc_id",
    )
    return global_prefix(
        scored,
        [F.col("score").desc(), F.col("doc_id")],
        [("pos", F.col("pos"))],
    )


@query(
    "eval_average_precision",
    oracle=f"""
    WITH {_RANKED_SQL},
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             sum(CASE WHEN pos = 1
                      THEN CAST(cum_pos AS HUGEINT) * 1000000 // rk
                      ELSE 0 END) AS ap_num,
             max(CASE WHEN rk <= 100 THEN cum_pos END) AS p100
      FROM ranked)
    SELECT n_docs, n_pos,
           CASE WHEN n_pos = 0 THEN 0
                ELSE CAST(ap_num // n_pos AS BIGINT) END AS ap_ppm,
           CAST(CAST(p100 AS HUGEINT) * 1000000
                // least(n_docs, 100) AS BIGINT) AS p_at_100_ppm
    FROM agg
    """,
    tags=("O1", "W3", "U2", "A7"),
)
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the English-marker ranking against the
    lang='en' labels — the PR-curve summary (AP = mean over positives of
    precision@its-rank) that grades rankers where ROC-AUC is blind to
    class imbalance; precision@100 rides along as the fixed-cutoff
    triage metric. Ties rank deterministically by doc_id, so AP is a
    pure function of the data in both engines.

    Exactness: each positive contributes the exact floor
    cum_pos*1e6 // rk; AP is the floor mean of those integers — no float
    anywhere. cum_pos*1e6 passes 2^63 at corpus scale:
    decimal(38,0)/HUGEINT-lifted.

    Scale: the global ranking uses the distributed two-pass prefix-sum
    shape (registry.global_prefix — repartitionByRange + broadcast
    offset table), so no single task ever sees more than its range
    bucket; everything after is one aggregate."""
    ranked = _ranked_scores(spark, sf_dir)
    agg = ranked.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(
            F.expr(
                "CASE WHEN pos = 1 THEN"
                " CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div rk"
                " ELSE 0 END"
            )
        ).alias("ap_num"),
        F.max(F.expr("CASE WHEN rk <= 100 THEN cum_pos END")).alias("p100"),
    )
    return agg.select(
        "n_docs",
        "n_pos",
        F.expr(
            "CASE WHEN n_pos = 0 THEN 0"
            " ELSE CAST(ap_num div n_pos AS BIGINT) END"
        ).alias("ap_ppm"),
        F.expr(
            "CAST(CAST(p100 AS DECIMAL(38,0)) * 1000000"
            " div least(n_docs, 100) AS BIGINT)"
        ).alias("p_at_100_ppm"),
    )


@query(
    "eval_cumulative_gains",
    oracle=f"""
    WITH {_RANKED_SQL},
    tot AS (SELECT max(rk) AS n_docs, max(cum_pos) AS n_pos FROM ranked),
    dec AS (
      SELECT (rk - 1) * 10 // n_docs AS decile,
             count(*) AS n, CAST(sum(pos) AS BIGINT) AS np,
             max(n_docs) AS n_docs, max(n_pos) AS n_pos
      FROM ranked CROSS JOIN tot GROUP BY 1),
    cum AS (
      SELECT decile, n, np, n_docs, n_pos,
             sum(n) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             sum(np) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      FROM dec)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n, np AS n_pos_decile,
           CASE WHEN n_pos = 0 THEN 0
                ELSE CAST(CAST(cum_pos AS HUGEINT) * 1000000 // n_pos AS BIGINT)
                END AS capture_ppm,
           CASE WHEN n_pos = 0 THEN 0
                ELSE CAST(CAST(cum_pos AS HUGEINT) * n_docs * 1000000
                          // (CAST(n_pos AS HUGEINT) * cum_n) AS BIGINT)
                END AS lift_ppm
    FROM cum
    """,
    tags=("O1", "W3", "A7", "U2"),
)
def eval_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift chart of the English-marker ranking —
    the campaign-targeting standard: split the ranked corpus into 10
    equal-depth deciles and report, per decile, how much of the positive
    class the top-k deciles capture (capture_ppm) and the lift over
    random targeting (lift = capture_rate / depth_rate). Decile 0
    showing lift >> 1e6 and a monotone capture curve is the 'model works'
    read every marketer does.

    Exactness: decile assignment is the integer (rk-1)*10 // n_docs on
    the exact distributed rank; capture and lift are exact HUGEINT/
    decimal floor ratios (cum_pos*n_docs*1e6 overflows int64 at corpus
    scale — lifted).

    Scale: same two-pass global ranking as eval_average_precision; the
    totals ride a 1-row broadcast; the cumulative runs over the 10-row
    decile table."""
    ranked = _ranked_scores(spark, sf_dir)
    tot = ranked.agg(
        F.max("rk").alias("n_docs"), F.max("cum_pos").alias("n_pos")
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("decile", F.expr("(rk - 1) * 10 div n_docs"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").cast("long").alias("np"),
            F.max("n_docs").alias("n_docs"),
            F.max("n_pos").alias("n_pos"),
        )
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = dec.select(
        "decile",
        "n",
        "np",
        "n_docs",
        "n_pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("np").over(w).alias("cum_pos"),
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("np").alias("n_pos_decile"),
        F.expr(
            "CASE WHEN n_pos = 0 THEN 0 ELSE"
            " CAST(CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div n_pos AS BIGINT)"
            " END"
        ).alias("capture_ppm"),
        F.expr(
            "CASE WHEN n_pos = 0 THEN 0 ELSE"
            " CAST(CAST(cum_pos AS DECIMAL(38,0)) * n_docs * 1000000"
            " div (CAST(n_pos AS DECIMAL(38,0)) * cum_n) AS BIGINT) END"
        ).alias("lift_ppm"),
    )


# --- Poisson bootstrap: distributed confidence interval ------------------------
_PB_B = 40  # replicates: trimming one order stat per tail = exact 2.5%
_PB_SEED = "pb42"
# Poisson(1) CDF quantized to the [0,256) two-nibble md5 draw:
# P(0)=.3679~94/256, P(1)=.3679~94, P(2)=.1839~47, P(3)=.0613~16, tail->4
_PB_W = "CASE WHEN {d} < 94 THEN 0 WHEN {d} < 188 THEN 1 WHEN {d} < 235 THEN 2 WHEN {d} < 251 THEN 3 ELSE 4 END"


def _pb_draw_spark(b: int) -> str:
    key = f"concat('{_PB_SEED}|', cast(event_id as string), '|{b}')"
    d = (
        f"(16 * (instr('0123456789abcdef', substring(md5({key}), 1, 1)) - 1)"
        f" + (instr('0123456789abcdef', substring(md5({key}), 2, 1)) - 1))"
    )
    return _PB_W.format(d=d)


def _pb_draw_duck(b: int) -> str:
    key = f"'{_PB_SEED}|' || CAST(event_id AS VARCHAR) || '|{b}'"
    d = (
        f"(16 * (strpos('0123456789abcdef', substring(md5({key}), 1, 1)) - 1)"
        f" + (strpos('0123456789abcdef', substring(md5({key}), 2, 1)) - 1))"
    )
    return _PB_W.format(d=d)


def _pb_oracle() -> str:
    sums = ",\n             ".join(
        f"CAST(sum({_pb_draw_duck(b)}) AS HUGEINT) AS s{b},"
        f" CAST(sum(({_pb_draw_duck(b)}) * pos) AS HUGEINT) AS sp{b}"
        for b in range(_PB_B)
    )
    means = ", ".join(
        f"CASE WHEN s{b} = 0 THEN 0 ELSE CAST(sp{b} * 1000000 // s{b} AS BIGINT) END"
        for b in range(_PB_B)
    )
    return f"""
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    wide AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS HUGEINT) AS n_pos,
             {sums}
      FROM base),
    arr AS (SELECT n_rows, n_pos, list_sort([{means}]) AS ms FROM wide)
    SELECT n_rows,
           CAST(n_pos * 1000000 // n_rows AS BIGINT) AS point_ppm,
           CAST({_PB_B} AS BIGINT) AS n_replicates,
           ms[2] AS ci_lo_ppm,
           ms[{_PB_B - 1}] AS ci_hi_ppm,
           CAST({_PB_B} * list_sum(list_transform(ms,
                  m -> CAST(m AS HUGEINT) * m))
                - CAST(list_sum(ms) AS HUGEINT) * list_sum(ms) AS BIGINT)
             AS var_num_b2
    FROM arr
    """


@query(
    "eval_bootstrap_ci",
    oracle=_pb_oracle(),
    tags=("A7", "F8", "F7", "A3"),
)
def eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the purchase-share
    point estimate — THE distributed bootstrap (Chamandy et al. 2012,
    'Estimating Uncertainty for Massive Data Streams'): classical
    resampling needs N draws per replicate with global coordination,
    but Binomial(N, 1/N) -> Poisson(1), so each row independently draws
    its own multiplicity per replicate from a hash — no second pass, no
    coordination, one scan for all 40 replicates. The per-row weight is
    a deterministic two-nibble md5 draw mapped through the quantized
    Poisson(1) CDF, so both engines materialize the identical resamples
    bit for bit. CI = the 2nd/39th order statistics of the 40 replicate
    means (one trimmed from each tail = exact 2.5%); the replicate
    variance numerator B*sum(m^2)-(sum m)^2 rides along as an exact
    integer so consumers can derive the bootstrap SE.

    Scale: ONE map-only pass — the 80 conditional sums (2 per
    replicate) all partial-aggregate map-side, so the shuffle carries
    exactly one 82-column row per partition regardless of data volume;
    the order statistics sort a 40-element array on the driver side of
    the aggregate. 40 md5 calls per row is the honest bootstrap cost
    and is embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("pos"),
    )
    aggs = [
        F.count("*").cast("long").alias("n_rows"),
        F.sum("pos").cast("decimal(38,0)").alias("n_pos"),
    ]
    for b in range(_PB_B):
        w = _pb_draw_spark(b)
        aggs.append(F.expr(f"CAST(sum({w}) AS DECIMAL(38,0))").alias(f"s{b}"))
        aggs.append(
            F.expr(f"CAST(sum(({w}) * pos) AS DECIMAL(38,0))").alias(f"sp{b}")
        )
    wide = ev.agg(*aggs)
    means = ", ".join(
        f"CASE WHEN s{b} = 0 THEN 0"
        f" ELSE CAST(sp{b} * 1000000 div s{b} AS BIGINT) END"
        for b in range(_PB_B)
    )
    arr = wide.withColumn("ms", F.expr(f"array_sort(array({means}))"))
    return arr.select(
        "n_rows",
        F.expr("CAST(n_pos * 1000000 div n_rows AS BIGINT)").alias("point_ppm"),
        F.lit(_PB_B).cast("long").alias("n_replicates"),
        F.expr("element_at(ms, 2)").alias("ci_lo_ppm"),
        F.expr(f"element_at(ms, {_PB_B - 1})").alias("ci_hi_ppm"),
        F.expr(
            f"CAST({_PB_B} * aggregate(ms, CAST(0 AS DECIMAL(38,0)),"
            " (a, m) -> a + CAST(m AS DECIMAL(38,0)) * m)"
            " - aggregate(ms, CAST(0 AS DECIMAL(38,0)), (a, m) -> a + m)"
            " * aggregate(ms, CAST(0 AS DECIMAL(38,0)), (a, m) -> a + m)"
            " AS BIGINT)"
        ).alias("var_num_b2"),
    )


@query(
    "eval_pr_curve",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    hist AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM scored GROUP BY score),
    tot AS (SELECT CAST(sum(np) AS HUGEINT) AS p FROM hist),
    cum AS (
      SELECT score,
             sum(np) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(nn) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM hist)
    SELECT CAST(score AS BIGINT) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(CAST(tp AS HUGEINT) * 1000000 // (tp + fp) AS BIGINT)
             AS precision_ppm,
           CASE WHEN t.p = 0 THEN 0
                ELSE CAST(CAST(tp AS HUGEINT) * 1000000 // t.p AS BIGINT) END
             AS recall_ppm
    FROM cum CROSS JOIN tot t
    """,
    tags=("W3", "A1", "U2"),
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full precision-recall curve of the English-marker score — one
    (precision, recall) operating point per DISTINCT THRESHOLD (predict
    positive iff score >= t): the curve eval_average_precision
    summarizes, materialized so the consumer picks the operating point.
    tp/fp at each threshold are descending-suffix sums over the score
    HISTOGRAM (the same bounded-arity trick as eval_auc_mannwhitney:
    the per-mille score has <= 1001 distinct values, so the ordered
    window runs over a histogram, never over documents). Exact floor
    ratios, HUGEINT/decimal-lifted.

    Scale: one scan -> score histogram (map-side combine); everything
    downstream is score-arity-bounded."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("lang", TOKENS().alias("toks"))
    hist = (
        base.select(
            _en_score_col().alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").cast("long").alias("np"),
            F.sum(F.expr("1 - pos")).cast("long").alias("nn"),
        )
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(F.sum("np").cast("decimal(38,0)").alias("p"))
    w = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        "score",
        F.sum("np").over(w).alias("tp"),
        F.sum("nn").over(w).alias("fp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").cast("long").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.expr(
            "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div (tp + fp) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN p = 0 THEN 0"
            " ELSE CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div p AS BIGINT) END"
        ).alias("recall_ppm"),
    )


@query(
    "eval_nelson_aalen",
    oracle=f"""
    WITH {_KM_RISK_CTES},
    terms AS (
      SELECT t, d, c, n_risk,
             CASE WHEN n_risk = 0 THEN 0
                  ELSE CAST(CAST(d AS HUGEINT) * 1000000000 // n_risk AS BIGINT)
                  END AS term,
             CASE WHEN n_risk = 0 THEN 0
                  ELSE CAST(CAST(d AS HUGEINT) * (n_risk - d) * 1000000000
                            // (CAST(n_risk AS HUGEINT) * n_risk * n_risk)
                       AS BIGINT) END AS var_term
      FROM risked)
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d AS d_deaths, c AS c_censored,
           CAST(sum(term) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hazard_cum_nano,
           CAST(sum(var_term) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS hazard_var_nano
    FROM terms
    """,
    tags=("A1", "W3", "F1", "F4"),
)
def eval_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard estimator (Nelson 1972, Aalen
    1978) over the SAME user-lifetime risk table as eval_kaplan_meier
    (shared _km_risk_table / _KM_RISK_CTES): H(t) = sum_{t' <= t}
    d/n_risk — the hazard-scale view of survival that stays finite
    where K-M's log-product hits extinction, and the quantity whose
    slope IS the churn rate. Reported as exact 1e-9-scaled floor terms
    (d*1e9 // n, so the cumulative is an exact integer in both
    engines), with the Greenwood-style variance accumulator
    d*(n-d)*1e9 // n^3 riding along for confidence bands.

    Scale: identical to K-M — one events scan, per-user aggregate
    (checkpointed), then every window runs over the distinct-duration
    table (bounded by the observation span in days)."""
    wc = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    terms = _km_risk_table(spark, sf_dir).select(
        "t",
        "d",
        "c",
        "n_risk",
        F.expr(
            "CASE WHEN n_risk = 0 THEN 0"
            " ELSE CAST(CAST(d AS DECIMAL(38,0)) * 1000000000 div n_risk"
            " AS BIGINT) END"
        ).alias("term"),
        F.expr(
            "CASE WHEN n_risk = 0 THEN 0"
            " ELSE CAST(CAST(d AS DECIMAL(38,0)) * (n_risk - d) * 1000000000"
            " div (CAST(n_risk AS DECIMAL(38,0)) * n_risk * n_risk)"
            " AS BIGINT) END"
        ).alias("var_term"),
    )
    return terms.select(
        F.col("t").cast("long").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_deaths"),
        F.col("c").alias("c_censored"),
        F.sum("term").over(wc).cast("long").alias("hazard_cum_nano"),
        F.sum("var_term").over(wc).cast("long").alias("hazard_var_nano"),
    )


# (z_{0.025} + z_{0.2})^2 quantized to micro: two-sided 5% alpha, 80%
# power — the standard A/B sizing constants, fixed in python so both
# engines share the exact integer
_POWER_K_MICRO = 7_848_880
_POWER_MDE_PCT = 10  # detect a 10% relative lift


@query(
    "eval_power_analysis",
    oracle=f"""
    WITH base AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS k,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS HUGEINT) AS n_days
      FROM events),
    rates AS (
      SELECT n, k, n_days,
             k * 1000000 // n AS p1,
             (k * 1000000 // n) * (100 + {_POWER_MDE_PCT}) // 100 AS p2
      FROM base),
    sized AS (
      SELECT n, k, n_days, p1, p2,
             ({_POWER_K_MICRO} * (p1 * (1000000 - p1) + p2 * (1000000 - p2))
              + (p2 - p1) * (p2 - p1) * 1000000 - 1)
             // ((p2 - p1) * (p2 - p1) * 1000000) AS n_arm
      FROM rates)
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(k AS BIGINT) AS n_purchases,
           CAST(p1 AS BIGINT) AS p1_ppm,
           CAST(p2 AS BIGINT) AS p2_ppm,
           CAST(n_arm AS BIGINT) AS n_per_arm,
           CAST((2 * n_arm * n_days + n - 1) // n AS BIGINT) AS days_required,
           coalesce(n >= 2 * n_arm, FALSE) AS currently_powered
    FROM sized
    """,
    tags=("A3", "F4", "A7"),
)
def eval_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from live data — the sample-size
    calculation every A/B platform runs before a launch: with the
    observed purchase share as the baseline p1 and a 10% relative MDE
    (p2 = 1.1*p1), the required per-arm n at two-sided alpha = 5% and
    80% power is n = (z_a + z_b)^2 * (p1(1-p1) + p2(1-p2)) / (p2-p1)^2.
    The z-constants quantize ONCE in python to an exact shared micro
    integer; rates are exact ppm floors; the sizing is one ceiling
    division (+den-1 idiom), so both engines report the identical n.
    days_required converts the two-arm total into calendar time at the
    observed event rate — the number the launch review actually asks
    for.

    Scale: one scan, one global conditional aggregate (map-side
    combine), constant output. HUGEINT/decimal-lifted — p*(1e6-p)
    products at ppm scale reach 2.5e11 and multiply by the 7.8e6
    constant."""
    base = load_table(spark, sf_dir, "events").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("decimal(38,0)")
        .alias("k"),
        F.countDistinct(F.expr("to_date(ts)")).cast("decimal(38,0)").alias(
            "n_days"
        ),
    )
    rates = base.select(
        "n",
        "k",
        "n_days",
        F.expr("k * 1000000 div n").alias("p1"),
        F.expr(f"(k * 1000000 div n) * (100 + {_POWER_MDE_PCT}) div 100").alias(
            "p2"
        ),
    )
    sized = rates.withColumn(
        "n_arm",
        # a zero baseline rate makes p2 = p1 = 0: no finite sample sizes
        F.expr(
            f"CASE WHEN p2 = p1 THEN NULL ELSE"
            f" ({_POWER_K_MICRO} * (p1 * (1000000 - p1) + p2 * (1000000 - p2))"
            " + (p2 - p1) * (p2 - p1) * 1000000 - 1)"
            " div ((p2 - p1) * (p2 - p1) * 1000000) END"
        ),
    )
    return sized.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_purchases"),
        F.col("p1").cast("long").alias("p1_ppm"),
        F.col("p2").cast("long").alias("p2_ppm"),
        F.col("n_arm").cast("long").alias("n_per_arm"),
        F.expr("CAST((2 * n_arm * n_days + n - 1) div n AS BIGINT)").alias(
            "days_required"
        ),
        F.coalesce(F.col("n") >= F.expr("2 * n_arm"), F.lit(False)).alias(
            "currently_powered"
        ),
    )


@query(
    "eval_expected_calibration_error",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    bins AS (
      SELECT least(score // 100, 9) AS bin,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(pos) AS HUGEINT) AS n_pos,
             CAST(sum(score) AS HUGEINT) AS sum_score
      FROM scored GROUP BY 1)
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(abs(1000 * n_pos - sum_score)) * 1000 // sum(n) AS BIGINT)
             AS ece_ppm,
           CAST(max(abs(1000 * n_pos - sum_score) * 1000 // n) AS BIGINT)
             AS mce_ppm
    FROM bins
    """,
    tags=("A1", "A3", "U2", "F4"),
)
def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error (Guo et al. 2017) of the
    English-marker score — the one-number summary of
    eval_calibration_bins' reliability diagram: ECE = sum over bins of
    (n_b/N) * |accuracy_b - confidence_b|, MCE the worst bin's gap. The
    per-bin gap shares the denominator 1000*n_b, so each bin contributes
    the EXACT integer numerator |1000*n_pos - sum_score| and ECE needs
    only ONE floor division at the very end — tighter than flooring per
    bin, and identical in both engines. Uses the same decile binning as
    the bins query so the two reports never disagree.

    Scale: map-only scoring + one 10-key groupBy + one 10-row aggregate
    — partial aggregation absorbs everything map-side."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("lang", TOKENS().alias("toks"))
    bins = (
        base.select(
            _en_score_col().alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy(F.least(F.expr("score div 100"), F.lit(9)).alias("bin"))
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("pos").cast("decimal(38,0)").alias("n_pos"),
            F.sum("score").cast("decimal(38,0)").alias("sum_score"),
        )
    )
    return bins.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_bins"),
        F.expr(
            "CAST(sum(abs(1000 * n_pos - sum_score)) * 1000 div sum(n) AS BIGINT)"
        ).alias("ece_ppm"),
        F.expr(
            "CAST(max(abs(1000 * n_pos - sum_score) * 1000 div n) AS BIGINT)"
        ).alias("mce_ppm"),
    )


@query(
    "eval_brier_score",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(pos) AS HUGEINT) AS k,
             CAST(sum((score - 1000 * pos) * (score - 1000 * pos)) AS HUGEINT)
               AS sq
      FROM scored)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(sq // n AS BIGINT) AS brier_ppm,
           CAST((n * k - k * k) * 1000000 // (n * n) AS BIGINT)
             AS brier_ref_ppm,
           CASE WHEN (n * k - k * k) * 1000000 // (n * n) = 0 THEN 0
                ELSE CAST(((n * k - k * k) * 1000000 // (n * n)
                           - sq // n) * 1000000
                          // ((n * k - k * k) * 1000000 // (n * n)) AS BIGINT)
                END AS skill_ppm
    FROM s
    """,
    tags=("A3", "F4", "U2"),
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the English-marker score used as a probability
    (Brier 1950) — the PROPER scoring rule the eval lane's threshold
    metrics can't replace: it punishes miscalibrated confidence, not
    just wrong rankings. With the per-mille score as p*1000, each
    document contributes the exact integer (score - 1000*y)^2 — already
    ppm-scaled — so the mean is one floor division. The climatology
    reference (always predict the base rate) is k*(n-k)/n^2 exactly,
    and the Brier skill score 1 - BS/BS_ref rides along as an exact ppm
    ratio: positive skill = the scorer beats knowing only the base
    rate.

    Scale: one scan, one 3-sum global aggregate (map-side combine);
    squared milli terms summed over corpus-scale rows pass 2^63 —
    HUGEINT/decimal-lifted."""
    d = load_table(spark, sf_dir, "documents")
    s = d.select("lang", TOKENS().alias("toks")).select(
        _en_score_col().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("k"),
        F.sum(F.expr("(score - 1000 * pos) * (score - 1000 * pos)"))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(sq div n AS BIGINT)").alias("brier_ppm"),
        F.expr(
            "CAST((n * k - k * k) * 1000000 div (n * n) AS BIGINT)"
        ).alias("brier_ref_ppm"),
        F.expr(
            "CASE WHEN (n * k - k * k) * 1000000 div (n * n) = 0 THEN 0"
            " ELSE CAST(((n * k - k * k) * 1000000 div (n * n) - sq div n)"
            " * 1000000 div ((n * k - k * k) * 1000000 div (n * n)) AS BIGINT)"
            " END"
        ).alias("skill_ppm"),
    )


# TOST constants: z_{0.05} = 1.6448536269514722; z^2 quantized once to
# ppb — the twin-oracle-constant discipline (both engines compare against
# the identical integer).
TOST_Z2_PPB = 2_705_543_454
TOST_MARGIN_PPM = 50_000  # +-5% equivalence margin on the en-rate


@query(
    "eval_tost_equivalence",
    oracle=f"""
    WITH marked AS (
      SELECT doc_id % 2 AS cohort,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    s AS (
      SELECT CAST(sum(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN cohort = 0 THEN pos END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN cohort = 1 THEN pos END) AS BIGINT) AS k2
      FROM marked),
    q AS (
      SELECT n1, n2,
             k1 * 1000000 // n1 AS p1,
             k2 * 1000000 // n2 AS p2
      FROM s),
    v AS (
      SELECT n1, n2, p1, p2, p1 - p2 AS d,
             p1 * (1000000 - p1) // n1 + p2 * (1000000 - p2) // n2 AS se2
      FROM q)
    SELECT n1 AS n_a, n2 AS n_b,
           CAST(p1 AS BIGINT) AS p_a_ppm, CAST(p2 AS BIGINT) AS p_b_ppm,
           CAST(d AS BIGINT) AS diff_ppm,
           CASE WHEN d + {TOST_MARGIN_PPM} >= 0
                 AND CAST(d + {TOST_MARGIN_PPM} AS HUGEINT)
                     * (d + {TOST_MARGIN_PPM}) * 1000000000
                     >= {TOST_Z2_PPB} * CAST(se2 AS HUGEINT)
                 AND {TOST_MARGIN_PPM} - d >= 0
                 AND CAST({TOST_MARGIN_PPM} - d AS HUGEINT)
                     * ({TOST_MARGIN_PPM} - d) * 1000000000
                     >= {TOST_Z2_PPB} * CAST(se2 AS HUGEINT)
                THEN 'equivalent' ELSE 'not_equivalent' END AS verdict
    FROM v
    """,
    tags=("A3", "F4", "F5"),
)
def eval_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) — the statistically
    correct way to claim two pipelines are THE SAME (a non-significant
    difference test proves nothing): split documents into two cohorts
    (doc_id parity — the A/A stand-in for before/after a pipeline
    change), and declare the English-rates equivalent iff BOTH one-sided
    z-tests reject at alpha = 0.05: (d + margin)/se >= z AND
    (margin - d)/se >= z, margin = 5%. The statistic is defined on
    ppm-QUANTIZED rates (p = k*1e6 div n, unpooled se^2 in ppm^2 with
    the same floors) so every comparison is exact integer algebra in
    both engines — the square-both-sides form (d+m)^2 * 1e9 >=
    z^2_ppb * se2 needs no square root, and the sign guards keep the
    squaring monotone.

    Scale: one scan, one 4-sum global aggregate (map-side combine), one
    row of integer arithmetic. The quantized-rate contract also bounds
    every product: (2e6)^2 * 1e9 ~ 4e21, decimal/HUGEINT-lifted."""
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        (F.col("doc_id") % 2).alias("cohort"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).agg(
        F.expr("CAST(sum(CASE WHEN cohort = 0 THEN 1 END) AS BIGINT)").alias("n1"),
        F.expr("CAST(sum(CASE WHEN cohort = 1 THEN 1 END) AS BIGINT)").alias("n2"),
        F.expr("CAST(sum(CASE WHEN cohort = 0 THEN pos END) AS BIGINT)").alias("k1"),
        F.expr("CAST(sum(CASE WHEN cohort = 1 THEN pos END) AS BIGINT)").alias("k2"),
    )
    q = s.select(
        "n1",
        "n2",
        F.expr("k1 * 1000000 div n1").alias("p1"),
        F.expr("k2 * 1000000 div n2").alias("p2"),
    ).select(
        "n1",
        "n2",
        "p1",
        "p2",
        F.expr("p1 - p2").alias("d"),
        F.expr(
            "p1 * (1000000 - p1) div n1 + p2 * (1000000 - p2) div n2"
        ).alias("se2"),
    )
    m = TOST_MARGIN_PPM
    z2 = TOST_Z2_PPB
    cond = (
        f"d + {m} >= 0"
        f" AND CAST(d + {m} AS DECIMAL(38,0)) * (d + {m}) * 1000000000"
        f"     >= {z2} * CAST(se2 AS DECIMAL(38,0))"
        f" AND {m} - d >= 0"
        f" AND CAST({m} - d AS DECIMAL(38,0)) * ({m} - d) * 1000000000"
        f"     >= {z2} * CAST(se2 AS DECIMAL(38,0))"
    )
    return q.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.col("p1").cast("long").alias("p_a_ppm"),
        F.col("p2").cast("long").alias("p_b_ppm"),
        F.col("d").cast("long").alias("diff_ppm"),
        F.expr(
            f"CASE WHEN {cond} THEN 'equivalent' ELSE 'not_equivalent' END"
        ).alias("verdict"),
    )


# --- Causal-inference readouts over the experiment assignment -----------------
# Per-event exact micro-scaled value: double -> decimal(38,6) (never at a
# 6-decimal midpoint, so both engines round identically) -> x 1e6 -> exact
# integer. Everything downstream is integer algebra.
_VMICRO_SPARK = "CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS DECIMAL(38,0))"
_VMICRO_DUCK = "CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS HUGEINT)"


@query(
    "eval_diff_in_diff",
    oracle=f"""
    WITH b AS (
      SELECT CAST(min(epoch_us(ts)) + max(epoch_us(ts)) AS BIGINT) AS mid2
      FROM {EVENTS} e),
    cells AS (
      SELECT {VARIANT_SQL} AS variant,
             CASE WHEN epoch_us(ts) * 2 < (SELECT mid2 FROM b)
                  THEN 'pre' ELSE 'post' END AS period,
             CAST(count(*) AS BIGINT) AS n_events,
             sum({_VMICRO_DUCK}) AS sv
      FROM {EVENTS} e GROUP BY 1, 2),
    m AS (
      SELECT variant, period, n_events,
             CAST(sv // n_events AS BIGINT) AS mean_micro
      FROM cells)
    SELECT
      CAST(min(CASE WHEN variant = 'treatment' AND period = 'pre'
               THEN n_events END) AS BIGINT) AS n_treat_pre,
      CAST(min(CASE WHEN variant = 'treatment' AND period = 'post'
               THEN n_events END) AS BIGINT) AS n_treat_post,
      CAST(min(CASE WHEN variant = 'control' AND period = 'pre'
               THEN n_events END) AS BIGINT) AS n_ctrl_pre,
      CAST(min(CASE WHEN variant = 'control' AND period = 'post'
               THEN n_events END) AS BIGINT) AS n_ctrl_post,
      CAST(min(CASE WHEN variant = 'treatment' AND period = 'pre'
               THEN mean_micro END) AS BIGINT) AS treat_pre_micro,
      CAST(min(CASE WHEN variant = 'treatment' AND period = 'post'
               THEN mean_micro END) AS BIGINT) AS treat_post_micro,
      CAST(min(CASE WHEN variant = 'control' AND period = 'pre'
               THEN mean_micro END) AS BIGINT) AS ctrl_pre_micro,
      CAST(min(CASE WHEN variant = 'control' AND period = 'post'
               THEN mean_micro END) AS BIGINT) AS ctrl_post_micro,
      CAST(min(CASE WHEN variant = 'treatment' AND period = 'post'
               THEN mean_micro END)
           - min(CASE WHEN variant = 'treatment' AND period = 'pre'
                 THEN mean_micro END)
           - min(CASE WHEN variant = 'control' AND period = 'post'
                 THEN mean_micro END)
           + min(CASE WHEN variant = 'control' AND period = 'pre'
                 THEN mean_micro END) AS BIGINT) AS did_micro
    FROM m
    """,
    tags=("A3", "F1", "F8"),
)
def eval_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (Card-Krueger form) over the
    experiment assignment — the causal readout a growth team runs when
    the treatment landed mid-stream and a plain post-only comparison
    would absorb the secular trend: DiD = (treat_post - treat_pre) -
    (ctrl_post - ctrl_pre) on mean event value. The pre/post boundary
    is the exact midpoint of the observed time span (integer compare
    2*us < min+max, no division), the arm is the shared md5-nibble
    rule (clickstream.VARIANT_SQL — the SAME assignment the experiment
    reads), and each cell mean is the exact micro-scaled value sum
    floor-divided by the cell count, so the estimator is pure integer
    algebra in both engines.

    Scale: one bounds aggregate (min/max, map-side combined), one scan
    into a 4-cell aggregate, then constant-size arithmetic. The bounds
    row broadcasts; nothing data-sized shuffles twice."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))).alias("mid2")
    )
    cells = (
        ev.crossJoin(F.broadcast(b))
        .select(
            variant_col().alias("variant"),
            F.expr(
                "CASE WHEN unix_micros(ts) * 2 < mid2 THEN 'pre' ELSE 'post' END"
            ).alias("period"),
            F.expr(_VMICRO_SPARK).alias("vmicro"),
        )
        .groupBy("variant", "period")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("vmicro").alias("sv"),
        )
        .select(
            "variant",
            "period",
            "n_events",
            F.expr("CAST(sv div n_events AS BIGINT)").alias("mean_micro"),
        )
    )

    def cell(v: str, p: str, c: str) -> str:
        return f"min(CASE WHEN variant = '{v}' AND period = '{p}' THEN {c} END)"

    return cells.agg(
        F.expr(f"CAST({cell('treatment', 'pre', 'n_events')} AS BIGINT)").alias(
            "n_treat_pre"
        ),
        F.expr(f"CAST({cell('treatment', 'post', 'n_events')} AS BIGINT)").alias(
            "n_treat_post"
        ),
        F.expr(f"CAST({cell('control', 'pre', 'n_events')} AS BIGINT)").alias(
            "n_ctrl_pre"
        ),
        F.expr(f"CAST({cell('control', 'post', 'n_events')} AS BIGINT)").alias(
            "n_ctrl_post"
        ),
        F.expr(f"CAST({cell('treatment', 'pre', 'mean_micro')} AS BIGINT)").alias(
            "treat_pre_micro"
        ),
        F.expr(f"CAST({cell('treatment', 'post', 'mean_micro')} AS BIGINT)").alias(
            "treat_post_micro"
        ),
        F.expr(f"CAST({cell('control', 'pre', 'mean_micro')} AS BIGINT)").alias(
            "ctrl_pre_micro"
        ),
        F.expr(f"CAST({cell('control', 'post', 'mean_micro')} AS BIGINT)").alias(
            "ctrl_post_micro"
        ),
        F.expr(
            f"CAST({cell('treatment', 'post', 'mean_micro')}"
            f" - {cell('treatment', 'pre', 'mean_micro')}"
            f" - {cell('control', 'post', 'mean_micro')}"
            f" + {cell('control', 'pre', 'mean_micro')} AS BIGINT)"
        ).alias("did_micro"),
    )


@query(
    "eval_cuped_adjustment",
    oracle=f"""
    WITH b AS (
      SELECT CAST(min(epoch_us(ts)) + max(epoch_us(ts)) AS BIGINT) AS mid2
      FROM {EVENTS} e),
    per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN epoch_us(ts) * 2 < (SELECT mid2 FROM b)
                      THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) * 2 < (SELECT mid2 FROM b)
                      THEN 0 ELSE 1 END) AS BIGINT) AS y
      FROM {EVENTS} e GROUP BY user_id),
    g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM per_user),
    th AS (
      SELECT n, sx,
             CASE WHEN n * sxx - sx * sx = 0 THEN 0
                  ELSE CAST((n * sxy - sx * sy) * 1000000
                            // (n * sxx - sx * sx) AS BIGINT)
             END AS theta_ppm
      FROM g),
    arms AS (
      SELECT {VARIANT_SQL} AS variant,
             CAST(count(*) AS HUGEINT) AS n_users,
             CAST(sum(x) AS HUGEINT) AS sxa, CAST(sum(y) AS HUGEINT) AS sya
      FROM per_user GROUP BY 1)
    SELECT variant,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(sya * 1000000 // n_users AS BIGINT) AS mean_y_ppm,
           CAST(sxa * 1000000 // n_users AS BIGINT) AS mean_x_ppm,
           theta_ppm,
           CAST(sya * 1000000 // n_users
                - CAST(theta_ppm AS HUGEINT)
                  * (sxa * 1000000 // n_users - sx * 1000000 // n)
                  // 1000000 AS BIGINT) AS adj_mean_y_ppm
    FROM arms, th
    ORDER BY variant
    """,
    tags=("A3", "F8", "J10"),
)
def eval_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) — the
    industry-standard experiment sharpener: regress the post-period
    per-user metric y on the pre-period covariate x (theta =
    cov(x,y)/var(x), pooled across arms as the method requires) and
    report each arm's adjusted mean y - theta*(x - x_bar). The
    pre/post boundary is the exact span midpoint; theta and the means
    are exact ppm integers, and the adjustment composes the three
    floor-quantized terms in a FIXED order (documented part of the
    twin contract: mean_y - theta*(mean_x - grand_x) div 1e6), so both
    engines produce bit-identical rows.

    Scale: one user-keyed aggregate (the only data-sized shuffle), a
    5-sum global moment aggregate, a 2-row arm aggregate, and a
    broadcast of the 1-row theta — the per-user table never shuffles
    twice; no window, no sort."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))).alias("mid2")
    )
    pu = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("CASE WHEN unix_micros(ts) * 2 < mid2 THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.expr("CASE WHEN unix_micros(ts) * 2 < mid2 THEN 0 ELSE 1 END")
            )
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    g = pu.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("x * y")).cast("decimal(38,0)").alias("sxy"),
    )
    th = g.select(
        "n",
        "sx",
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE CAST((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx) AS BIGINT) END"
        ).alias("theta_ppm"),
    )
    arms = pu.withColumn("variant", variant_col()).groupBy("variant").agg(
        F.count("*").cast("decimal(38,0)").alias("n_users"),
        F.sum("x").cast("decimal(38,0)").alias("sxa"),
        F.sum("y").cast("decimal(38,0)").alias("sya"),
    )
    return (
        arms.crossJoin(F.broadcast(th))
        .select(
            "variant",
            F.col("n_users").cast("long").alias("n_users"),
            F.expr("CAST(sya * 1000000 div n_users AS BIGINT)").alias(
                "mean_y_ppm"
            ),
            F.expr("CAST(sxa * 1000000 div n_users AS BIGINT)").alias(
                "mean_x_ppm"
            ),
            "theta_ppm",
            F.expr(
                "CAST(sya * 1000000 div n_users"
                " - CAST(theta_ppm AS DECIMAL(38,0))"
                "   * (sxa * 1000000 div n_users - sx * 1000000 div n)"
                "   div 1000000 AS BIGINT)"
            ).alias("adj_mean_y_ppm"),
        )
        .orderBy("variant")
    )


@query(
    "eval_qini_uplift",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, {VARIANT_SQL} AS variant,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS score,
             CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') > 0
                  THEN 1 ELSE 0 END AS conv
      FROM {EVENTS} e GROUP BY user_id),
    cells AS (
      SELECT score,
             CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN variant = 'treatment' THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_t,
             CAST(sum(CASE WHEN variant = 'control' THEN conv ELSE 0 END)
                  AS BIGINT) AS conv_c
      FROM per_user GROUP BY score),
    cum AS (
      SELECT score,
             sum(n_t) OVER w AS cn_t, sum(n_c) OVER w AS cn_c,
             sum(conv_t) OVER w AS cc_t, sum(conv_c) OVER w AS cc_c
      FROM cells
      WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING))
    SELECT CAST(score AS BIGINT) AS score,
           CAST(cn_t AS BIGINT) AS cum_n_treat,
           CAST(cn_c AS BIGINT) AS cum_n_ctrl,
           CAST(cc_t AS BIGINT) AS cum_conv_treat,
           CAST(cc_c AS BIGINT) AS cum_conv_ctrl,
           CASE WHEN cn_c = 0 THEN 0
                ELSE CAST((CAST(cc_t AS HUGEINT) * cn_c
                           - CAST(cc_c AS HUGEINT) * cn_t) * 1000000
                          // cn_c AS BIGINT)
           END AS qini_micro
    FROM cum ORDER BY score DESC
    """,
    tags=("A3", "W3", "F8"),
)
def eval_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007) — the targeting readout an
    uplift model is graded on: rank users by a targeting score (here
    their click count), and at each score threshold report the
    incremental conversions the treatment bought, qini(s) =
    conv_t(s) - conv_c(s) * n_t(s)/n_c(s), as an exact micro-scaled
    integer (cross-multiplied, one floor division by the control
    count). Arms come from the shared md5-nibble assignment so the
    curve grades the experiment that actually ran.

    Scale: one user-keyed aggregate (the only data-sized shuffle)
    collapses onto score cells bounded by the distinct click-count
    domain — the cumulative window runs over that bounded curve table,
    never over users."""
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("score"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1
        )
        .otherwise(0)
        .alias("conv"),
    )
    cells = (
        pu.withColumn("variant", variant_col())
        .groupBy("score")
        .agg(
            F.sum(F.expr("CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_t"),
            F.sum(F.expr("CASE WHEN variant = 'control' THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_c"),
            F.sum(
                F.expr("CASE WHEN variant = 'treatment' THEN conv ELSE 0 END")
            )
            .cast("long")
            .alias("conv_t"),
            F.sum(
                F.expr("CASE WHEN variant = 'control' THEN conv ELSE 0 END")
            )
            .cast("long")
            .alias("conv_c"),
        )
    )
    w = W.orderBy(F.col("score").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = cells.select(
        "score",
        F.sum("n_t").over(w).alias("cn_t"),
        F.sum("n_c").over(w).alias("cn_c"),
        F.sum("conv_t").over(w).alias("cc_t"),
        F.sum("conv_c").over(w).alias("cc_c"),
    )
    return cum.select(
        F.col("score").cast("long").alias("score"),
        F.col("cn_t").cast("long").alias("cum_n_treat"),
        F.col("cn_c").cast("long").alias("cum_n_ctrl"),
        F.col("cc_t").cast("long").alias("cum_conv_treat"),
        F.col("cc_c").cast("long").alias("cum_conv_ctrl"),
        F.expr(
            "CASE WHEN cn_c = 0 THEN 0"
            " ELSE CAST((CAST(cc_t AS DECIMAL(38,0)) * cn_c"
            " - CAST(cc_c AS DECIMAL(38,0)) * cn_t) * 1000000"
            " div cn_c AS BIGINT) END"
        ).alias("qini_micro"),
    ).orderBy(F.col("score").desc())


# Fleiss-kappa rater panel: three deterministic document-quality raters
# (length, token count, sentence-punctuation), each a pure column
# expression shared verbatim by the Spark plan and the DuckDB oracle.
_FLEISS_HI_DUCK = (
    "(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END"
    f" + CASE WHEN len({SQL_TOKENS}) >= 25 THEN 1 ELSE 0 END"
    " + CASE WHEN length(text) - length(replace(text, '.', '')) >= 2"
    " THEN 1 ELSE 0 END)"
)
_FLEISS_HI_SPARK = (
    "(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END"
    f" + CASE WHEN size({SPARK_SQL_TOKENS}) >= 25 THEN 1 ELSE 0 END"
    " + CASE WHEN length(text) - length(replace(text, '.', '')) >= 2"
    " THEN 1 ELSE 0 END)"
)


@query(
    "eval_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
      SELECT {_FLEISS_HI_DUCK} AS h FROM documents),
    g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(h * h + (3 - h) * (3 - h)) AS HUGEINT) AS ssq,
             CAST(sum(h) AS HUGEINT) AS chi
      FROM votes),
    t AS (
      SELECT n, ssq - 3 * n AS a, 6 * n AS d1,
             chi * chi + (3 * n - chi) * (3 * n - chi) AS b,
             9 * n * n AS t
      FROM g)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(a * 1000000 // d1 AS BIGINT) AS pbar_ppm,
           CAST(b * 1000000 // t AS BIGINT) AS pe_ppm,
           CASE WHEN t - b = 0 THEN 0
                ELSE CAST((a * t - b * d1) * 1000000 // (d1 * (t - b))
                          AS BIGINT)
           END AS kappa_ppm
    FROM t
    """,
    tags=("A3", "F2", "F7"),
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971) — chance-corrected agreement among MORE
    than two raters, the statistic annotation pipelines report when a
    labeling panel grades the corpus (Cohen's kappa, already in the
    lane, only handles two). The panel here is three deterministic
    quality raters the repo can re-run anywhere: chars >= 150,
    tokens >= 25, and >= 2 sentence periods, each voting hi/lo per
    document. With binary categories the per-item agreement is
    (h^2 + (3-h)^2 - 3)/6 for h hi-votes, so one 3-sum scan yields
    P_bar = A/(6n), P_e = (c_hi^2 + c_lo^2)/(9n^2), and kappa =
    (A*T - B*6n) / (6n*(T - B)) — all exact HUGEINT/decimal algebra,
    reported ppm-scaled with the all-agree degenerate case guarded.

    Scale: one scan, one constant-width aggregate (map-side combine),
    one row of integer arithmetic; products stay under 10^38 to one
    billion documents by the decimal(38,0) lift."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(F.expr(_FLEISS_HI_SPARK).alias("h")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("h * h + (3 - h) * (3 - h)"))
        .cast("decimal(38,0)")
        .alias("ssq"),
        F.sum("h").cast("decimal(38,0)").alias("chi"),
    )
    t = g.select(
        "n",
        F.expr("ssq - 3 * n").alias("a"),
        F.expr("6 * n").alias("d1"),
        F.expr("chi * chi + (3 * n - chi) * (3 * n - chi)").alias("b"),
        F.expr("9 * n * n").alias("t"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(a * 1000000 div d1 AS BIGINT)").alias("pbar_ppm"),
        F.expr("CAST(b * 1000000 div t AS BIGINT)").alias("pe_ppm"),
        F.expr(
            "CASE WHEN t - b = 0 THEN 0"
            " ELSE CAST((a * t - b * d1) * 1000000 div (d1 * (t - b))"
            " AS BIGINT) END"
        ).alias("kappa_ppm"),
    )


@query(
    "eval_kendall_tau",
    oracle=f"""
    WITH b AS (
      SELECT CAST(min(epoch_us(o_orderdate)) + max(epoch_us(o_orderdate))
                  AS BIGINT) AS mid2
      FROM orders),
    rev AS (
      SELECT c_nationkey AS nk,
             CASE WHEN epoch_us(o_orderdate) * 2 < (SELECT mid2 FROM b)
                  THEN 'h1' ELSE 'h2' END AS half,
             sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    r1 AS (
      SELECT nk, row_number() OVER (ORDER BY rev DESC, nk) AS r
      FROM rev WHERE half = 'h1'),
    r2 AS (
      SELECT nk, row_number() OVER (ORDER BY rev DESC, nk) AS r
      FROM rev WHERE half = 'h2'),
    ranks AS (
      SELECT r1.nk, r1.r AS ra, r2.r AS rb FROM r1 JOIN r2 USING (nk)),
    pairs AS (
      SELECT CAST(count(*) FILTER (WHERE (x.ra - y.ra) * (x.rb - y.rb) > 0)
                  AS BIGINT) AS c,
             CAST(count(*) FILTER (WHERE (x.ra - y.ra) * (x.rb - y.rb) < 0)
                  AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS np
      FROM ranks x JOIN ranks y ON x.nk < y.nk)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ranks) AS n_nations,
           np AS n_pairs, c AS concordant, d AS discordant,
           CAST((c - d) * 1000000 // np AS BIGINT) AS tau_ppm
    FROM pairs
    """,
    tags=("A3", "W1", "J7"),
)
def eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-a) between each nation's revenue
    RANK in the first and second half of the order history — the
    rank-stability statistic a marketplace runs to ask 'did the league
    table reshuffle?' (Spearman, already in the lane, correlates the
    rank VALUES; Kendall counts pairwise inversions and is the one
    auditors quote). Revenue per (nation, half) sums exactly through
    decimal(38,6); ranks are row_number over the bounded nation table
    with a nationkey tiebreak, so the permutation is deterministic;
    concordant/discordant come from the nation x nation self-join —
    bounded at 25^2 pairs REGARDLESS of corpus size (row_number makes
    ties impossible, so tau-a's denominator n(n-1)/2 is exact).

    Scale: the only data-sized work is the orders-customer join +
    (nation, half) aggregate; everything after runs on a <= 50-row
    table (the global rank window is a single-partition sort over 25
    rows — bounded by the nation domain, not the data)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    b = o.agg(
        (
            F.min(F.unix_micros("o_orderdate"))
            + F.max(F.unix_micros("o_orderdate"))
        ).alias("mid2")
    )
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(b))
        .select(
            F.col("c_nationkey").alias("nk"),
            F.expr(
                "CASE WHEN unix_micros(o_orderdate) * 2 < mid2"
                " THEN 'h1' ELSE 'h2' END"
            ).alias("half"),
            F.col("o_totalprice").cast("decimal(38,6)").alias("p"),
        )
        .groupBy("nk", "half")
        .agg(F.sum("p").alias("rev"))
        .localCheckpoint(eager=False)
    )
    wr = W.orderBy(F.col("rev").desc(), "nk")
    r1 = rev.where(F.col("half") == "h1").select(
        "nk", F.row_number().over(wr).alias("ra")
    )
    r2 = rev.where(F.col("half") == "h2").select(
        "nk", F.row_number().over(wr).alias("rb")
    )
    ranks = r1.join(r2, "nk").localCheckpoint(eager=False)
    x = ranks.select(
        F.col("nk").alias("xnk"), F.col("ra").alias("xra"), F.col("rb").alias("xrb")
    )
    y = ranks.select(
        F.col("nk").alias("ynk"), F.col("ra").alias("yra"), F.col("rb").alias("yrb")
    )
    pairs = x.join(F.broadcast(y), F.col("xnk") < F.col("ynk")).agg(
        F.count(
            F.when(F.expr("(xra - yra) * (xrb - yrb) > 0"), 1)
        )
        .cast("long")
        .alias("c"),
        F.count(
            F.when(F.expr("(xra - yra) * (xrb - yrb) < 0"), 1)
        )
        .cast("long")
        .alias("d"),
        F.count("*").cast("long").alias("np"),
    )
    n_n = ranks.agg(F.count("*").cast("long").alias("n_nations"))
    return pairs.crossJoin(F.broadcast(n_n)).select(
        "n_nations",
        F.col("np").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.expr("CAST((c - d) * 1000000 div np AS BIGINT)").alias("tau_ppm"),
    )


# Krippendorff rater panel: the length and punctuation raters always
# vote; the token rater ABSTAINS inside its uncertainty band — the
# missing-data case alpha exists for (and Fleiss cannot handle).
_KRIPP_VOTES_DUCK = f"""
      SELECT CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END
             + CASE WHEN length(text) - length(replace(text, '.', '')) >= 2
                    THEN 1 ELSE 0 END
             + CASE WHEN len({SQL_TOKENS}) >= 30 THEN 1 ELSE 0 END AS h,
             CASE WHEN len({SQL_TOKENS}) >= 30
                    OR len({SQL_TOKENS}) < 20 THEN 3 ELSE 2 END AS m
      FROM documents"""
_KRIPP_VOTES_SPARK = (
    "CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END"
    " + CASE WHEN length(text) - length(replace(text, '.', '')) >= 2"
    " THEN 1 ELSE 0 END"
    f" + CASE WHEN size({SPARK_SQL_TOKENS}) >= 30 THEN 1 ELSE 0 END AS h",
    f"CASE WHEN size({SPARK_SQL_TOKENS}) >= 30"
    f" OR size({SPARK_SQL_TOKENS}) < 20 THEN 3 ELSE 2 END AS m",
)


@query(
    "eval_krippendorff_alpha",
    oracle=f"""
    WITH votes AS ({_KRIPP_VOTES_DUCK}),
    g AS (
      SELECT CAST(count(*) AS HUGEINT) AS n_items,
             CAST(sum(m) AS HUGEINT) AS n_tot,
             CAST(sum(h) AS HUGEINT) AS n_hi,
             CAST(sum(h * (m - h) * (2 // (m - 1))) AS HUGEINT) AS o
      FROM votes)
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(n_tot AS BIGINT) AS n_pairable,
           CAST(n_hi AS BIGINT) AS n_hi,
           CAST(n_tot - n_hi AS BIGINT) AS n_lo,
           CAST(o * 1000000 // n_tot AS BIGINT) AS do_ppm,
           CAST(2 * n_hi * (n_tot - n_hi) * 1000000
                // (n_tot * (n_tot - 1)) AS BIGINT) AS de_ppm,
           CASE WHEN n_hi * (n_tot - n_hi) = 0 THEN 0
                ELSE CAST(1000000 - o * (n_tot - 1) * 1000000
                          // (2 * n_hi * (n_tot - n_hi)) AS BIGINT)
           END AS alpha_ppm
    FROM g
    """,
    tags=("A3", "F2", "F5"),
)
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal data, binary categories) — the
    agreement coefficient annotation teams need when raters can
    ABSTAIN: the token rater here votes only outside its [20, 30)
    uncertainty band, so items carry 2 or 3 ratings and Fleiss' kappa
    (fixed panel) no longer applies. With binary categories the
    coincidence algebra collapses exactly: o(hi,lo)+o(lo,hi) =
    sum_i h_i(m_i-h_i) * 2/(m_i-1) — an INTEGER because m_i-1 is 1 or
    2 — and alpha = 1 - O(n_tot-1)/(2 n_hi n_lo), one cross-multiplied
    floor division (do_ppm/de_ppm are reported for the audit but alpha
    is NOT computed from the floored pair — the docstringed
    quantization-order contract). Degenerate all-one-category corpora
    report 0 (alpha undefined, guarded identically cross-engine).

    Scale: one scan, one 4-sum global aggregate (map-side combine),
    one row of integer algebra; the decimal/HUGEINT lift keeps
    O*(n_tot-1)*1e6 inside 10^38 past a billion documents."""
    d = load_table(spark, sf_dir, "documents")
    g = d.selectExpr(*_KRIPP_VOTES_SPARK).agg(
        F.count("*").cast("decimal(38,0)").alias("n_items"),
        F.sum("m").cast("decimal(38,0)").alias("n_tot"),
        F.sum("h").cast("decimal(38,0)").alias("n_hi"),
        F.sum(F.expr("h * (m - h) * (2 div (m - 1))"))
        .cast("decimal(38,0)")
        .alias("o"),
    )
    return g.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_tot").cast("long").alias("n_pairable"),
        F.col("n_hi").cast("long").alias("n_hi"),
        F.expr("CAST(n_tot - n_hi AS BIGINT)").alias("n_lo"),
        F.expr("CAST(o * 1000000 div n_tot AS BIGINT)").alias("do_ppm"),
        F.expr(
            "CAST(2 * n_hi * (n_tot - n_hi) * 1000000"
            " div (n_tot * (n_tot - 1)) AS BIGINT)"
        ).alias("de_ppm"),
        F.expr(
            "CASE WHEN n_hi * (n_tot - n_hi) = 0 THEN 0"
            " ELSE CAST(1000000 - o * (n_tot - 1) * 1000000"
            " div (2 * n_hi * (n_tot - n_hi)) AS BIGINT) END"
        ).alias("alpha_ppm"),
    )


# DeLong z^2 at alpha = 0.05 two-sided: 1.959964^2, quantized ppb (the
# twin-oracle-constant discipline).
DELONG_Z2_PPB = 3_841_458_821

# The staged-floor variance chain, shared verbatim by both engines.
# x10 = P*sum(np*t^2) - A^2 with t = 2*cumneg + nn (per-positive placement
# x 2N) is exact; the two-stage division (first by 4(P-1)N, then the
# e12-scaled divide by N*P^2) keeps every intermediate inside 10^38 out to
# ~1e9 positives. The pre-floor loses < 1 unit at the x10/(4(P-1)N) scale
# — negligible at production counts, and DETERMINISTIC: both engines run
# this identical expression, so the defined statistic is the chain itself.
_DELONG_VAR10 = (
    "CAST(x10 div (4 * (p - 1) * n) AS DECIMAL(38,0))"
    " * 1000000000000 div (n * p * p)"
)
_DELONG_VAR01 = (
    "CAST(x01 div (4 * (n - 1) * p) AS DECIMAL(38,0))"
    " * 1000000000000 div (p * n * n)"
)


@query(
    "eval_auc_delong",
    oracle=f"""
    WITH scored AS (
      SELECT {_AUC_SCORE_SQL} AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents),
    hist AS (
      SELECT score, CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(1 - pos) AS BIGINT) AS nn
      FROM scored GROUP BY score),
    cum AS (
      SELECT np, nn,
             CAST(coalesce(sum(nn) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumneg,
             CAST(coalesce(sum(np) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumpos
      FROM hist),
    g AS (
      SELECT CAST(sum(np) AS HUGEINT) AS p, CAST(sum(nn) AS HUGEINT) AS n,
             sum(CAST(np AS HUGEINT) * (2 * cumneg + nn)) AS a,
             sum(CAST(np AS HUGEINT) * CAST(2 * cumneg + nn AS HUGEINT)
                 * (2 * cumneg + nn)) AS t2s,
             sum(CAST(nn AS HUGEINT)
                 * CAST(2 * ((SELECT sum(np) FROM hist) - cumpos - np) + np
                        AS HUGEINT)) AS b,
             sum(CAST(nn AS HUGEINT)
                 * CAST(2 * ((SELECT sum(np) FROM hist) - cumpos - np) + np
                        AS HUGEINT)
                 * (2 * ((SELECT sum(np) FROM hist) - cumpos - np) + np))
               AS u2s
      FROM cum),
    v AS (
      SELECT p, n,
             CAST(a * 1000000 // (2 * n * p) AS BIGINT) AS auc_ppm,
             p * t2s - a * a AS x10,
             n * u2s - b * b AS x01
      FROM g WHERE p > 1 AND n > 1),
    w AS (
      SELECT p, n, auc_ppm,
             CAST(CAST(x10 // (4 * (p - 1) * n) AS HUGEINT)
                  * 1000000000000 // (n * p * p) AS BIGINT)
               AS var10_e12,
             CAST(CAST(x01 // (4 * (n - 1) * p) AS HUGEINT)
                  * 1000000000000 // (p * n * n) AS BIGINT)
               AS var01_e12
      FROM v)
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           auc_ppm, var10_e12, var01_e12,
           var10_e12 + var01_e12 AS var_e12,
           CAST(auc_ppm - 500000 AS HUGEINT)
             * (auc_ppm - 500000) * 1000000000
             >= {DELONG_Z2_PPB} * CAST(var10_e12 + var01_e12 AS HUGEINT)
             AS significant
    FROM w
    """,
    tags=("A3", "W3", "F4"),
)
def eval_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong variance for the ROC-AUC (DeLong et al. 1988) — the
    number that turns eval_auc_mannwhitney's point estimate into an
    inference: var(AUC) = var(V10)/P + var(V01)/N over the per-positive
    and per-negative placement values, computed ENTIRELY on the
    <= 1001-bucket score histogram (placements are constant within a
    score bucket, so the second moments are bucket sums — never a scan
    of row pairs). Placements clear their halves by the x2N / x2P
    lift (t = 2*cumneg + nn, u = 2*pos_above + np, the midrank tie
    credit exact), the variance numerators P*sum(np t^2) - A^2 /
    N*sum(nn u^2) - B^2 are exact integers, and the e12-scaled
    variance uses the documented staged-floor chain (see module
    constant) so every intermediate stays inside decimal(38)/HUGEINT
    out to a billion documents. The significance verdict vs AUC = 0.5
    is the squared-z cleared inequality against the ppb-quantized
    1.96^2 — no square root anywhere. Degenerate corpora (P <= 1 or
    N <= 1) emit zero rows (the variance is undefined).

    Scale: identical shape to the Mann-Whitney AUC — one scan, one
    score-histogram shuffle (<= 1001 groups), windows and moments on
    the histogram only."""
    d = load_table(spark, sf_dir, "documents")
    hist = (
        d.select("lang", TOKENS().alias("toks"))
        .select(
            _en_score_col().alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.sum("pos").cast("long").alias("np"),
            F.sum(F.expr("1 - pos")).cast("long").alias("nn"),
        )
    )
    wnd = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    cum = hist.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(wnd), F.lit(0)).cast("long").alias("cumneg"),
        F.coalesce(F.sum("np").over(wnd), F.lit(0)).cast("long").alias("cumpos"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    g = cum.withColumn("ptot", F.sum("np").over(wall)).agg(
        F.sum("np").cast("decimal(38,0)").alias("p"),
        F.sum("nn").cast("decimal(38,0)").alias("n"),
        F.sum(F.expr("CAST(np AS DECIMAL(38,0)) * (2 * cumneg + nn)")).alias(
            "a"
        ),
        F.sum(
            F.expr(
                "CAST(np AS DECIMAL(38,0))"
                " * CAST(2 * cumneg + nn AS DECIMAL(38,0))"
                " * (2 * cumneg + nn)"
            )
        ).alias("t2s"),
        F.sum(
            F.expr(
                "CAST(nn AS DECIMAL(38,0))"
                " * CAST(2 * (ptot - cumpos - np) + np AS DECIMAL(38,0))"
            )
        ).alias("b"),
        F.sum(
            F.expr(
                "CAST(nn AS DECIMAL(38,0))"
                " * CAST(2 * (ptot - cumpos - np) + np AS DECIMAL(38,0))"
                " * (2 * (ptot - cumpos - np) + np)"
            )
        ).alias("u2s"),
    )
    v = g.filter(F.expr("p > 1 AND n > 1")).select(
        "p",
        "n",
        F.expr("CAST(a * 1000000 div (2 * n * p) AS BIGINT)").alias("auc_ppm"),
        F.expr("p * t2s - a * a").alias("x10"),
        F.expr("n * u2s - b * b").alias("x01"),
    )
    w = v.select(
        "p",
        "n",
        "auc_ppm",
        F.expr(f"CAST({_DELONG_VAR10} AS BIGINT)").alias("var10_e12"),
        F.expr(f"CAST({_DELONG_VAR01} AS BIGINT)").alias("var01_e12"),
    )
    return w.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        "auc_ppm",
        "var10_e12",
        "var01_e12",
        (F.col("var10_e12") + F.col("var01_e12")).alias("var_e12"),
        F.expr(
            "CAST(auc_ppm - 500000 AS DECIMAL(38,0))"
            " * (auc_ppm - 500000) * 1000000000"
            f" >= {DELONG_Z2_PPB}"
            " * CAST(var10_e12 + var01_e12 AS DECIMAL(38,0))"
        ).alias("significant"),
    )


_LL_LN = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
_LL_Q1000 = 6_907_755  # floor(ln(1000)*1e6 + 0.5), the per-mille denominator


@query(
    "eval_log_loss",
    oracle=f"""
    WITH scored AS (
      SELECT least(greatest({_AUC_SCORE_SQL}, 1), 999) AS pc,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    t AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS k,
             CAST(sum(y * ({_LL_Q1000} - {_LL_LN.format(x="pc")})
                      + (1 - y) * ({_LL_Q1000}
                                   - {_LL_LN.format(x="1000 - pc")}))
                  AS HUGEINT) AS s
      FROM scored),
    b AS (
      SELECT n, k, s,
             least(greatest(CAST(k * 1000 // n AS BIGINT), 1), 999) AS pb
      FROM t),
    f AS (
      SELECT n, k, s,
             k * ({_LL_Q1000} - {_LL_LN.format(x="pb")})
             + (n - k) * ({_LL_Q1000} - {_LL_LN.format(x="1000 - pb")})
               AS sb
      FROM b)
    SELECT CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_pos,
           CAST(s // n AS BIGINT) AS logloss_micronats,
           CAST(sb // n AS BIGINT) AS baseline_micronats,
           CASE WHEN sb = 0 THEN 0
                ELSE CAST((sb - s) * 1000000 // sb AS BIGINT)
           END AS skill_ppm
    FROM f
    """,
    tags=("A3", "F4", "U2"),
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log loss (cross-entropy) of the English-marker score used as a
    probability — the OTHER proper scoring rule next to eval_brier_score,
    and the one that punishes confident wrongness hardest (a 0.999 on a
    negative costs ~6.9 nats vs Brier's capped 1). The per-mille score
    clamps into [1, 999] so both log terms stay finite (the standard
    epsilon-clip, deterministic in both engines); each document
    contributes the exact integer micro-nat term y*(ln1000 - ln(pc)) +
    (1-y)*(ln1000 - ln(1000-pc)) under the repo ln-quantization
    discipline, so the mean is one floor division. The climatology
    baseline (always predict the clamped base rate) and the skill score
    (sb - s)/sb ride along as exact cross-multiplied integers — the same
    skill framing as the Brier twin, so the two rules can be compared
    directly.

    Scale: one scan, one 3-sum global aggregate (map-side combine),
    constant-row integer algebra after."""
    d = load_table(spark, sf_dir, "documents")
    ln = lambda x: _LL_LN.format(x=x)  # ONE quantization definition
    t = (
        d.select("lang", TOKENS().alias("toks"))
        .select(
            _en_score_col().alias("score"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .select(
            F.expr("least(greatest(score, 1), 999)").alias("pc"), "y"
        )
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("y").cast("decimal(38,0)").alias("k"),
            F.sum(
                F.expr(
                    f"y * ({_LL_Q1000} - {ln('pc')})"
                    f" + (1 - y) * ({_LL_Q1000} - {ln('1000 - pc')})"
                )
            )
            .cast("decimal(38,0)")
            .alias("s"),
        )
    )
    b = t.select(
        "n",
        "k",
        "s",
        F.expr(
            "least(greatest(CAST(k * 1000 div n AS BIGINT), 1), 999)"
        ).alias("pb"),
    )
    f = b.select(
        "n",
        "k",
        "s",
        F.expr(
            f"k * ({_LL_Q1000} - {ln('pb')})"
            f" + (n - k) * ({_LL_Q1000} - {ln('1000 - pb')})"
        ).alias("sb"),
    )
    return f.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("n_pos"),
        F.expr("CAST(s div n AS BIGINT)").alias("logloss_micronats"),
        F.expr("CAST(sb div n AS BIGINT)").alias("baseline_micronats"),
        F.expr(
            "CASE WHEN sb = 0 THEN 0"
            " ELSE CAST((sb - s) * 1000000 div sb AS BIGINT) END"
        ).alias("skill_ppm"),
    )
