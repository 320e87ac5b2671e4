"""Registry part 2: metric block (A6-A10), drift statistics expressed in both
engines, and the training-data-pipeline operators (dedup / similarity / text)
over documents + embeddings. Importing this module populates REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from al_drift_detection_spark import metrics as M
from al_drift_detection_spark.functions import dedup as D
from al_drift_detection_spark.functions import text as T
from al_drift_detection_spark.operators.registry import _t, register
from al_drift_detection_spark.persist import persist_scope, scoped

# deterministic pseudo-prediction used by all metric queries: pred = vec_id % 10
_PRED_SQL = "CAST(vec_id % 10 AS BIGINT)"


def _emb_with_pred(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "embeddings").select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 10).cast("long").alias("pred"),
    )


# =====================================================================
# Metric block (SURVEY.md §2.4 A6-A10 — ported cnn.py formulas)
# =====================================================================
@register(
    "q_confusion_matrix",
    f"""
    SELECT CAST(label AS BIGINT) AS label, {_PRED_SQL} AS pred, count(*) AS n
    FROM embeddings GROUP BY 1, 2
    """,
    "A6 confusion matrix counts (ref sklearn confusion_matrix, cnn.py:634)",
)
def q_confusion_matrix(spark: SparkSession, sf: str) -> DataFrame:
    return M.confusion_counts(_emb_with_pred(spark, sf), "label", "pred")


@register(
    "q_accuracy",
    f"SELECT round(avg(CASE WHEN label = {_PRED_SQL} THEN 1.0 ELSE 0.0 END), 6) AS accuracy FROM embeddings",
    "A10 accuracy (ref accuracy_score, cnn.py:620)",
)
def q_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    return M.accuracy(_emb_with_pred(spark, sf), "label", "pred")


_MARGIN_CTE = f"""
    WITH cm AS (
      SELECT CAST(label AS BIGINT) AS t, {_PRED_SQL} AS p, count(*)::DOUBLE AS n
      FROM embeddings GROUP BY 1, 2
    ),
    classes AS (SELECT DISTINCT t AS c FROM cm UNION SELECT DISTINCT p FROM cm),
    m AS (
      SELECT c,
             coalesce((SELECT sum(n) FROM cm WHERE t = c AND p = c), 0) AS tp,
             coalesce((SELECT sum(n) FROM cm WHERE t = c), 0) AS rowsum,
             coalesce((SELECT sum(n) FROM cm WHERE p = c), 0) AS colsum
      FROM classes
    )
"""


@register(
    "q_prf_per_class",
    _MARGIN_CTE
    + """
    SELECT c AS label,
           round(CASE WHEN colsum > 0 THEN tp / colsum ELSE 0 END, 6) AS prec,
           round(CASE WHEN rowsum > 0 THEN tp / rowsum ELSE 0 END, 6) AS rec,
           round(CASE WHEN tp > 0
                 THEN 2 * (tp / colsum) * (tp / rowsum) / ((tp / colsum) + (tp / rowsum))
                 ELSE 0 END, 6) AS f1,
           CAST(rowsum AS BIGINT) AS support
    FROM m
    """,
    "A9 per-class precision/recall/F1/support from confusion counts "
    "(ref precision_recall_fscore_support, cnn.py:238-242)",
)
def q_prf_per_class(spark: SparkSession, sf: str) -> DataFrame:
    cm = M.confusion_counts(_emb_with_pred(spark, sf), "label", "pred")
    return M.prf_from_confusion(cm)


@register(
    "q_per_class_accuracy",
    _MARGIN_CTE
    + """
    , tot AS (SELECT sum(n) AS total FROM cm)
    SELECT c AS label,
           round((tp + (total - rowsum - colsum + tp)) / total, 6) AS class_accuracy
    FROM m, tot
    """,
    "A7 per-class accuracy (TP+TN)/total (ref cnn.py:86-109)",
)
def q_per_class_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    cm = M.confusion_counts(_emb_with_pred(spark, sf), "label", "pred")
    return M.per_class_accuracy(cm)


@register(
    "q_error_sdi",
    _MARGIN_CTE
    + """
    , tot AS (SELECT sum(n) AS total FROM cm)
    SELECT c AS label,
           CAST(least(rowsum - tp, colsum - tp) AS BIGINT) AS s,
           CAST(greatest((rowsum - tp) - (colsum - tp), 0) AS BIGINT) AS d,
           CAST(greatest((colsum - tp) - (rowsum - tp), 0) AS BIGINT) AS i,
           round((least(rowsum - tp, colsum - tp)
                  + greatest((rowsum - tp) - (colsum - tp), 0)
                  + greatest((colsum - tp) - (rowsum - tp), 0)) / total, 6) AS err_contrib
    FROM m, tot
    """,
    "A8 substitution/deletion/insertion error decomposition "
    "(exact port of ref cnn.py:112-146)",
)
def q_error_sdi(spark: SparkSession, sf: str) -> DataFrame:
    cm = M.confusion_counts(_emb_with_pred(spark, sf), "label", "pred")
    return M.sdi_error(cm)


# =====================================================================
# Drift statistics cross-checked in SQL (kernels also unit-tested vs numpy)
# =====================================================================
@register(
    "q_ks_statistic",
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS r,
             CASE WHEN event_id % 2 = 1 THEN 1.0 ELSE 0.0 END AS c
      FROM events
    ),
    tot AS (SELECT sum(r) AS nr, sum(c) AS nc FROM s),
    e AS (
      SELECT sum(r) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
             sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM s
    )
    SELECT round(max(abs(cr / nr - cc / nc)), 6) AS ks_stat FROM e, tot
    """,
    "KS two-sample statistic (north_star kernel) expressed relationally: "
    "merged-ECDF sup-difference; validates the numpy kernel cross-engine. "
    "Cumulative counts use the two-pass bucketed form (value-range buckets + "
    "broadcast offsets, operators/windows.py global_cumulative) — no "
    "single-partition global sort",
)
def q_ks_statistic(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.windows import global_cumulative

    s = _t(spark, sf, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1.0).otherwise(0.0).alias("r"),
        F.when(F.col("event_id") % 2 == 1, 1.0).otherwise(0.0).alias("c"),
    )
    tot = s.agg(F.sum("r").alias("nr"), F.sum("c").alias("nc"))
    e = global_cumulative(
        s,
        bucket=F.floor(F.col("v") / 10),
        order_cols=["v"],
        sums={"cr": "r", "cc": "c"},
    ).select("cr", "cc")
    return e.crossJoin(F.broadcast(tot)).agg(
        F.round(F.max(F.abs(F.col("cr") / F.col("nr") - F.col("cc") / F.col("nc"))), 6).alias(
            "ks_stat"
        )
    )


@register(
    "q_psi_fixed_bins",
    """
    WITH b AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
             least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bin
      FROM events
    ),
    c AS (SELECT side, bin, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
    t AS (SELECT side, sum(n) AS tot FROM c GROUP BY 1),
    p AS (
      SELECT bin,
             greatest(coalesce(max(CASE WHEN c.side = 'ref' THEN n / tot END), 0), 0.0001) AS pr,
             greatest(coalesce(max(CASE WHEN c.side = 'cur' THEN n / tot END), 0), 0.0001) AS pc
      FROM c JOIN t USING (side) GROUP BY bin
    )
    SELECT round(sum((pc - pr) * ln(pc / pr)), 6) AS psi FROM p
    """,
    "PSI with fixed bins (north_star kernel) expressed relationally — "
    "eps-clipped proportions, ref=even/cur=odd event ids",
)
def q_psi_fixed_bins(spark: SparkSession, sf: str) -> DataFrame:
    b = _t(spark, sf, "events").select(
        F.when(F.col("event_id") % 2 == 0, "ref").otherwise("cur").alias("side"),
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("long"), F.lit(0)), F.lit(9)
        ).alias("bin"),
    )
    c = b.groupBy("side", "bin").agg(F.count(F.lit(1)).cast("double").alias("n"))
    t = c.groupBy("side").agg(F.sum("n").alias("tot"))
    p = (
        c.join(t, "side")
        .groupBy("bin")
        .agg(
            F.greatest(
                F.coalesce(F.max(F.when(F.col("side") == "ref", F.col("n") / F.col("tot"))), F.lit(0.0)),
                F.lit(0.0001),
            ).alias("pr"),
            F.greatest(
                F.coalesce(F.max(F.when(F.col("side") == "cur", F.col("n") / F.col("tot"))), F.lit(0.0)),
                F.lit(0.0001),
            ).alias("pc"),
        )
    )
    return p.agg(
        F.round(
            F.sum((F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr"))), 6
        ).alias("psi")
    )


@register(
    "q_ks_pvalue",
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS r,
             CASE WHEN event_id % 2 = 1 THEN 1.0 ELSE 0.0 END AS c
      FROM events
    ),
    tot AS (SELECT sum(r) AS nr, sum(c) AS nc FROM s),
    e AS (
      SELECT sum(r) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
             sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      FROM s
    ),
    d AS (SELECT max(abs(cr / nr - cc / nc)) AS ks FROM e, tot),
    lam AS (
      SELECT ks,
             (sqrt(nr * nc / (nr + nc)) + 0.12 + 0.11 / sqrt(nr * nc / (nr + nc))) * ks AS l
      FROM d, tot
    )
    SELECT round(ks, 6) AS ks_stat,
           round(least(greatest(
             2 * sum(CASE WHEN k % 2 = 1 THEN 1 ELSE -1 END * exp(-2 * k * k * l * l)),
             0), 1), 6) AS p_value
    FROM lam, range(1, 101) AS t(k)
    GROUP BY ks, l
    """,
    "full KS kernel cross-engine: statistic (merged-ECDF sup) + ASYMPTOTIC "
    "p-value (Kolmogorov survival series, NR small-sample correction — the "
    "exact formula kernels.kolmogorov_sf implements) re-derived relationally "
    "in both engines; north_star requires drift p-value outputs verified",
)
def q_ks_pvalue(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.windows import global_cumulative

    s = _t(spark, sf, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1.0).otherwise(0.0).alias("r"),
        F.when(F.col("event_id") % 2 == 1, 1.0).otherwise(0.0).alias("c"),
    )
    tot = s.agg(F.sum("r").alias("nr"), F.sum("c").alias("nc"))
    e = global_cumulative(
        s, bucket=F.floor(F.col("v") / 10), order_cols=["v"], sums={"cr": "r", "cc": "c"}
    ).select("cr", "cc")
    d = (
        e.crossJoin(F.broadcast(tot))
        .agg(
            F.max(F.abs(F.col("cr") / F.col("nr") - F.col("cc") / F.col("nc"))).alias("ks"),
            F.first("nr").alias("nr"),
            F.first("nc").alias("nc"),
        )
    )
    ne = F.sqrt(F.col("nr") * F.col("nc") / (F.col("nr") + F.col("nc")))
    lam = d.select("ks", ((ne + 0.12 + 0.11 / ne) * F.col("ks")).alias("l"))
    series = lam.select(
        "ks", "l", F.explode(F.sequence(F.lit(1), F.lit(100))).alias("k")
    )
    term = (
        F.when(F.col("k") % 2 == 1, 1).otherwise(-1)
        * F.exp(-2 * F.col("k") * F.col("k") * F.col("l") * F.col("l"))
    )
    return series.groupBy("ks", "l").agg(
        F.round(F.col("ks"), 6).alias("ks_stat"),
        F.round(F.least(F.greatest(2 * F.sum(term), F.lit(0.0)), F.lit(1.0)), 6).alias(
            "p_value"
        ),
    ).select("ks_stat", "p_value")


@register(
    "q_mmd_rbf",
    """
    WITH r AS (SELECT event_id AS i, value AS x FROM events WHERE event_id < 400 AND event_id % 2 = 0),
    c AS (SELECT event_id AS i, value AS x FROM events WHERE event_id < 400 AND event_id % 2 = 1),
    kxx AS (
      SELECT sum(exp(-0.001 * (a.x - b.x) * (a.x - b.x))) / (count(*)) AS term
      FROM r a JOIN r b ON a.i <> b.i
    ),
    kyy AS (
      SELECT sum(exp(-0.001 * (a.x - b.x) * (a.x - b.x))) / (count(*)) AS term
      FROM c a JOIN c b ON a.i <> b.i
    ),
    kxy AS (
      SELECT avg(exp(-0.001 * (a.x - b.x) * (a.x - b.x))) AS term
      FROM r a, c b
    )
    SELECT round(kxx.term + kyy.term - 2 * kxy.term, 6) AS mmd2
    FROM kxx, kyy, kxy
    """,
    "unbiased MMD²-RBF cross-engine (the third north_star kernel): exact "
    "pairwise Gram sums via self-joins on a BOUNDED sample (200 ref / 200 "
    "cur rows, fixed gamma — the median heuristic is data-dependent and "
    "belongs to the vectorized kernel), diagonal excluded per the unbiased "
    "estimator; oracle twin of kernels.mmd_rbf (pytest-verified vs numpy)",
)
def q_mmd_rbf(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 400)
    r = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("i"), F.col("value").alias("x")
    )
    c = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("i"), F.col("value").alias("x")
    )
    gamma = 0.001

    def gram_offdiag(df):
        a, b = df.alias("a"), df.alias("b")
        k = F.exp(-gamma * (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")))
        return (
            a.join(b, F.col("a.i") != F.col("b.i"))
            .agg((F.sum(k) / F.count(F.lit(1))).alias("term"))
        )

    kxy = (
        r.alias("a").crossJoin(c.alias("b"))
        .agg(
            F.avg(
                F.exp(-gamma * (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")))
            ).alias("term")
        )
    )
    kxx, kyy = gram_offdiag(r), gram_offdiag(c)
    return (
        kxx.crossJoin(kyy.withColumnRenamed("term", "term_y"))
        .crossJoin(kxy.withColumnRenamed("term", "term_xy"))
        .select(
            F.round(
                F.col("term") + F.col("term_y") - 2 * F.col("term_xy"), 6
            ).alias("mmd2")
        )
    )


@register(
    "q_chi2_drift",
    """
    WITH b AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
             least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bin
      FROM events
    ),
    c AS (SELECT side, bin, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
    rt AS (SELECT side, sum(n) AS r FROM c GROUP BY 1),
    ct AS (SELECT bin, sum(n) AS col FROM c GROUP BY 1),
    g AS (SELECT sum(n) AS tot FROM c),
    grid AS (SELECT side, r, bin, col FROM rt CROSS JOIN ct)
    SELECT round(sum(pow(coalesce(n, 0) - r * col / tot, 2) / (r * col / tot)), 6)
             AS chi2_stat,
           CAST((SELECT count(*) - 1 FROM ct) AS BIGINT) AS dof
    FROM grid LEFT JOIN c USING (side, bin), g
    """,
    "SURVEY.md §2.10 drift-kernel family: chi-square homogeneity drift on a CATEGORICAL column (the fmt/lang "
    "whitelist-shift alarm KS cannot express) expressed relationally: one "
    "groupBy(side,bin) over the table, then margins + the FULL side×bin grid "
    "(zero observed cells still contribute expected mass — LEFT JOIN, not "
    "inner). Oracle twin of kernels.chi2_2samp (pytest-verified vs a direct "
    "contingency computation; p-value lives in the numpy kernel — the "
    "incomplete-gamma SF is not relational)",
)
def q_chi2_drift(spark: SparkSession, sf: str) -> DataFrame:
    b = _t(spark, sf, "events").select(
        F.when(F.col("event_id") % 2 == 0, "ref").otherwise("cur").alias("side"),
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("long"), F.lit(0)), F.lit(9)
        ).alias("bin"),
    )
    c = b.groupBy("side", "bin").agg(F.count(F.lit(1)).cast("double").alias("n"))
    rt = c.groupBy("side").agg(F.sum("n").alias("r"))
    ct = c.groupBy("bin").agg(F.sum("n").alias("col"))
    g = c.agg(F.sum("n").alias("tot"))
    dof = ct.agg((F.count(F.lit(1)) - 1).cast("long").alias("dof"))
    grid = rt.crossJoin(F.broadcast(ct))  # 2 × ≤10 rows — tiny by construction
    e = F.col("r") * F.col("col") / F.col("tot")
    return (
        grid.join(c, ["side", "bin"], "left")
        .crossJoin(F.broadcast(g))
        .agg(
            F.round(
                F.sum(F.pow(F.coalesce(F.col("n"), F.lit(0.0)) - e, F.lit(2.0)) / e), 6
            ).alias("chi2_stat")
        )
        .crossJoin(F.broadcast(dof))
    )


@register(
    "q_js_fixed_bins",
    """
    WITH b AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
             least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bin
      FROM events
    ),
    c AS (SELECT side, bin, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
    t AS (SELECT side, sum(n) AS tot FROM c GROUP BY 1),
    p AS (
      SELECT bin,
             coalesce(max(CASE WHEN c.side = 'ref' THEN n / tot END), 0) AS pr,
             coalesce(max(CASE WHEN c.side = 'cur' THEN n / tot END), 0) AS pc
      FROM c JOIN t USING (side) GROUP BY bin
    )
    SELECT round(sum(
             0.5 * CASE WHEN pr > 0 THEN pr * ln(pr / ((pr + pc) / 2)) ELSE 0 END
           + 0.5 * CASE WHEN pc > 0 THEN pc * ln(pc / ((pr + pc) / 2)) ELSE 0 END
           ), 6) AS jsd
    FROM p
    """,
    "SURVEY.md §2.10 drift-kernel family: Jensen-Shannon divergence with fixed bins — the bounded (≤ ln 2), "
    "symmetric drift score for bins where PSI's eps-clipped log-ratio "
    "saturates; zero bins contribute exactly 0 (no eps), m=(p+q)/2 > 0 "
    "wherever either side has mass. Same one-groupBy scale shape as "
    "q_psi_fixed_bins. Kernel twin kernels.js_divergence (quantile-bin "
    "variant) pytest-verified",
)
def q_js_fixed_bins(spark: SparkSession, sf: str) -> DataFrame:
    b = _t(spark, sf, "events").select(
        F.when(F.col("event_id") % 2 == 0, "ref").otherwise("cur").alias("side"),
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("long"), F.lit(0)), F.lit(9)
        ).alias("bin"),
    )
    c = b.groupBy("side", "bin").agg(F.count(F.lit(1)).cast("double").alias("n"))
    t = c.groupBy("side").agg(F.sum("n").alias("tot"))
    p = (
        c.join(t, "side")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("side") == "ref", F.col("n") / F.col("tot"))), F.lit(0.0)
            ).alias("pr"),
            F.coalesce(
                F.max(F.when(F.col("side") == "cur", F.col("n") / F.col("tot"))), F.lit(0.0)
            ).alias("pc"),
        )
    )
    m = (F.col("pr") + F.col("pc")) / 2
    term = (
        F.lit(0.5)
        * F.when(F.col("pr") > 0, F.col("pr") * F.log(F.col("pr") / m)).otherwise(0.0)
        + F.lit(0.5)
        * F.when(F.col("pc") > 0, F.col("pc") * F.log(F.col("pc") / m)).otherwise(0.0)
    )
    return p.agg(F.round(F.sum(term), 6).alias("jsd"))


@register(
    "q_wasserstein",
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS r,
             CASE WHEN event_id % 2 = 1 THEN 1.0 ELSE 0.0 END AS c
      FROM events
    ),
    tot AS (SELECT sum(r) AS nr, sum(c) AS nc FROM s),
    g AS (SELECT v, sum(r) AS dr, sum(c) AS dc FROM s GROUP BY v),
    e AS (
      SELECT v,
             sum(dr) OVER (ORDER BY v) AS cr,
             sum(dc) OVER (ORDER BY v) AS cc,
             lead(v) OVER (ORDER BY v) AS nv
      FROM g
    )
    SELECT round(sum(abs(cr / nr - cc / nc) * (nv - v)), 6) AS w1
    FROM e, tot WHERE nv IS NOT NULL
    """,
    "SURVEY.md §2.10 drift-kernel family: exact 1-D Wasserstein-1 (earth mover's) drift distance, "
    "∫|ECDF_ref − ECDF_cur| dx over the merged support — the mass-weighted "
    "'how far did it move' companion to KS's sup-norm. Relational form: "
    "distinct-value pre-agg (kills ECDF ties), then the scale-safe bucketed "
    "two-pass cumulative WITH the global lead fused into the same pass "
    "(operators/windows.global_cumulative lead_col) — no single-partition "
    "sort anywhere. Kernel twin kernels.wasserstein_1d (pytest vs "
    "mean|sorted−sorted| identity)",
)
def q_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.windows import global_cumulative

    s = _t(spark, sf, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1.0).otherwise(0.0).alias("r"),
        F.when(F.col("event_id") % 2 == 1, 1.0).otherwise(0.0).alias("c"),
    )
    # persist the distinct-value agg: the two-pass helpers each run a tiny
    # driver collect (bucket offsets, bucket boundary mins) plus the final
    # job — without the persist each of those re-scans events and re-runs
    # the groupBy; with it, events is read ONCE and everything downstream
    # operates on the O(distinct-values) cached frame (bounded by the value
    # domain, ~56k rows at 2dp). Measured A/B at sf0.1: persist ~4.5-4.9 s
    # vs ~3.5-4.3 s without — a small toy-scale pessimization (the 100k-row
    # scan is cheaper than the cache write) accepted for the target-scale
    # shape, where re-scanning the full events table 3x is the absurdity
    # and g stays bounded (the q_tumbling_vote precedent). Freed by the
    # caller's persist scope.
    g = scoped(
        s.groupBy("v")
        .agg(F.sum("r").alias("dr"), F.sum("c").alias("dc"))
        .persist()
    )
    # side totals from the distinct-value agg rather than a separate
    # whole-table agg: the tot branch shares g's canonical groupBy subtree,
    # so AQE can stage-reuse the exchange at runtime (the bucketed two-pass
    # itself still reads events once more for its offsets job — inherent to
    # global_cumulative)
    tot = g.agg(F.sum("dr").alias("nr"), F.sum("dc").alias("nc"))
    # bucket = floor(v) (~560 unit-width buckets on this domain) rather than
    # the /10 coarsening the KS entries use: W1 pre-aggregates to DISTINCT
    # values, so finer buckets cost nothing extra in the offsets collect but
    # multiply the parallel-sort width at 100x scale
    # cumulative AND global lead in one fused pass (r8): the lead boundary
    # mins ride the cumulative's per-bucket collect and its broadcast
    # offsets join — one tiny driver job + one join instead of two of each
    # (this query's cost is fixed job overhead, not data: ~3.1 s at BOTH
    # 100k and 1M events pre-change)
    e = global_cumulative(
        g, bucket=F.floor(F.col("v")), order_cols=["v"],
        sums={"cr": "dr", "cc": "dc"}, lead_col="nv",
    )
    out = (
        e.filter(F.col("nv").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("cr") / F.col("nr") - F.col("cc") / F.col("nc"))
                    * (F.col("nv") - F.col("v"))
                ),
                6,
            ).alias("w1")
        )
    )
    return out


@register(
    "q_categorical_drift",
    """
    WITH c AS (
      SELECT CAST(floor(doc_id / 50) AS BIGINT) AS window_id, lang,
             count(*)::DOUBLE AS o
      FROM documents GROUP BY 1, 2
    ),
    g AS (SELECT lang, sum(o) AS gn FROM c GROUP BY 1),
    gt AS (SELECT sum(gn) AS tot FROM g),
    praw AS (
      SELECT lang, gn / tot AS pr FROM g, gt
      UNION ALL SELECT '(other)', 0.000001
    ),
    z AS (SELECT sum(pr) AS z FROM praw),
    p AS (SELECT lang, pr / z AS p FROM praw, z),
    t AS (SELECT window_id, sum(o) AS n FROM c GROUP BY 1),
    grid AS (SELECT window_id, n, lang, p FROM t CROSS JOIN p)
    SELECT window_id, CAST(n AS BIGINT) AS n,
           round(sum(pow(coalesce(o, 0) - n * p, 2) / (n * p)), 6) AS chi2_stat,
           CAST((SELECT count(*) - 1 FROM praw) AS BIGINT) AS dof
    FROM grid LEFT JOIN c USING (window_id, lang)
    GROUP BY window_id, n
    """,
    "SURVEY.md §2.10 windowed drift surface: per-WINDOW chi-square goodness-of-fit drift of a categorical column "
    "(documents.lang, 50-doc windows) against the corpus-level reference "
    "distribution, with the deterministic '(other)' eps catch-all bucket (dof = |langs|, batch-invariant) — the engine surface drift.categorical_drift projected to "
    "its relational columns (stat + dof; the incomplete-gamma p-value is "
    "kernel-side, pytest-verified via kernels.chi2_sf goldens). One "
    "groupBy(window, cat) over the table; the windows×categories grid comes "
    "from a broadcast of the tiny category frame",
)
def q_categorical_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.drift import categorical_drift

    docs = _t(spark, sf, "documents").select(
        F.floor(F.col("doc_id") / 50).cast("long").alias("window_id"), "lang"
    )
    g = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("gn"))
    rows = g.collect()  # tiny: one row per language
    tot = sum(r["gn"] for r in rows)
    props = {r["lang"]: r["gn"] / tot for r in rows}
    out = categorical_drift(docs, "lang", props, window_col="window_id")
    return out.select(
        "window_id", "n", F.round("chi2_stat", 6).alias("chi2_stat"), "dof"
    )


# =====================================================================
# Dedup / text / similarity (training-data pipeline operators)
# =====================================================================
@register(
    "q_dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    "exact dedup via content hash groupBy; keep min id per group",
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(_t(spark, sf, "documents"))


@register(
    "q_ngram_jaccard_pairs",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS r(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.04
    """,
    "exact word-3-gram Jaccard near-dup pairs: shingle explode → equi-join → "
    "pair agg (the oracle-checkable exact variant; MinHash-LSH is the scale path)",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.04)


_WINNOW_CTE = """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT doc_id, i - 1 AS pos,
             md5(ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]) AS h
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS r(i)
    ),
    sized AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS s FROM sh),
    starts AS (
      SELECT doc_id, pos AS start, s,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
      FROM sized
    ),
    valid AS (
      SELECT * FROM starts WHERE start <= s - 4 OR (s < 4 AND start = 0)
    ),
    sel AS (
      SELECT v.doc_id, v.start, v.mh AS fp, max(x.pos) AS pos
      FROM valid v JOIN sized x
        ON x.doc_id = v.doc_id
       AND x.pos BETWEEN v.start AND v.start + 3
       AND x.h = v.mh
      GROUP BY 1, 2, 3
    )
"""


@register(
    "q_winnow_fingerprints",
    _WINNOW_CTE + """
    SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM sel
    """,
    "WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken — the MOSS "
    "scheme): md5 every word 3-gram, slide a 4-hash window, keep each "
    "window's minimum (rightmost on ties — robust winnowing); guarantees "
    "any shared run of >= w+k-1 = 6 tokens yields a shared fingerprint. "
    "One ordered window pass per doc, no UDF; md5 hex gives an order the "
    "oracle reproduces bit-for-bit (text.winnow_fingerprints; guarantee + "
    "tie + short-doc cases in tests/test_winnowing.py)",
)
def q_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf, "documents"), k=3, w=4)


@register(
    "q_winnow_overlap_pairs",
    _WINNOW_CTE + """,
    fps AS (SELECT DISTINCT doc_id, fp FROM sel),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, n_shared,
           round(n_shared / least(sa.n_fp, sb.n_fp), 6) AS overlap
    FROM shared
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE round(n_shared / least(sa.n_fp, sb.n_fp), 6) >= 0.2
    """,
    "contained-copy / near-dup pairs from winnowing fingerprints: join on "
    "shared fingerprints (guaranteed for any >= 6-token shared run), "
    "overlap = shared / min(|A|,|B|) — the CONTAINMENT normalization that "
    "scores a small doc pasted into a large one near 1.0 where Jaccard "
    "dilutes; join input is the ~2/(w+1)-density fingerprint rows, not all "
    "shingles (dedup.winnow_overlap_pairs)",
)
def q_winnow_overlap_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.winnow_overlap_pairs(_t(spark, sf, "documents"), threshold=0.2)


@register(
    "q_decontamination",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS r(i)
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE doc_id < 10),
    hits AS (
      SELECT s.doc_id, count(*) AS n
      FROM sh s JOIN bench USING (g) WHERE s.doc_id >= 10 GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(n, 0) AS n_contaminated_ngrams,
           coalesce(n, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
    LEFT JOIN hits USING (doc_id)
    """,
    "SURVEY.md §2.9/§2.7 membership family: benchmark DECONTAMINATION — flag "
    "corpus docs sharing ≥1 distinct word 3-gram with an eval set (docs 0-9 "
    "as the stand-in benchmark) — the train/test-leakage gate run before "
    "training. Benchmark shingle set broadcast (bounded by contract); corpus "
    "side is one explode + hash-join + per-doc count, never shuffled on the "
    "benchmark",
)
def q_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return T.contamination_flags(
        docs.filter(F.col("doc_id") >= 10), docs.filter(F.col("doc_id") < 10)
    )


@register(
    "q_token_count",
    "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents",
    "token counting (whitespace); text-analysis primitive",
)
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    return T.token_count(_t(spark, sf, "documents"))


@register(
    "q_quality_features",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           round(length(text) / len(string_split(text, ' ')), 4) AS avg_token_len,
           length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
           round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 / length(text), 6) AS punct_ratio,
           round(len(list_intersect(string_split(text, ' '),
                 ['the','and','of','to','a','in','is','it','that','was']))
                 / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    """,
    "quality scoring: length/punctuation/stopword ratios as pure columns",
)
def q_quality_features(spark: SparkSession, sf: str) -> DataFrame:
    return T.quality_features(_t(spark, sf, "documents"))


@register(
    "q_repetition_ratio",
    r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           round(CASE WHEN len(string_split(text, ' ')) > 0
                 THEN 1.0 - len(list_distinct(string_split(text, ' ')))
                            / len(string_split(text, ' '))
                 ELSE 0 END, 6) AS repetition_ratio
    FROM documents
    """,
    "SURVEY.md §2.9 scalar-feature family / Gopher repetition rules: "
    "token-repetition quality signal (1 − distinct/total tokens) — "
    "templated/boilerplate docs score high. Pure JVM array functions",
)
def q_repetition_ratio(spark: SparkSession, sf: str) -> DataFrame:
    return T.repetition_ratio(_t(spark, sf, "documents"))


@register(
    "q_pii_scan",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
           len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phone,
           (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
            + len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))) > 0 AS has_pii
    FROM documents
    """,
    "SURVEY.md §2.9 scalar-feature family: per-document PII indicator counts "
    "(email / IPv4 / phone) — the redaction-triage scan a corpus pipeline "
    "runs before release; counts only, matched strings never leave the row. "
    "Patterns chosen to parse identically under Java regex and RE2 "
    "(functions/text.PII_PATTERNS); planted-PII behavior pinned in pytest",
)
def q_pii_scan(spark: SparkSession, sf: str) -> DataFrame:
    return T.pii_scan(_t(spark, sf, "documents"))


@register(
    "q_quality_gate",
    r"""
    WITH q AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             round(length(text) / len(string_split(text, ' ')), 4) AS avg_token_len,
             round(len(list_intersect(string_split(text, ' '),
                   ['the','and','of','to','a','in','is','it','that','was']))
                   / len(string_split(text, ' ')), 6) AS stopword_ratio,
             round(CASE WHEN len(string_split(text, ' ')) > 0
                   THEN 1.0 - len(list_distinct(string_split(text, ' ')))
                              / len(string_split(text, ' '))
                   ELSE 0 END, 6) AS repetition_ratio
      FROM documents
    )
    SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, repetition_ratio,
           n_tokens BETWEEN 10 AND 100000 AS ok_token_count,
           avg_token_len BETWEEN 2.0 AND 12.0 AS ok_avg_token_len,
           stopword_ratio >= 0.0 AS ok_stopwords,
           repetition_ratio <= 0.5 AS ok_repetition,
           (n_tokens BETWEEN 10 AND 100000)
             AND (avg_token_len BETWEEN 2.0 AND 12.0)
             AND (stopword_ratio >= 0.0)
             AND (repetition_ratio <= 0.5) AS keep
    FROM q
    """,
    "SURVEY.md §2.9 / Gopher-style composite document filter: keep/drop gate "
    "over token-count window, mean-word-length window, stopword floor and "
    "repetition ceiling — emits the per-rule booleans so a pipeline can audit "
    "WHY a doc dropped. ONE projection over one scan (no join of same-scan "
    "derivations)",
)
def q_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    return T.quality_gate(_t(spark, sf, "documents"))


@register(
    "q_cosine_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS cos
    FROM embeddings, q
    WHERE vec_id > 0
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
    "brute-force cosine top-k (exact ANN baseline) via built-in array exprs — "
    "JVM-side zip_with/aggregate, no UDF",
)
def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return brute_force_topk(emb.filter(F.col("vec_id") > 0), qvec, k=10)


@register(
    "q_topk_per_query",
    """
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 4) AS cos
      FROM embeddings e, q
      WHERE e.vec_id >= 3
    )
    SELECT * FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    "batch top-k per query (brief: similarity search over embeddings; "
    "SURVEY §2.6 O2 generalized to a query set): broadcast the (small) "
    "query set, score all pairs JVM-side, window top-k per query — the "
    "corpus never shuffles pre-ranking (similarity.topk_per_query)",
)
def q_topk_per_query(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.similarity import topk_per_query

    emb = _t(spark, sf, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return topk_per_query(emb.filter(F.col("vec_id") >= 3), queries, k=5)


# ---- rows-only entries (not ANSI-SQL-expressible; driver records weaker check)
@register(
    "q_minhash_lsh_pairs",
    None,
    "MinHash+LSH near-dup candidates (shingle→minhash→band→bucket-join); "
    "engine-hash-dependent → no SQL oracle; validated in pytest vs exact Jaccard",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_lsh_pairs(_t(spark, sf, "documents"), k=32, bands=8)


@register(
    "q_incremental_dedup_pairs",
    None,
    "incremental MinHash-LSH dedup across corpus snapshots (SURVEY.md §4 "
    "row 4's incremental-vs-full retrain distinction applied to the brief's "
    "dedup family; VERDICT r5 missing #1; ref gan.py:161-170): "
    "batch 1 builds the signature/band store, batch 2 signs ONLY its new "
    "docs and probes the persisted store (new×all bucketed band join). "
    "SELF-VERIFYING rows-only entry: parity_with_full compares the union "
    "of both batches' emitted pairs against the one-shot minhash_lsh_pairs "
    "over the full corpus (the gate hashes it); batch-only-signs-new and "
    "idempotent re-run pinned in tests/test_incremental_dedup.py",
)
def q_incremental_dedup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    docs = _t(spark, sf, "documents")
    store = tempfile.mkdtemp(prefix="lsh_store_") + "/banded"
    try:
        b1 = D.incremental_minhash_pairs(
            docs.filter(F.col("doc_id") % 2 == 0), store, k=32, bands=8
        )
        b2 = D.incremental_minhash_pairs(
            docs.filter(F.col("doc_id") % 2 == 1), store, k=32, bands=8
        )
        inc = b1.unionByName(b2).select("a_id", "b_id", "est_jaccard")
        return _parity_with_full(
            inc, lambda: D.minhash_lsh_pairs(docs, k=32, bands=8),
            ["a_id", "b_id", "est_jaccard"],
        )
    finally:
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)


def _parity_with_full(inc, full_fn, keys):
    """Self-verification shared by the incremental dedup entries: the union
    of per-batch pair outputs must equal the one-shot recompute `full_fn()`
    exactly (full-outer presence check; exceptAll trips a Catalyst
    attribute-binding bug on this plan shape in Spark 4.1). The recompute
    runs in a nested persist scope, freed once the check is counted.
    Returns `inc` with the boolean parity_with_full column the gate hashes."""
    ic = inc.groupBy(keys).agg(F.count(F.lit(1)).alias("n_inc"))
    with persist_scope():
        fc = full_fn().groupBy(keys).agg(F.count(F.lit(1)).alias("n_full"))
        mismatch = (
            ic.join(fc, keys, "full_outer")
            .filter(
                F.col("n_inc").isNull()
                | F.col("n_full").isNull()
                | (F.col("n_inc") != F.col("n_full"))
            )
            .count()
        )
    return inc.withColumn("parity_with_full", F.lit(mismatch == 0))


@register(
    "q_incremental_simhash_pairs",
    None,
    "incremental SimHash dedup across corpus snapshots (fingerprint twin of "
    "q_incremental_dedup_pairs; SURVEY.md §4 row 4 incremental-vs-full "
    "retrain analog, ref gan.py:161-170): "
    "batch 1 builds the banded fingerprint store, batch 2 "
    "signs ONLY its new docs and probes new×(store∪new) on the (band, "
    "band-value) key with the exact bit_count(xor)≤d filter. SELF-VERIFYING "
    "rows-only entry: parity_with_full compares the union of both batches' "
    "pairs against the one-shot simhash_pairs over the full corpus (the "
    "gate hashes it); signs-only-new and idempotent re-run pinned in "
    "tests/test_incremental_dedup.py",
)
def q_incremental_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    docs = _t(spark, sf, "documents")
    store = tempfile.mkdtemp(prefix="sh_store_") + "/banded"
    try:
        b1 = D.incremental_simhash_pairs(
            docs.filter(F.col("doc_id") % 2 == 0), store, max_distance=3, bands=4
        )
        b2 = D.incremental_simhash_pairs(
            docs.filter(F.col("doc_id") % 2 == 1), store, max_distance=3, bands=4
        )
        inc = b1.unionByName(b2).select("a_id", "b_id", "hamming")
        return _parity_with_full(
            inc, lambda: D.simhash_pairs(docs, max_distance=3, bands=4),
            ["a_id", "b_id", "hamming"],
        )
    finally:
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)


@register(
    "q_simhash",
    None,
    "64-bit SimHash fingerprints via bit-vote over token xxhash64 — "
    "engine-hash-dependent → no SQL oracle; stability tested in pytest",
)
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash(_t(spark, sf, "documents"))


@register(
    "q_simhash_pairs",
    None,
    "SimHash near-dup retrieval: band-rotation join over 64-bit fingerprints "
    "(pigeonhole: distance ≤3 ⇒ one of 4 bands matches exactly) + "
    "bit_count(xor) Hamming filter — engine-hash-dependent → no SQL oracle; "
    "planted near-dups pinned in pytest",
)
def q_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_pairs(_t(spark, sf, "documents"), max_distance=3, bands=4)


@register(
    "q_dedup_clusters",
    """
    WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS r(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.04
    ),
    edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    cc(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, cc.lbl FROM cc JOIN edges e ON e.src = cc.node
    )
    SELECT node AS doc_id, min(lbl) AS canonical_id,
           (node = min(lbl)) AS keep
    FROM cc GROUP BY node
    """,
    "duplicate-cluster resolution: connected components (iterative min-label "
    "propagation) over the exact-Jaccard pair graph → (doc, canonical, keep) "
    "— the keep/drop list; oracle = DuckDB recursive CTE over the same pairs "
    "(ref analog: segment relabel on recurring drift, gan.py:785-794)",
)
def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return D.dedup_clusters(
        docs.select("doc_id"), lambda: D.ngram_jaccard_pairs(docs, threshold=0.04)
    )


@register(
    "q_minhash_lsh_clusters",
    None,
    "end-to-end SCALE-PATH dedup pipeline: MinHash-LSH candidate pairs "
    "(est_jaccard >= 0.35) -> connected components -> (doc, canonical, keep) "
    "— linear candidate generation, bucket-local join, tiny pair graph; "
    "hash-dependent candidates -> no SQL oracle (the exact-Jaccard twin "
    "q_dedup_clusters carries the recursive-CTE oracle)",
)
def q_minhash_lsh_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    return D.dedup_clusters(
        docs.select("doc_id"), lambda: D.minhash_lsh_pairs(docs, threshold=0.35)
    )


def _inference_oracle() -> str:
    from al_drift_detection_spark.functions.inference import batch_score_oracle_sql

    return batch_score_oracle_sql(n_classes=10, dim=64)


@register(
    "q_batch_inference",
    _inference_oracle(),
    "batch inference as dataflow (SURVEY §2.11, ref CRNN predict "
    "cnn.py:221-236): frozen linear model scored via mapInPandas, one numpy "
    "matmul per Arrow batch -> label_pred; oracle = DuckDB list_dot_product "
    "against the same integer-derived weight literals + ordered-CASE argmax",
)
def q_batch_inference(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.inference import batch_score

    return batch_score(_t(spark, sf, "embeddings"), n_classes=10)


@register(
    "q_fingerprint",
    None,
    "winnowing-style min-hash document fingerprint (rolling 3-gram hash)",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return T.fingerprint(_t(spark, sf, "documents"))


def _langid_oracle() -> str:
    from al_drift_detection_spark.functions.text import LANG_STOPWORDS

    langs = list(LANG_STOPWORDS)
    score_cols = ", ".join(
        f"len(list_intersect(toks, [{', '.join(repr(w) for w in ws)}])) AS score_{g}"
        for g, ws in LANG_STOPWORDS.items()
    )
    best = f"greatest({', '.join(f'score_{g}' for g in langs)})"
    cases = " ".join(f"WHEN score_{g} = {best} THEN '{g}'" for g in langs)
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
    ),
    s AS (SELECT doc_id, {score_cols} FROM t)
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und' {cases} END AS lang_pred
    FROM s
    """


@register(
    "q_langid",
    _langid_oracle(),
    "stopword-overlap language-ID heuristic (pure array built-ins: "
    "array_intersect scores + first-wins argmax cascade); oracle generated "
    "from the SAME LANG_STOPWORDS table via DuckDB list_intersect",
)
def q_langid(spark: SparkSession, sf: str) -> DataFrame:
    return T.langid(_t(spark, sf, "documents"))


@register(
    "q_label_smoothing",
    None,
    "W5 stateful label smoothing (ref cnn.py:149-172) — in-place carry-over "
    "is not pure-SQL; applyInPandas per group, validated in pytest vs a "
    "direct numpy port",
)
def q_label_smoothing(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.smoothing import smooth_labels

    emb = _t(spark, sf, "embeddings").select(
        (F.col("vec_id") / 100).cast("long").alias("grp"),
        F.col("vec_id").cast("long").alias("ord"),
        F.col("label").cast("int").alias("label"),
    )
    return smooth_labels(emb, "grp", "ord", "label", run=12, gap=6)


def _lsh_sig_sql(dim: int, n_planes: int, seed: int = 42) -> str:
    """The `sig` CTE shared by the LSH oracle queries: per-vector hyperplane
    bucket from the SAME seeded Philox plane matrix the Spark UDF
    regenerates (similarity.hyperplane_signatures) — the plane literals make
    the whole LSH path ANSI-expressible (VERDICT r4 item 6), so bucket
    assignment, probing, and the bucket-local join are all value-checked,
    not just recall-floored."""
    import numpy as np

    planes = np.random.Generator(np.random.Philox(key=seed)).standard_normal(
        (dim, n_planes)
    )
    terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, "
        f"[{', '.join(repr(float(x)) for x in planes[:, j])}]) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
    p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sig AS (SELECT vec_id, e, {terms} AS bucket FROM p)
    """


@register(
    "q_lsh_ann_topk",
    f"""
    WITH {_lsh_sig_sql(64, 6)},
    q AS (SELECT bucket AS qb, e AS qe FROM sig WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(e, qe), 4) AS cos
    FROM sig, q
    WHERE vec_id > 0 AND bit_count(xor(bucket, qb)) <= 1
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
    "LSH-bucketed approximate nearest neighbours (random hyperplanes, "
    "vectorized pandas-UDF signatures, Hamming-1 multi-probe); FULL DuckDB "
    "oracle via literal plane matrix (bucket assignment + probe set + "
    "cosine ranking all value-checked); recall floor additionally pytest-"
    "pinned (tests/test_ann_recall.py)",
)
def q_lsh_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.similarity import lsh_ann_topk

    emb = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return lsh_ann_topk(emb.filter(F.col("vec_id") > 0), qvec, dim=64, k=10, n_planes=6)


# =====================================================================
# Engine-path entries on the synthetic images fixture (rows-only checks:
# the images table is engine-generated, not among the oracle's views)
# =====================================================================
@register(
    "q_image_features",
    None,
    "multimodal decode + feature extraction over binary image column "
    "(mapInPandas Arrow batches; F9/input_hint plumbing)",
)
def q_image_features(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.functions.multimodal import image_features

    return image_features(generate_images(spark, 2000, rows_per_window=500))


@register(
    "q_image_resize",
    None,
    "multimodal resize path: block-mean thumbnail per image over binary "
    "blobs, one mapInPandas Arrow batch at a time (the Image.resize slot in "
    "a PIL-backed deployment; plumbing + batch shape real, kernel "
    "self-contained — no imaging lib in this container)",
)
def q_image_resize(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.functions.multimodal import resize_images

    return resize_images(generate_images(spark, 1000, rows_per_window=500))


@register(
    "q_video_frames",
    None,
    "multimodal fan-out dataflow: one media row in -> N frame rows out via "
    "mapInPandas (frame sampler is a documented deterministic stub; the "
    "schema/batching/fan-out shape is the real operator)",
)
def q_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.functions.multimodal import video_frame_sample

    media = generate_images(spark, 200, rows_per_window=100).select(
        F.col("image_id").alias("media_id"), "bytes"
    )
    return video_frame_sample(media)


@register(
    "q_cosine_neardup_pairs",
    f"""
    WITH {_lsh_sig_sql(64, 6)}
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.e, b.e), 4) AS cos
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.25
    """,
    "embedding-cosine near-duplicate pairs: hyperplane-LSH buckets -> "
    "bucket-local self-join -> exact cosine filter (signatures persisted, "
    "computed once); FULL DuckDB oracle via the same literal plane matrix "
    "(VERDICT r4 item 6) — bucketing and the bucket-local pair set are "
    "value-checked, planted-pair behavior additionally pytest-pinned",
)
def q_cosine_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf, "embeddings")
    # the synthetic embeddings are near-orthogonal, so the "near-dup"
    # threshold is set low enough to emit a non-degenerate pair set
    return cosine_near_dup_pairs(emb, dim=64, threshold=0.25, n_planes=6)


@register(
    "q_validation_verdicts",
    None,
    "full constraint-suite verdicts on the synthetic images fixture "
    "(the engine's core output contract, FIXTURES.md §4)",
)
def q_validation_verdicts(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images, generate_reference
    from al_drift_detection_spark.runner import default_suite

    imgs = generate_images(spark, 4000, rows_per_window=500)
    ref = generate_reference(spark, 4000, rows_per_window=500)
    return default_suite().run(imgs, ref=ref.select("phash")).verdicts


@register(
    "q_drift_scores",
    None,
    "windowed KS/PSI/MMD drift scores vs broadcast reference sample "
    "(the north_star drift kernel path; golden planted-drift test in pytest)",
)
def q_drift_scores(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.drift import build_reference_sample, drift_scores

    imgs = generate_images(spark, 4000, rows_per_window=500)
    ref_rows = imgs.filter(F.col("window_id") < 4)
    samples = build_reference_sample(ref_rows, ["w", "h"])
    return drift_scores(imgs, ["w", "h"], samples)


@register(
    "q_sliding_drift",
    None,
    "SURVEY.md §2.5 W8 sliding reference-vs-current windows (ref "
    "gan.py:723-860 window k vs k-1): each window scored against its "
    "predecessor via the pair-union + sampler-bounded applyInPandas "
    "(drift.sliding_window_scores — per-pair rows bounded JVM-side by "
    "_bounded_window_sample, VERDICT r4 item 1); kernel math -> no SQL "
    "oracle; onset-boundary golden + bounded-rows stress in pytest",
)
def q_sliding_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.drift import sliding_window_scores

    imgs = generate_images(spark, 4000, rows_per_window=500)
    return sliding_window_scores(imgs, ["w"], offset=1)


@register(
    "q_near_dup_rate",
    None,
    "SURVEY.md §2.5 W8 windowed-verdict pattern applied to the dedup signal "
    "(ref gan.py:723-757 per-window vote analog): per-window near-duplicate "
    "RATE (MinHash-LSH flagged ids -> windowed count agg) — the "
    "corpus-quality time series a pipeline alarms on; engine-hash-dependent "
    "-> no SQL oracle; planted-duplicate pytest",
)
def q_near_dup_rate(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.dedup import near_dup_rate

    docs = _t(spark, sf, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("window_id"), "doc_id", "text"
    )
    return near_dup_rate(docs)


@register(
    "q_near_dup_rate_exact",
    """
    WITH docs AS (
      SELECT CAST(doc_id % 4 AS INT) AS window_id, doc_id, text FROM documents
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM docs),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS r(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
    ),
    dup AS (
      SELECT DISTINCT id FROM (
        SELECT a_id AS id FROM pairs UNION ALL SELECT b_id AS id FROM pairs
      )
    )
    SELECT d.window_id,
           count(*) AS n_docs,
           count(dup.id) AS n_near_dup,
           round(count(dup.id) / count(*), 6) AS dup_rate
    FROM docs d LEFT JOIN dup ON d.doc_id = dup.id
    GROUP BY 1
    """,
    "SURVEY.md §2.5 W8 windowed-verdict pattern, EXACT-Jaccard twin of "
    "q_near_dup_rate (VERDICT r3 item 5): same (window_id, n_docs, "
    "n_near_dup, dup_rate) contract, pairs from the exact word-3-gram "
    "Jaccard self-join instead of MinHash-LSH — value-checked against the "
    "DuckDB recursive shingle oracle; the LSH variant is the scale path",
)
def q_near_dup_rate_exact(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.dedup import near_dup_rate_exact

    docs = _t(spark, sf, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("window_id"), "doc_id", "text"
    )
    return near_dup_rate_exact(docs, threshold=0.5)


# =====================================================================
# Crossing evaluation (the cnn.py end-to-end, composed) — VERDICT r4 item 4
# =====================================================================
def _crossing_oracle_sql() -> str:
    """Composed oracle: split CTEs (= q_split_assignment's), the frozen
    linear-model scoring CTE (= q_batch_inference's literal weights), then
    per-scope confusion → margins → PRF, mirroring cnn.py:579-667's three
    evaluation scopes (per-split all rows, per-drift TEST rows, per-orbit
    all rows)."""
    from al_drift_detection_spark.functions.inference import batch_score_oracle_sql

    score_sql = batch_score_oracle_sql(n_classes=10, dim=64, table="embeddings")
    return f"""
    WITH g AS (SELECT vec_id, vec_id // 20 AS grp, label FROM embeddings),
    cnt AS (SELECT grp, label, count(*)::DOUBLE AS n FROM g GROUP BY 1, 2),
    ent AS (
      SELECT grp, sum(-(n / t) * ln(n / t)) AS entropy
      FROM (SELECT grp, n, sum(n) OVER (PARTITION BY grp) AS t FROM cnt)
      GROUP BY grp
    ),
    gs AS (SELECT grp, entropy, grp % 3 AS drift FROM ent),
    staged AS (
      SELECT grp, drift, entropy,
             greatest(count(*) OVER (PARTITION BY drift) // 5, 1) AS _take,
             row_number() OVER (PARTITION BY drift ORDER BY grp) AS _pos
      FROM gs
    ),
    staged2 AS (
      SELECT *,
             row_number() OVER (PARTITION BY drift, (_pos > 2 * _take)
                                ORDER BY round(entropy, 9) DESC, grp) AS _rest_rank
      FROM staged
    ),
    sp AS (
      SELECT grp, drift,
             CASE WHEN _pos <= _take THEN 'test'
                  WHEN _pos <= 2 * _take THEN 'valid'
                  WHEN _rest_rank <= 8 THEN 'train'
                  ELSE 'unused' END AS split
      FROM staged2
    ),
    preds AS (SELECT vec_id, label, label_pred FROM ({score_sql})),
    r AS (
      SELECT sp.split, sp.drift, g.grp, p.label, p.label_pred AS pred
      FROM preds p JOIN g ON p.vec_id = g.vec_id JOIN sp ON g.grp = sp.grp
    ),
    scoped AS (
      SELECT 'split' AS scope_type, split AS scope, label, pred FROM r
      UNION ALL
      SELECT 'drift', CAST(drift AS VARCHAR), label, pred FROM r WHERE split = 'test'
      UNION ALL
      SELECT 'orbit', CAST(grp AS VARCHAR), label, pred FROM r
    ),
    cm AS (
      SELECT scope_type, scope, CAST(label AS BIGINT) AS label,
             CAST(pred AS BIGINT) AS pred, count(*)::DOUBLE AS n
      FROM scoped GROUP BY 1, 2, 3, 4
    ),
    rm AS (SELECT scope_type, scope, label AS c, sum(n) AS rowsum FROM cm GROUP BY 1, 2, 3),
    clm AS (SELECT scope_type, scope, pred AS c, sum(n) AS colsum FROM cm GROUP BY 1, 2, 3),
    tpm AS (
      SELECT scope_type, scope, label AS c, sum(n) AS tp
      FROM cm WHERE label = pred GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT rm.scope_type, rm.scope, rm.c,
             rm.rowsum, coalesce(clm.colsum, 0) AS colsum, coalesce(tpm.tp, 0) AS tp
      FROM rm LEFT JOIN clm USING (scope_type, scope, c)
              LEFT JOIN tpm USING (scope_type, scope, c)
    )
    SELECT scope_type, scope, CAST(c AS BIGINT) AS label,
           round(CASE WHEN colsum > 0 THEN tp / colsum ELSE 0 END, 6) AS prec,
           round(CASE WHEN rowsum > 0 THEN tp / rowsum ELSE 0 END, 6) AS rec,
           round(CASE WHEN tp > 0
                 THEN 2 * (tp / colsum) * (tp / rowsum) / ((tp / colsum) + (tp / rowsum))
                 ELSE 0 END, 6) AS f1,
           CAST(rowsum AS BIGINT) AS support
    FROM m
    """


@register(
    "q_crossing_report",
    _crossing_oracle_sql(),
    "the cnn.py END-TO-END composed (SURVEY.md §3.2 pipeline over the §2.4 "
    "A6-A10 metric block + §2.7 M5/M3 splits; ref cnn.py:470-667, VERDICT "
    "r4 'What's missing' #1): drift map (J1) -> per-drift split assembly "
    "(cnn.py:503-560) -> frozen-linear batch inference (cnn.py:562-576 "
    "stand-in) -> per-scope metric rows (per-split all rows / per-drift "
    "TEST rows / per-orbit, cnn.py:579-667) via ONE grouping-sets confusion "
    "pass; smoothing off here so the whole report is ANSI-expressible (the "
    "smoothed path is pinned by the planted golden in tests/"
    "test_crossings.py); full composed DuckDB oracle",
)
def q_crossing_report(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.crossings import crossing_report

    emb = _t(spark, sf, "embeddings").select(
        F.floor(F.col("vec_id") / 20).alias("grp"),
        F.col("vec_id").alias("idx"),
        "label",
        "embedding",
    )
    dm = emb.select("grp").distinct().select("grp", (F.col("grp") % 3).alias("drift"))
    rep = crossing_report(
        emb, dm, vec_col="embedding", orbit_col="grp", order_col="idx",
        label_col="label", smoothing=False,
    )
    return rep["prf"]


# =====================================================================
# Extended drift kernels + sequential change detectors + sketch
# uniqueness (round 6: SURVEY.md §2.10 family extensions; north_star
# "HyperLogLog-sketch uniqueness"; drift-literature sequential tests)
# =====================================================================
@register(
    "q_cvm_drift",
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS r,
             CASE WHEN event_id % 2 = 1 THEN 1.0 ELSE 0.0 END AS c
      FROM events
    ),
    tot AS (SELECT sum(r) AS nr, sum(c) AS nc FROM s),
    g AS (SELECT v, sum(r) AS dr, sum(c) AS dc FROM s GROUP BY v),
    e AS (
      SELECT v, dr, dc,
             sum(dr) OVER (ORDER BY v) AS cr,
             sum(dc) OVER (ORDER BY v) AS cc
      FROM g
    ),
    i AS (
      SELECT sum(pow(cr / nr - cc / nc, 2) * (dr + dc)) AS s2,
             max(nr) AS nr, max(nc) AS nc
      FROM e, tot
    )
    SELECT round(nr * nc / pow(nr + nc, 2) * s2, 6) AS cvm_stat FROM i
    """,
    "SURVEY.md §2.10 drift-kernel family: two-sample Cramér–von Mises "
    "criterion in its ECDF form — T = (n·m/N²)·Σ_z (F_ref(z) − F_cur(z))² "
    "over the combined sample — the SQUARED-gap whole-distribution companion "
    "to KS's single sup point (more sensitive to broad small shifts). Same "
    "scale shape as q_wasserstein: distinct-value pre-agg (persisted, read "
    "events once), then the bucketed two-pass cumulative "
    "(operators/windows.global_cumulative, RANGE frame = right-continuous "
    "ECDF at ties) — no single-partition sort. Kernel twin kernels.cvm_2samp "
    "(pytest vs the classic rank-based U-formula on tie-free data)",
)
def q_cvm_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.windows import global_cumulative

    s = _t(spark, sf, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1.0).otherwise(0.0).alias("r"),
        F.when(F.col("event_id") % 2 == 1, 1.0).otherwise(0.0).alias("c"),
    )
    g = scoped(
        s.groupBy("v")
        .agg(F.sum("r").alias("dr"), F.sum("c").alias("dc"))
        .persist()  # same rationale as q_wasserstein: events read ONCE
    )
    tot = g.agg(F.sum("dr").alias("nr"), F.sum("dc").alias("nc"))
    cum = global_cumulative(
        g, bucket=F.floor(F.col("v")), order_cols=["v"], sums={"cr": "dr", "cc": "dc"}
    )
    inner = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.pow(F.col("cr") / F.col("nr") - F.col("cc") / F.col("nc"), F.lit(2.0))
            * (F.col("dr") + F.col("dc"))
        ).alias("_s2"),
        F.first("nr").alias("nr"),
        F.first("nc").alias("nc"),
    )
    out = inner.select(
        F.round(
            F.col("nr") * F.col("nc") / F.pow(F.col("nr") + F.col("nc"), F.lit(2.0))
            * F.col("_s2"),
            6,
        ).alias("cvm_stat")
    )
    return out


@register(
    "q_energy_distance",
    """
    WITH r AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 400 AND vec_id % 2 = 0
    ),
    c AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 400 AND vec_id % 2 = 1
    ),
    exy AS (SELECT avg(list_distance(a.e, b.e)) AS t FROM r a, c b),
    exx AS (SELECT avg(list_distance(a.e, b.e)) AS t FROM r a, r b),
    eyy AS (SELECT avg(list_distance(a.e, b.e)) AS t FROM c a, c b)
    SELECT round(2 * exy.t - exx.t - eyy.t, 6) AS energy_dist
    FROM exy, exx, eyy
    """,
    "SURVEY.md §2.10 drift-kernel family: squared ENERGY DISTANCE "
    "(Székely–Rizzo V-statistic, D² = 2E|X−Y| − E|X−X'| − E|Y−Y'|, Euclidean, "
    "diagonal-inclusive cross-join means) between the two embedding sides — "
    "the tuning-free multivariate two-sample companion to q_mmd_rbf (no "
    "kernel bandwidth to pick). Same BOUNDED-sample shape as the MMD entry "
    "(200/200 rows); distances are pure JVM array exprs (zip_with + "
    "aggregate + sqrt — no UDF). Kernel twin kernels.energy_distance "
    "(pytest vs direct numpy pairwise means on 1-D and multivariate data)",
)
def q_energy_distance(spark: SparkSession, sf: str) -> DataFrame:
    emb = (
        _t(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    r = emb.filter(F.col("vec_id") % 2 == 0).select(F.col("e").alias("ae"))
    c = emb.filter(F.col("vec_id") % 2 == 1).select(F.col("e").alias("be"))

    def dist(a, b):
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )
        )

    exy = r.crossJoin(c).agg(F.avg(dist(F.col("ae"), F.col("be"))).alias("exy"))
    exx = (
        r.crossJoin(r.select(F.col("ae").alias("ae2")))
        .agg(F.avg(dist(F.col("ae"), F.col("ae2"))).alias("exx"))
    )
    eyy = (
        c.crossJoin(c.select(F.col("be").alias("be2")))
        .agg(F.avg(dist(F.col("be"), F.col("be2"))).alias("eyy"))
    )
    return (
        exy.crossJoin(exx)
        .crossJoin(eyy)
        .select(
            F.round(
                2 * F.col("exy") - F.col("exx") - F.col("eyy"), 6
            ).alias("energy_dist")
        )
    )


@register(
    "q_page_hinkley",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS window_id, avg(value) AS x
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT window_id, x, avg(x) OVER w AS cum_mean FROM s
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    m AS (
      SELECT window_id, x, cum_mean,
             sum(x - cum_mean - 0.05) OVER w AS mt_inc,
             sum(x - cum_mean + 0.05) OVER w AS mt_dec
      FROM d
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    p AS (
      SELECT window_id, x, cum_mean, mt_inc, mt_dec,
             mt_inc - min(mt_inc) OVER w AS ph_inc,
             max(mt_dec) OVER w - mt_dec AS ph_dec
      FROM m
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT window_id, round(x, 6) AS x, round(cum_mean, 6) AS cum_mean,
           round(mt_inc, 6) AS mt_inc, round(mt_dec, 6) AS mt_dec,
           round(ph_inc, 6) AS ph_inc, round(ph_dec, 6) AS ph_dec,
           (round(ph_inc, 6) > 25.0 OR round(ph_dec, 6) > 25.0) AS alarm
    FROM p
    """,
    "SURVEY.md §2.10 extended: two-sided PAGE-HINKLEY sequential change "
    "detector over the per-window mean-value METRIC SERIES (the engine's own "
    "S8 metrics rows) — the drift-detection-literature test for 'when did "
    "the level shift', complementing the two-window KS/PSI/MMD family "
    "(ref's windowed vote loop, gan.py:737-757). Raw rows fold into ONE "
    "per-window aggregate; the ordered windows run over the O(windows) "
    "series (functions/changepoint.page_hinkley; the alarm here re-derives "
    "from 6dp-rounded statistics so both engines compare identical values). "
    "Planted-shift alarm behavior pinned in tests/test_changepoint.py",
)
def q_page_hinkley(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.changepoint import page_hinkley

    series = (
        _t(spark, sf, "events")
        .groupBy(F.floor(F.col("event_id") / 500).cast("long").alias("window_id"))
        .agg(F.avg("value").alias("x"))
    )
    out = page_hinkley(series, "window_id", "x", delta=0.05, threshold=25.0)
    ph_i, ph_d = F.round("ph_inc", 6), F.round("ph_dec", 6)
    return out.select(
        "window_id",
        F.round("x", 6).alias("x"),
        F.round("cum_mean", 6).alias("cum_mean"),
        F.round("mt_inc", 6).alias("mt_inc"),
        F.round("mt_dec", 6).alias("mt_dec"),
        ph_i.alias("ph_inc"),
        ph_d.alias("ph_dec"),
        ((ph_i > 25.0) | (ph_d > 25.0)).alias("alarm"),
    )


@register(
    "q_ddm_error_rate",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS window_id,
             count(*) AS n,
             CAST(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS err
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT window_id, n, err,
             CAST(sum(n) OVER w AS DOUBLE) AS cn,
             CAST(sum(err) OVER w AS DOUBLE) AS ce
      FROM s
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    e AS (
      SELECT window_id, n, err, ce / cn AS p_cum,
             sqrt(ce / cn * (1 - ce / cn) / cn) AS s_cum
      FROM d
    ),
    f AS (
      SELECT *, p_cum + s_cum AS ps,
             min(p_cum + s_cum) OVER
               (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ps_min
      FROM e
    ),
    arg AS (
      SELECT a.window_id, min(b.window_id) AS am
      FROM f a JOIN f b ON b.window_id <= a.window_id AND b.ps = a.ps_min
      GROUP BY 1
    )
    SELECT f.window_id, f.n, f.err,
           round(f.p_cum, 6) AS p_cum, round(f.s_cum, 6) AS s_cum,
           round(x.p_cum, 6) AS p_min, round(x.s_cum, 6) AS s_min,
           CAST(CASE WHEN f.p_cum + f.s_cum > x.p_cum + 3 * x.s_cum THEN 2
                     WHEN f.p_cum + f.s_cum > x.p_cum + 2 * x.s_cum THEN 1
                     ELSE 0 END AS INTEGER) AS level
    FROM f JOIN arg ON f.window_id = arg.window_id
           JOIN f x ON x.window_id = arg.am
    """,
    "SURVEY.md §2.10 extended: windowed DDM (Drift Detection Method, Gama "
    "et al. 2004) over the per-window ERROR-RATE series — cumulative "
    "p_t ± binomial s_t against the stored (p_min, s_min) register, "
    "warning/drift levels at 2σ/3σ (the ref detector's pass/warn/fail "
    "verdict ladder, gan.py:737-757, as the published sequential test). "
    "All inputs are integer counts, so both engines derive bitwise-identical "
    "doubles and the level column needs no rounding tolerance "
    "(functions/changepoint.ddm_levels; planted-jump levels pinned in "
    "tests/test_changepoint.py)",
)
def q_ddm_error_rate(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.changepoint import ddm_levels

    series = (
        _t(spark, sf, "events")
        .groupBy(F.floor(F.col("event_id") / 500).cast("long").alias("window_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") > 150).cast("long")).alias("err"),
        )
    )

    out = ddm_levels(series, "window_id", "n", "err")
    return out.select(
        "window_id",
        "n",
        "err",
        F.round("p_cum", 6).alias("p_cum"),
        F.round("s_cum", 6).alias("s_cum"),
        F.round("p_min", 6).alias("p_min"),
        F.round("s_min", 6).alias("s_min"),
        "level",
    )


@register(
    "q_hll_uniqueness",
    """
    WITH e AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS window_id, user_id
      FROM events
    ),
    w AS (SELECT DISTINCT window_id FROM e)
    SELECT w.window_id,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact_cum,
           TRUE AS est_ok
    FROM w JOIN e ON e.window_id <= w.window_id
    GROUP BY 1
    """,
    "north_star 'HyperLogLog-sketch uniqueness' (SURVEY.md §2.4 A2 at "
    "scale): per-window DataSketches HLL sketches (hll_sketch_agg — one "
    "partial+final JVM pass), cumulative distinct-count series from "
    "UNIONING the per-window sketches alone (hll_union_agg over the "
    "O(windows) sketch frame — the raw data is read once, unlike the "
    "oracle's prefix re-scan which is exactly what sketches make "
    "unnecessary), self-verified in-row: est_ok = |estimate − exact| ≤ 5% "
    "(lgK=12 ⇒ rsd≈1.6%), with the exact side from the scale-safe "
    "first-occurrence cumulative (functions/sketches). The DuckDB oracle "
    "recomputes the exact side independently and expects est_ok TRUE — a "
    "drifting sketch flips the verdict and fails the hash. Union-merge "
    "identity + incremental snapshot store pinned in tests/test_sketches.py",
)
def q_hll_uniqueness(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.sketches import (
        cumulative_uniqueness,
        exact_cumulative_distinct,
        window_hll_sketches,
    )

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 500).cast("long").alias("window_id"), "user_id"
    )
    sk = window_hll_sketches(ev, "user_id", "window_id")
    est = cumulative_uniqueness(sk, "window_id")
    ex = exact_cumulative_distinct(ev, "user_id", "window_id")
    return ex.join(est, "window_id").select(
        "window_id",
        F.col("n_exact_cum").cast("long").alias("n_exact_cum"),
        (
            F.abs(F.col("est_cum").cast("double") - F.col("n_exact_cum"))
            <= 0.05 * F.col("n_exact_cum")
        ).alias("est_ok"),
    )


@register(
    "q_frequent_items",
    """
    WITH c AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS "window",
             event_type AS item, count(*) AS n
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    r AS (
      SELECT "window", item, n,
             row_number() OVER (PARTITION BY "window" ORDER BY n DESC, item) AS rank,
             CAST(sum(n) OVER (PARTITION BY "window") AS BIGINT) AS n_total
      FROM c
    )
    SELECT "window", item, n, rank, round(n / n_total, 6) AS share, n_total
    FROM r WHERE rank <= 5
    """,
    "EXACT per-window frequent items (Deequ FrequentItems/Histogram "
    "analyzer): top-5 by count with deterministic (count desc, item asc) "
    "ordering — the small-scale oracle twin of the Misra-Gries sketch path "
    "(functions/frequent.window_frequent_items)",
)
def q_frequent_items(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.frequent import window_frequent_items

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 500).alias("window_id"), "event_type"
    )
    return window_frequent_items(ev, "event_type", "window_id", top=5)


@register(
    "q_mg_frequent_items",
    """
    WITH src AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS "window",
             CASE WHEN event_id % 10 < 6 THEN 'hot'
                  ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS item
      FROM events
    ),
    c AS (SELECT "window", item, count(*) AS n FROM src GROUP BY 1, 2),
    r AS (
      SELECT "window", item, n,
             row_number() OVER (PARTITION BY "window" ORDER BY n DESC, item) AS rank,
             sum(n) OVER (PARTITION BY "window") AS n_total
      FROM c
    )
    SELECT "window", item, n, rank, round(n / n_total, 6) AS share,
           n / n_total > 1.0 / 5 AS guaranteed,
           TRUE AS ok
    FROM r WHERE rank <= 5
    """,
    "MISRA-GRIES frequent items under its own INVARIANTS as the oracle "
    "(the q_hll_uniqueness est_ok pattern — MG estimates are "
    "chunking-dependent, the guarantees are not): a planted 60%-hot-key "
    "column with 50 cold tail items forces real k=4 reductions; for the "
    "exact top-5 the engine emits ok = (n_exact - est)*(k+1) <= n_total, "
    "the undercount bound whose violation would also catch a missing "
    "guaranteed heavy hitter (est 0 blows the bound). DuckDB recomputes "
    "the exact side and expects ok TRUE everywhere "
    "(functions/frequent.mg_verified; chunking-invariance + store tests "
    "in tests/test_frequent.py)",
)
def q_mg_frequent_items(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.frequent import mg_verified

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 500).alias("window_id"),
        F.when(F.col("event_id") % 10 < 6, F.lit("hot"))
        .otherwise(F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")))
        .alias("item"),
    )
    return mg_verified(ev, "item", "window_id", k=4, top=5)


@register(
    "q_frequent_items_drift",
    """
    WITH src AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS w,
             CASE WHEN event_id % 10 < 6 THEN
                  (CASE WHEN event_id >= 5000 THEN 'hotB' ELSE 'hotA' END)
                  ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS item
      FROM events
    ),
    c AS (SELECT w, item, count(*) AS n FROM src GROUP BY 1, 2),
    refc AS (SELECT item, sum(n) AS rn FROM c WHERE w < 4 GROUP BY 1),
    reft AS (SELECT CAST(sum(rn) AS DOUBLE) AS rtot FROM refc),
    ranked AS (
      SELECT item, rn / rtot AS ref_share,
             row_number() OVER (ORDER BY rn DESC, item) AS rk
      FROM refc, reft
    ),
    topref AS (SELECT item, ref_share FROM ranked WHERE rk <= 3),
    cur AS (SELECT * FROM c WHERE w >= 4),
    wt AS (SELECT w, CAST(sum(n) AS DOUBLE) AS n_total FROM cur GROUP BY 1),
    l1 AS (
      SELECT wt.w,
             round(sum(abs(coalesce(cur.n, 0) / wt.n_total - tr.ref_share)), 6)
               AS l1
      FROM wt CROSS JOIN topref tr
      LEFT JOIN cur ON cur.w = wt.w AND cur.item = tr.item
      GROUP BY 1
    ),
    ent AS (
      SELECT w, item AS entrant_item, n,
             row_number() OVER (PARTITION BY w ORDER BY n DESC, item) AS rk
      FROM cur WHERE item NOT IN (SELECT item FROM topref)
    ),
    ent1 AS (
      SELECT e.w, e.entrant_item,
             round(e.n / wt.n_total, 6) AS entrant_share
      FROM ent e JOIN wt ON wt.w = e.w WHERE e.rk = 1
    )
    SELECT l1.w AS "window", l1.l1, ent1.entrant_item,
           coalesce(ent1.entrant_share, 0.0) AS entrant_share,
           CASE WHEN l1.l1 > 0.3 OR coalesce(ent1.entrant_share, 0.0) > 0.1
                THEN 'fail' ELSE 'pass' END AS verdict
    FROM l1 LEFT JOIN ent1 ON ent1.w = l1.w
    """,
    "top-item DRIFT per window ('did the heavy hitters change'): L1 share "
    "distance over the REFERENCE top set (deterministic universe — the "
    "categorical_drift rule) plus the largest NEW-ENTRANT share, which L1 "
    "over a fixed set is blind to. The planted hot-key SWAP at "
    "event_id >= 5000 makes windows >= 10 fail on a 0.6 entrant while "
    "windows 4-9 pass — both verdict paths exercised under the full oracle "
    "(functions/frequent.frequent_items_drift)",
)
def q_frequent_items_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.frequent import frequent_items_drift

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 500).alias("window_id"),
        F.when(
            F.col("event_id") % 10 < 6,
            F.when(F.col("event_id") >= 5000, F.lit("hotB")).otherwise(F.lit("hotA")),
        )
        .otherwise(F.concat(F.lit("u"), (F.col("user_id") % 50).cast("string")))
        .alias("item"),
    )
    return frequent_items_drift(
        ev, "item", "window_id", ref_windows=4, top=3,
        l1_threshold=0.3, entrant_threshold=0.1,
    )


@register(
    "q_ad_drift",
    """
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS r,
             CASE WHEN event_id % 2 = 1 THEN 1.0 ELSE 0.0 END AS c
      FROM events
    ),
    tot AS (SELECT sum(r) AS nr, sum(c) AS nc, sum(r) + sum(c) AS nn FROM s),
    g AS (SELECT v, sum(r) AS dr, sum(c) AS dc FROM s GROUP BY v),
    e AS (
      SELECT v, dr, dc, dr + dc AS l,
             sum(dr) OVER (ORDER BY v) AS cr,
             sum(dc) OVER (ORDER BY v) AS cc
      FROM g
    ),
    terms AS (
      SELECT (l / nn) * (
               pow(nn * (cr - dr / 2) - nr * (cr + cc - l / 2), 2) / nr
             + pow(nn * (cc - dc / 2) - nc * (cr + cc - l / 2), 2) / nc
             ) / ((cr + cc - l / 2) * (nn - (cr + cc - l / 2)) - nn * l / 4)
             AS term,
             nn
      FROM e, tot
      WHERE (cr + cc - l / 2) * (nn - (cr + cc - l / 2)) - nn * l / 4 > 0
    )
    SELECT round((max(nn) - 1) / max(nn) * sum(term), 6) AS ad_stat FROM terms
    """,
    "SURVEY.md §2.10 drift-kernel family: two-sample ANDERSON-DARLING "
    "A²akN (Scholz-Stephens 1987 tie-adjusted midrank form) — the "
    "tail-weighted EDF test completing the trio with KS (sup point) and "
    "CvM (integrated squared gap); the alarm for tail/scale drift both "
    "miss. Same scale shape as q_cvm_drift/q_wasserstein: distinct-value "
    "pre-agg (persisted), bucketed two-pass cumulative, one final "
    "aggregate. Kernel twin kernels.ad_2samp (pytest vs the independent "
    "continuous Pettitt rank formula on tie-free data + null≈1/shift/tie "
    "behavior)",
)
def q_ad_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.operators.windows import global_cumulative

    s = _t(spark, sf, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 2 == 0, 1.0).otherwise(0.0).alias("r"),
        F.when(F.col("event_id") % 2 == 1, 1.0).otherwise(0.0).alias("c"),
    )
    g = scoped(
        s.groupBy("v")
        .agg(F.sum("r").alias("dr"), F.sum("c").alias("dc"))
        .persist()  # events read ONCE (q_wasserstein rationale)
    )
    tot = g.agg(
        F.sum("dr").alias("nr"),
        F.sum("dc").alias("nc"),
        (F.sum("dr") + F.sum("dc")).alias("nn"),
    )
    cum = global_cumulative(
        g, bucket=F.floor(F.col("v")), order_cols=["v"], sums={"cr": "dr", "cc": "dc"}
    )
    l = F.col("dr") + F.col("dc")
    b_a = F.col("cr") + F.col("cc") - l / 2  # pooled midrank cumulative
    mr_a = F.col("cr") - F.col("dr") / 2
    mc_a = F.col("cc") - F.col("dc") / 2
    nn, nr, nc = F.col("nn"), F.col("nr"), F.col("nc")
    denom = b_a * (nn - b_a) - nn * l / 4
    term = (
        (l / nn)
        * (
            F.pow(nn * mr_a - nr * b_a, F.lit(2.0)) / nr
            + F.pow(nn * mc_a - nc * b_a, F.lit(2.0)) / nc
        )
        / denom
    )
    out = (
        cum.crossJoin(F.broadcast(tot))
        .filter(denom > 0)
        .agg(
            F.round(
                (F.max(nn) - 1) / F.max(nn) * F.sum(term), 6
            ).alias("ad_stat")
        )
    )
    return out


@register(
    "q_ewma_control",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS window_id, avg(value) AS x
      FROM events GROUP BY 1
    ),
    ref AS (SELECT avg(x) AS mu0, stddev(x) AS sd0 FROM s WHERE window_id < 4),
    z AS (
      SELECT a.window_id, a.x,
             0.2 * sum(pow(0.8, a.window_id - b.window_id) * b.x)
               + pow(0.8, a.window_id + 1) * max(mu0) AS z
      FROM s a JOIN s b ON b.window_id <= a.window_id, ref
      GROUP BY a.window_id, a.x
    ),
    lim AS (
      SELECT window_id, x, z,
             mu0 + 3 * sd0 * sqrt(0.2 / 1.8 * (1 - pow(0.8, 2 * (window_id + 1)))) AS ucl,
             mu0 - 3 * sd0 * sqrt(0.2 / 1.8 * (1 - pow(0.8, 2 * (window_id + 1)))) AS lcl,
             mu0
      FROM z, ref
    )
    SELECT window_id, round(x, 6) AS x, round(z, 6) AS z,
           round(ucl, 6) AS ucl, round(lcl, 6) AS lcl,
           (round(z, 6) > round(ucl, 6) OR round(z, 6) < round(lcl, 6)) AS signal
    FROM lim
    """,
    "SURVEY.md §2.10 extended: EWMA CONTROL CHART over the per-window "
    "mean-value series — the production-monitoring classic between Shewhart "
    "(memoryless) and CUSUM/Page-Hinkley (full memory): z_t = λx_t + "
    "(1−λ)z_{t−1}, z_0 = μ_ref, with time-varying ±L·σ_ref·"
    "sqrt(λ/(2−λ)(1−(1−λ)^{2t})) limits (λ=0.2, L=3). The recurrence is "
    "expanded EXACTLY as a geometric-weight prefix join over the "
    "O(windows)-by-construction series (contiguous window ids — both "
    "engines sum identical bounded-power terms; signals compare "
    "6dp-rounded values). Reference/limits derived relationally from the "
    "window_id < 4 reference era — no driver collect anywhere",
)
def q_ewma_control(spark: SparkSession, sf: str) -> DataFrame:
    lam, big_l, ref_w = 0.2, 3.0, 4
    s = scoped(
        _t(spark, sf, "events")
        .groupBy(F.floor(F.col("event_id") / 500).cast("long").alias("window_id"))
        .agg(F.avg("value").alias("x"))
        .persist()  # shared by the ref agg + both prefix-join sides
    )
    ref = s.filter(F.col("window_id") < ref_w).agg(
        F.avg("x").alias("mu0"), F.stddev("x").alias("sd0")
    )
    a, b = s.alias("a"), s.alias("b")
    z = (
        a.join(b, F.col("b.window_id") <= F.col("a.window_id"))
        .crossJoin(F.broadcast(ref))
        .groupBy(F.col("a.window_id").alias("window_id"), F.col("a.x").alias("x"))
        .agg(
            (
                lam
                * F.sum(
                    F.pow(
                        F.lit(1 - lam),
                        F.col("a.window_id") - F.col("b.window_id"),
                    )
                    * F.col("b.x")
                )
                + F.pow(F.lit(1 - lam), F.col("a.window_id") + 1) * F.max("mu0")
            ).alias("z")
        )
    )
    band = (
        F.lit(big_l)
        * F.col("sd0")
        * F.sqrt(
            F.lit(lam / (2 - lam))
            * (1 - F.pow(F.lit(1 - lam), 2 * (F.col("window_id") + 1)))
        )
    )
    lim = z.crossJoin(F.broadcast(ref)).select(
        "window_id",
        F.round("x", 6).alias("x"),
        F.round("z", 6).alias("z"),
        F.round(F.col("mu0") + band, 6).alias("ucl"),
        F.round(F.col("mu0") - band, 6).alias("lcl"),
    )

    out = lim.withColumn(
        "signal", (F.col("z") > F.col("ucl")) | (F.col("z") < F.col("lcl"))
    )
    return out


@register(
    "q_embedding_energy",
    """
    WITH ref AS (
      SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id < 400 AND vec_id % 2 = 0
    ),
    w AS (
      SELECT CAST(floor(vec_id / 100) AS INTEGER) AS window_id,
             CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    ),
    exy AS (
      SELECT window_id, avg(list_distance(w.e, ref.e)) AS t FROM w, ref GROUP BY 1
    ),
    exx AS (
      SELECT a.window_id, avg(list_distance(a.e, b.e)) AS t
      FROM w a JOIN w b USING (window_id) GROUP BY 1
    ),
    eyy AS (SELECT avg(list_distance(a.e, b.e)) AS t FROM ref a, ref b),
    n AS (SELECT window_id, count(*) AS n_rows FROM w GROUP BY 1)
    SELECT n.window_id, n.n_rows, n.n_rows AS n_vectors,
           round(2 * exy.t - exx.t - eyy.t, 6) AS energy,
           0.2 AS threshold,
           CASE WHEN round(2 * exy.t - exx.t - eyy.t, 6) > 0.2
                THEN 'fail' ELSE 'pass' END AS verdict
    FROM n JOIN exy USING (window_id) JOIN exx USING (window_id), eyy
    """,
    "the MULTIVARIATE embedding-drift surface VALUE-CHECKED end-to-end "
    "(SURVEY.md §2.10 / brief: embedding drift): drift.embedding_drift with "
    "kernel='energy' — per-window Székely-Rizzo energy distance vs the "
    "broadcast reference matrix. Unlike the MMD path (rows-only: the RBF "
    "median heuristic is data-dependent), the energy statistic is pure "
    "pairwise Euclidean means, so the WHOLE applyInPandas surface — "
    "sampler, per-window grouping, kernel, verdicts — lands under a DuckDB "
    "oracle (windows of 100 ≤ sample_cap ⇒ the rate-1 byte-identical "
    "path; verdicts re-derived from the 6dp-rounded statistic so both "
    "engines compare identical values; the operator's own unrounded "
    "verdict is pinned by tests/test_tfidf_embedding.py)",
)
def q_embedding_energy(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from al_drift_detection_spark.drift import embedding_drift

    emb = _t(spark, sf, "embeddings")
    ref_np = np.asarray(
        [
            r["embedding"]
            for r in emb.filter(
                (F.col("vec_id") < 400) & (F.col("vec_id") % 2 == 0)
            )
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    df = emb.select(
        F.floor(F.col("vec_id") / 100).cast("int").alias("window_id"), "embedding"
    )
    out = embedding_drift(df, ref_np, kernel="energy", mmd_threshold=0.2)
    e6 = F.round("energy", 6)
    return out.select(
        "window_id",
        "n_rows",
        "n_vectors",
        e6.alias("energy"),
        F.col("threshold"),
        F.when(e6 > 0.2, "fail").otherwise("pass").alias("verdict"),
    )


@register(
    "q_metric_anomaly",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 1000) AS INTEGER) AS w,
             count(*) AS n_rows,
             avg(value) AS v_avg,
             stddev_samp(value) AS v_std,
             CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS et_nulls
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT w, 'value' AS "column", 'avg' AS metric, v_avg AS value FROM s
      UNION ALL SELECT w, 'value', 'std', v_std FROM s
      UNION ALL SELECT w, '*', 'n_rows', CAST(n_rows AS DOUBLE) FROM s
      UNION ALL SELECT w, 'event_type', 'nulls', et_nulls FROM s
    ),
    hist AS (
      SELECT "column", metric, count(*) AS n_hist, avg(value) AS hist_mean,
             stddev_samp(value) AS hist_std, arg_max(value, w) AS prev_value
      FROM m WHERE w < 9 GROUP BY 1, 2
    ),
    cur AS (SELECT "column", metric, value FROM m WHERE w = 9)
    SELECT CAST(0 AS INTEGER) AS part, c."column", c.metric,
           round(c.value, 6) AS value, 'zscore' AS strategy,
           round(h.hist_mean, 6) AS baseline,
           round(CASE WHEN h.hist_std > 0
                 THEN abs(c.value - h.hist_mean) / h.hist_std END, 6) AS stat,
           3.0 AS threshold, coalesce(h.n_hist, 0) AS n_hist,
           CASE WHEN coalesce(h.n_hist, 0) < 2 THEN 'insufficient'
                WHEN h.hist_std > 0 THEN
                  CASE WHEN round(abs(c.value - h.hist_mean) / h.hist_std, 6) > 3.0
                       THEN 'fail' ELSE 'pass' END
                ELSE CASE WHEN round(c.value, 6) = round(h.hist_mean, 6)
                          THEN 'pass' ELSE 'fail' END
           END AS verdict
    FROM cur c LEFT JOIN hist h USING ("column", metric)
    UNION ALL
    SELECT CAST(0 AS INTEGER), c."column", c.metric,
           round(c.value, 6), 'rel_change',
           round(h.prev_value, 6),
           round(CASE WHEN h.prev_value != 0 THEN abs(c.value / h.prev_value - 1)
                      WHEN c.value = 0 THEN 0.0 END, 6),
           0.25, coalesce(h.n_hist, 0),
           CASE WHEN coalesce(h.n_hist, 0) < 1 THEN 'insufficient'
                WHEN round(CASE WHEN h.prev_value != 0
                                THEN abs(c.value / h.prev_value - 1)
                                WHEN c.value = 0 THEN 0.0 END, 6) > 0.25
                     OR (h.prev_value = 0 AND c.value != 0) THEN 'fail'
                ELSE 'pass' END
    FROM cur c LEFT JOIN hist h USING ("column", metric)
    UNION ALL
    SELECT CAST(0 AS INTEGER), c."column", c.metric,
           round(c.value, 6), 'abs_bounds', b.lo,
           round(c.value, 6), b.hi, CAST(0 AS BIGINT),
           CASE WHEN round(c.value, 6) BETWEEN b.lo AND b.hi
                THEN 'pass' ELSE 'fail' END
    FROM cur c
    JOIN (VALUES ('value', 'avg', 0.0, 1000.0), ('*', 'n_rows', 900.0, 1100.0))
         AS b("column", metric, lo, hi)
      ON c."column" = b."column" AND c.metric = b.metric
    """,
    "METRIC-HISTORY anomaly validation (functions/anomaly.anomaly_verdicts "
    "— the Deequ metrics-repository pattern, public design): the newest "
    "ingest's per-window stat rows (stats.melt_stats long contract, "
    "SURVEY.md §2.4 A13 / S8 metrics sink) scored against the trailing "
    "history of prior ingests under three stacked strategies — zscore vs "
    "history mean/std, rel_change vs the previous run (max_by ordering), "
    "and configured abs_bounds. History folds to ONE row per series key "
    "and broadcast-joins the current frame; no raw re-scan. Verdicts "
    "re-derived from 6dp-rounded statistics so both engines compare "
    "identical values; planted-shift + store replay behavior pinned in "
    "tests/test_anomaly.py",
)
def q_metric_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.anomaly import anomaly_verdicts

    ev = _t(spark, sf, "events")
    s = ev.groupBy(
        F.floor(F.col("event_id") / 1000).cast("int").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("value").alias("v_avg"),
        F.stddev_samp("value").alias("v_std"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("et_nulls"),
    )
    m = s.selectExpr(
        "w",
        "cast(0 as int) as part",
        "stack(4, 'value', 'avg', v_avg, 'value', 'std', v_std, "
        "'*', 'n_rows', cast(n_rows as double), "
        "'event_type', 'nulls', et_nulls) as (column, metric, value)",
    )
    out = anomaly_verdicts(
        m.filter(F.col("w") < 9),
        m.filter(F.col("w") == 9),
        keys=("part", "column", "metric"),
        order_col="w",
        k_sigma=3.0,
        max_rel=0.25,
        bounds=[("value", "avg", 0.0, 1000.0), ("*", "n_rows", 900.0, 1100.0)],
    )
    stat6, v6, b6 = F.round("stat", 6), F.round("value", 6), F.round("baseline", 6)
    verdict6 = (
        F.when(F.col("verdict") == "insufficient", "insufficient")
        .when(
            F.col("strategy") == "zscore",
            F.when(stat6.isNull(), F.when(v6 == b6, "pass").otherwise("fail"))
            .when(stat6 > 3.0, "fail")
            .otherwise("pass"),
        )
        .when(
            F.col("strategy") == "rel_change",
            F.when(stat6.isNull() | (stat6 > 0.25), "fail").otherwise("pass"),
        )
        .otherwise(
            F.when(v6.between(b6, F.col("threshold")), "pass").otherwise("fail")
        )
    )

    return out.select(
        "part",
        "column",
        "metric",
        v6.alias("value"),
        "strategy",
        b6.alias("baseline"),
        stat6.alias("stat"),
        "threshold",
        "n_hist",
        verdict6.alias("verdict"),
    )


@register(
    "q_seasonal_anomaly",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS w,
             count(*) AS n_rows, avg(value) AS v_avg
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT w, 0 AS part, 'value' AS "column", 'seasonal_mean' AS metric,
             v_avg + (w % 4) * 50.0 AS value FROM s
      UNION ALL
      SELECT w, 0, 'value', 'shifted_mean',
             v_avg + (w % 4) * 50.0
               + CASE WHEN w = 19 THEN 500.0 ELSE 0.0 END FROM s
      UNION ALL
      SELECT w, 0, '*', 'n_rows', CAST(n_rows AS DOUBLE) FROM s
      UNION ALL
      SELECT w, 0, 'value', 'late_mean', v_avg FROM s WHERE w >= 17
    ),
    hist AS (
      SELECT part, "column", metric, w % 4 AS slot, value
      FROM m WHERE w < 19
    ),
    sm AS (
      SELECT part, "column", metric, slot,
             count(*) AS n_slot, avg(value) AS slot_mean
      FROM hist GROUP BY 1, 2, 3, 4
    ),
    rs AS (
      SELECT h.part, h."column", h.metric,
             stddev_samp(h.value - s.slot_mean) AS resid_sd
      FROM hist h JOIN sm s USING (part, "column", metric, slot)
      GROUP BY 1, 2, 3
    ),
    cur AS (SELECT part, "column", metric, value FROM m WHERE w = 19)
    SELECT c.part, c."column", c.metric, round(c.value, 6) AS value,
           'seasonal' AS strategy, round(s.slot_mean, 6) AS baseline,
           round(CASE WHEN r.resid_sd > 0
                 THEN abs(c.value - s.slot_mean) / r.resid_sd END, 6) AS stat,
           3.0 AS threshold,
           coalesce(s.n_slot, 0) AS n_hist,
           CASE WHEN coalesce(s.n_slot, 0) < 2 OR r.resid_sd IS NULL
                THEN 'insufficient'
                WHEN r.resid_sd > 0 THEN
                  CASE WHEN round(abs(c.value - s.slot_mean) / r.resid_sd, 6)
                            > 3.0
                       THEN 'fail' ELSE 'pass' END
                ELSE CASE WHEN round(c.value, 6) = round(s.slot_mean, 6)
                          THEN 'pass' ELSE 'fail' END
           END AS verdict
    FROM cur c
    LEFT JOIN (SELECT * FROM sm WHERE slot = 3) s USING (part, "column", metric)
    LEFT JOIN rs r USING (part, "column", metric)
    """,
    "SEASONAL anomaly strategy over the metrics repository (functions/"
    "anomaly.seasonal_anomaly — the Deequ HoltWinters use case in closed "
    "relational form, SURVEY.md §2.4 A13 / S8 metrics sink): each run is "
    "scored against the slot it occupies in the cycle (slot = run mod 4), "
    "baseline = slot mean, scale = pooled std of the DESEASONALIZED "
    "history. Four verdict paths under the full oracle: a strongly "
    "seasonal series the current run fits (pass — a plain zscore would "
    "fail every in-cycle peak), a planted +500 shift (fail), a constant "
    "series (resid_sd = 0 zscore-edge pass), and a 2-run-old series whose "
    "current slot has no history (insufficient). Two groupBys over the "
    "O(runs x series) store rows, slot frame broadcast both ways",
)
def q_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.anomaly import seasonal_anomaly

    ev = _t(spark, sf, "events")
    s = ev.groupBy(
        F.floor(F.col("event_id") / 500).cast("long").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.avg("value").alias("v_avg"),
    )
    seas = F.col("v_avg") + F.pmod(F.col("w"), F.lit(4)) * 50.0
    m = (
        s.select(
            "w", F.lit(0).alias("part"), F.lit("value").alias("column"),
            F.lit("seasonal_mean").alias("metric"), seas.alias("value"),
        )
        .unionByName(
            s.select(
                "w", F.lit(0).alias("part"), F.lit("value").alias("column"),
                F.lit("shifted_mean").alias("metric"),
                (seas + F.when(F.col("w") == 19, 500.0).otherwise(0.0))
                .alias("value"),
            )
        )
        .unionByName(
            s.select(
                "w", F.lit(0).alias("part"), F.lit("*").alias("column"),
                F.lit("n_rows").alias("metric"),
                F.col("n_rows").cast("double").alias("value"),
            )
        )
        .unionByName(
            s.filter(F.col("w") >= 17).select(
                "w", F.lit(0).alias("part"), F.lit("value").alias("column"),
                F.lit("late_mean").alias("metric"),
                F.col("v_avg").alias("value"),
            )
        )
    )
    out = seasonal_anomaly(
        m.filter(F.col("w") < 19),
        m.filter(F.col("w") == 19),
        run_ts=19,
        period=4,
        keys=("part", "column", "metric"),
        order_col="w",
        k_sigma=3.0,
        min_cycles=2,
    )
    # verdicts re-derived from 6dp-rounded statistics so both engines
    # compare identical values (the q_metric_anomaly convention)
    stat6, v6, b6 = F.round("stat", 6), F.round("value", 6), F.round("baseline", 6)
    verdict6 = (
        F.when(F.col("verdict") == "insufficient", "insufficient")
        .when(
            stat6.isNotNull(),
            F.when(stat6 > 3.0, "fail").otherwise("pass"),
        )
        .otherwise(F.when(v6 == b6, "pass").otherwise("fail"))
    )

    return out.select(
        "part", "column", "metric", v6.alias("value"), "strategy",
        b6.alias("baseline"), stat6.alias("stat"), "threshold",
        "n_hist", verdict6.alias("verdict"),
    )


@register(
    "q_suggest_constraints",
    """
    WITH p AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
             count(DISTINCT doc_id) AS doc_id_distinct,
             CAST(min(doc_id) AS DOUBLE) AS doc_id_min,
             CAST(max(doc_id) AS DOUBLE) AS doc_id_max,
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
             count(DISTINCT n_chars) AS n_chars_distinct,
             CAST(min(n_chars) AS DOUBLE) AS n_chars_min,
             CAST(max(n_chars) AS DOUBLE) AS n_chars_max,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
             count(DISTINCT text) AS text_distinct,
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
             count(DISTINCT lang) AS lang_distinct,
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
             count(DISTINCT source) AS source_distinct
      FROM documents
    ),
    lv AS (SELECT string_agg(x, ',' ORDER BY x) AS vals
           FROM (SELECT DISTINCT lang AS x FROM documents WHERE lang IS NOT NULL)),
    sv AS (SELECT string_agg(x, ',' ORDER BY x) AS vals
           FROM (SELECT DISTINCT source AS x FROM documents WHERE source IS NOT NULL))
    SELECT 'doc_id' AS "column", 'not_null' AS "check",
           CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
           CAST(NULL AS VARCHAR) AS "values",
           n_rows, doc_id_nulls AS n_nulls, doc_id_distinct AS n_distinct
    FROM p WHERE doc_id_nulls = 0 AND n_rows > 0
    UNION ALL
    SELECT 'doc_id', 'between', doc_id_min, doc_id_max, NULL,
           n_rows, doc_id_nulls, doc_id_distinct FROM p
    UNION ALL
    SELECT 'doc_id', 'unique', NULL, NULL, NULL,
           n_rows, doc_id_nulls, doc_id_distinct
    FROM p WHERE doc_id_nulls = 0 AND n_rows > 0 AND doc_id_distinct = n_rows
    UNION ALL
    SELECT 'n_chars', 'not_null', NULL, NULL, NULL,
           n_rows, n_chars_nulls, n_chars_distinct
    FROM p WHERE n_chars_nulls = 0 AND n_rows > 0
    UNION ALL
    SELECT 'n_chars', 'between', n_chars_min, n_chars_max, NULL,
           n_rows, n_chars_nulls, n_chars_distinct FROM p
    UNION ALL
    SELECT 'n_chars', 'unique', NULL, NULL, NULL,
           n_rows, n_chars_nulls, n_chars_distinct
    FROM p WHERE n_chars_nulls = 0 AND n_rows > 0 AND n_chars_distinct = n_rows
    UNION ALL
    SELECT 'text', 'not_null', NULL, NULL, NULL, n_rows, text_nulls, text_distinct
    FROM p WHERE text_nulls = 0 AND n_rows > 0
    UNION ALL
    SELECT 'text', 'in_set', NULL, NULL,
           (SELECT string_agg(x, ',' ORDER BY x)
            FROM (SELECT DISTINCT text AS x FROM documents WHERE text IS NOT NULL)),
           n_rows, text_nulls, text_distinct
    FROM p WHERE text_distinct BETWEEN 1 AND 20
    UNION ALL
    SELECT 'text', 'unique', NULL, NULL, NULL, n_rows, text_nulls, text_distinct
    FROM p WHERE text_nulls = 0 AND n_rows > 0 AND text_distinct = n_rows
    UNION ALL
    SELECT 'lang', 'not_null', NULL, NULL, NULL, n_rows, lang_nulls, lang_distinct
    FROM p WHERE lang_nulls = 0 AND n_rows > 0
    UNION ALL
    SELECT 'lang', 'in_set', NULL, NULL, lv.vals, n_rows, lang_nulls, lang_distinct
    FROM p, lv WHERE lang_distinct BETWEEN 1 AND 20
    UNION ALL
    SELECT 'lang', 'unique', NULL, NULL, NULL, n_rows, lang_nulls, lang_distinct
    FROM p WHERE lang_nulls = 0 AND n_rows > 0 AND lang_distinct = n_rows
    UNION ALL
    SELECT 'source', 'not_null', NULL, NULL, NULL,
           n_rows, source_nulls, source_distinct
    FROM p WHERE source_nulls = 0 AND n_rows > 0
    UNION ALL
    SELECT 'source', 'in_set', NULL, NULL, sv.vals,
           n_rows, source_nulls, source_distinct
    FROM p, sv WHERE source_distinct BETWEEN 1 AND 20
    UNION ALL
    SELECT 'source', 'unique', NULL, NULL, NULL,
           n_rows, source_nulls, source_distinct
    FROM p WHERE source_nulls = 0 AND n_rows > 0 AND source_distinct = n_rows
    """,
    "CONSTRAINT SUGGESTION from a one-pass table profile (profile.py — the "
    "Deequ ConstraintSuggestion pattern, public design; the reference "
    "hand-codes its constraint dict, SURVEY.md §2.1 S6): per column of the "
    "documents table, suggest not_null (0 nulls), in_set (string, distinct "
    "≤ 20 — values collected ONLY after the cardinality gate, driver memory "
    "bounded), between (numeric min/max), unique (0 nulls ∧ exact distinct "
    "= n_rows). Gate entry runs exact_distinct=True so every decision is "
    "ANSI-reproducible; the 100 TB path profiles with HLL estimates and "
    "confirms unique candidates exactly in the bounded second pass. "
    "Self-consistency (suggested suite passes on the profiled table, "
    "catches planted corruption on the next ingest) pinned in "
    "tests/test_profile.py",
)
def q_suggest_constraints(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.profile import suggest_checks, suggestions_df

    docs = _t(spark, sf, "documents")
    _, rows = suggest_checks(
        docs,
        columns=["doc_id", "text", "lang", "source", "n_chars"],
        max_set_card=20,
        exact_distinct=True,
    )
    return suggestions_df(spark, rows)


@register(
    "q_histogram_quantiles",
    """
    WITH src AS (
      SELECT CAST(floor(event_id / 1000) AS BIGINT) AS "window",
             CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT "window",
             CASE WHEN x < 0.0 THEN -1
                  WHEN x >= 200.0 THEN 100
                  ELSE least(CAST(floor((x - 0.0) / 2.0) AS INTEGER), 99)
             END AS bin,
             count(*) AS n
      FROM src GROUP BY 1, 2
    ),
    c AS (
      SELECT "window", bin, n,
             sum(n) OVER (PARTITION BY "window" ORDER BY bin) AS cum_n,
             sum(n) OVER (PARTITION BY "window") AS total
      FROM b
    ),
    q AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q),
    j AS (
      SELECT c."window", q.q, c.bin, c.n, c.cum_n, c.total,
             row_number() OVER (PARTITION BY c."window", q.q ORDER BY c.bin) AS rn
      FROM c JOIN q ON c.cum_n >= q.q * c.total
    )
    SELECT "window", q,
           round(CASE WHEN bin < 0 THEN 0.0
                      WHEN bin >= 100 THEN 200.0
                      ELSE 0.0 + (bin + CASE WHEN n > 0
                                   THEN (q * total - (cum_n - n)) / n
                                   ELSE 0.0 END) * 2.0
                 END, 6) AS quantile,
           CAST(total AS BIGINT) AS n_total
    FROM j WHERE rn = 1
    """,
    "MERGEABLE fixed-grid histogram sketches answering per-window quantiles "
    "from sketch rows alone (functions/histograms.py — the engine's "
    "mergeable-quantile layer; completes the incremental-store trio with "
    "the HLL uniqueness store and the metrics repository, closing "
    "stats.global_rollup's documented 'quantile sketches are NOT mergeable' "
    "gap). Long-format (window, bin, n) rows over a REFERENCE-derived grid "
    "(the deterministic-universe rule drift.categorical_drift uses): build "
    "= one groupBy(window, bin) pass, merge = sum(n) — lossless; answers = "
    "bounded ordered cumulative over ≤ n_bins+2 aggregated rows + linear "
    "interpolation (error ≤ bin width, pinned vs exact percentile in "
    "tests/test_histograms.py; store replay + merge-equals-one-shot pinned "
    "there too). Overflow mass saturates to the grid edge by contract",
)
def q_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.histograms import (
        histogram_quantiles,
        window_histograms,
    )

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 1000).cast("long").alias("w"), "value"
    )
    h = window_histograms(ev, "value", "w", 0.0, 200.0, n_bins=100)
    out = histogram_quantiles(h, [0.25, 0.5, 0.75, 0.95], 0.0, 200.0, n_bins=100)
    return out.select(
        "window", "q", F.round("quantile", 6).alias("quantile"), "n_total"
    )


@register(
    "q_histogram_drift",
    """
    WITH src AS (
      SELECT CAST(floor(event_id / 1000) AS BIGINT) AS w,
             CAST(value AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL
    ),
    hb AS (
      SELECT w,
             CASE WHEN x < 0.0 THEN -1
                  WHEN x >= 200.0 THEN 100
                  ELSE least(CAST(floor((x - 0.0) / 2.0) AS INTEGER), 99)
             END AS bin,
             count(*) AS n
      FROM src GROUP BY 1, 2
    ),
    grid AS (SELECT unnest(range(-1, 101)) AS bin),
    ref AS (SELECT bin, sum(n) AS rn FROM hb WHERE w < 5 GROUP BY 1),
    rtot AS (SELECT sum(rn) AS r_tot FROM ref),
    rf AS (
      SELECT g.bin, coalesce(ref.rn, 0) AS rn, rtot.r_tot
      FROM grid g LEFT JOIN ref USING (bin), rtot
    ),
    cur AS (SELECT w, bin, sum(n) AS cn FROM hb WHERE w >= 5 GROUP BY 1, 2),
    wins AS (SELECT DISTINCT w FROM cur),
    cf AS (
      SELECT wins.w, g.bin, coalesce(cur.cn, 0) AS cn
      FROM wins CROSS JOIN grid g
      LEFT JOIN cur ON cur.w = wins.w AND cur.bin = g.bin
    ),
    ct AS (SELECT w, sum(cn) AS c_tot FROM cf GROUP BY 1),
    terms AS (
      SELECT cf.w, cf.bin,
             (cn / c_tot + 0.000001) / (1 + 0.000001 * 102) AS qs,
             (rn / r_tot + 0.000001) / (1 + 0.000001 * 102) AS ps,
             cn / c_tot - rn / r_tot AS gap
      FROM cf JOIN ct USING (w) JOIN rf ON rf.bin = cf.bin
    ),
    agg AS (
      SELECT w,
             sum((qs - ps) * ln(qs / ps)) AS psi,
             max(abs(cum_gap)) AS ks
      FROM (SELECT w, qs, ps,
                   sum(gap) OVER (PARTITION BY w ORDER BY bin) AS cum_gap
            FROM terms)
      GROUP BY 1
    )
    SELECT w AS "window", 'psi' AS kernel, round(psi, 6) AS statistic,
           0.2 AS threshold,
           CASE WHEN round(psi, 6) > 0.2 THEN 'fail' ELSE 'pass' END AS verdict
    FROM agg
    UNION ALL
    SELECT w, 'hist_ks', round(ks, 6), 0.1,
           CASE WHEN round(ks, 6) > 0.1 THEN 'fail' ELSE 'pass' END
    FROM agg
    """,
    "DISTRIBUTION DRIFT FROM SKETCH ROWS ALONE (histograms.histogram_drift "
    "— PSI + histogram-KS per window vs the merged reference histogram): "
    "composed with the snapshot store this answers 'did today's ingest "
    "drift vs the corpus reference' with zero raw-row work — O(windows × "
    "bins) relational ops over the mergeable fixed-grid sketches "
    "(q_histogram_quantiles' family; the incremental twin of the in-window "
    "q_psi_fixed_bins raw-scan kernel). Deterministic grid universe "
    "(sequence −1..n_bins), additive smoothing replicated exactly in SQL, "
    "verdicts re-derived from 6dp-rounded statistics in both engines; "
    "planted-shift + store-composition behavior pinned in "
    "tests/test_histograms.py",
)
def q_histogram_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.histograms import (
        histogram_drift,
        window_histograms,
    )

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 1000).cast("long").alias("w"), "value"
    )
    h = window_histograms(ev, "value", "w", 0.0, 200.0, n_bins=100)
    out = histogram_drift(h, ref_windows=5, n_bins=100)
    s6 = F.round("statistic", 6)
    return out.select(
        "window",
        "kernel",
        s6.alias("statistic"),
        "threshold",
        F.when(s6 > F.col("threshold"), "fail").otherwise("pass").alias("verdict"),
    )


@register(
    "q_corr_drift",
    """
    WITH src AS (
      SELECT CAST(floor(l_orderkey / 1875) AS BIGINT) AS window_id,
             CAST(l_quantity AS DOUBLE) AS a,
             CAST(l_extendedprice AS DOUBLE) AS b
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    m AS (
      SELECT window_id, CAST(count(*) AS DOUBLE) AS n,
             sum(a) AS sa, sum(b) AS sb, sum(a * b) AS sab,
             sum(a * a) AS saa, sum(b * b) AS sbb
      FROM src GROUP BY 1
    ),
    r AS (
      SELECT sum(n) AS n, sum(sa) AS sa, sum(sb) AS sb,
             sum(sab) AS sab, sum(saa) AS saa, sum(sbb) AS sbb
      FROM m WHERE window_id < 4
    ),
    rc AS (
      SELECT (n * sab - sa * sb)
             / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) AS ref_corr
      FROM r
    ),
    w AS (
      SELECT m.window_id, m.n,
             CASE WHEN (m.n * m.saa - m.sa * m.sa)
                       * (m.n * m.sbb - m.sb * m.sb) > 0
                  THEN (m.n * m.sab - m.sa * m.sb)
                       / sqrt((m.n * m.saa - m.sa * m.sa)
                              * (m.n * m.sbb - m.sb * m.sb))
             END AS corr,
             rc.ref_corr
      FROM m, rc
    )
    SELECT window_id, CAST(n AS BIGINT) AS n,
           round(corr, 6) AS corr,
           round(ref_corr, 6) AS ref_corr,
           round(abs(corr - ref_corr), 6) AS abs_diff,
           CASE WHEN corr IS NULL THEN 'fail'
                WHEN round(abs(corr - ref_corr), 6) > 0.05 THEN 'fail'
                ELSE 'pass' END AS verdict
    FROM w
    """,
    "Cross-column CORRELATION drift (health.correlation_drift): per-window "
    "Pearson r(l_quantity, l_extendedprice) vs the reference windows' r — "
    "the joint-structure check the per-column kernels can't see. r from "
    "MERGEABLE sufficient moments (n, Σa, Σb, Σab, Σa², Σb²): one "
    "partial+final pass builds the O(windows) moment frame, the reference "
    "folds from SUMMED moments (raw table scans exactly once — the "
    "histogram-store merge discipline). Degenerate windows → NULL corr → "
    "'fail'; degenerate reference raises. Verdicts re-derived from "
    "6dp-rounded statistics in both engines; planted joint-break behavior "
    "pinned in tests/test_health.py",
)
def q_corr_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import correlation_drift

    li = _t(spark, sf, "lineitem").select(
        F.floor(F.col("l_orderkey") / 1875).cast("long").alias("window_id"),
        "l_quantity",
        "l_extendedprice",
    )
    out = correlation_drift(
        li, "l_quantity", "l_extendedprice",
        ref_filter=F.col("window_id") < 4, max_abs_diff=0.05,
    )
    c6, r6, d6 = F.round("corr", 6), F.round("ref_corr", 6), F.round("abs_diff", 6)
    return out.select(
        "window_id",
        "n",
        c6.alias("corr"),
        r6.alias("ref_corr"),
        d6.alias("abs_diff"),
        F.when(c6.isNull(), "fail")
        .when(d6 > 0.05, "fail")
        .otherwise("pass")
        .alias("verdict"),
    )


@register(
    "q_hist_distances",
    """
    WITH b AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
             least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bin
      FROM events
    ),
    c AS (SELECT side, bin, count(*)::DOUBLE AS n FROM b GROUP BY 1, 2),
    t AS (SELECT side, sum(n) AS tot FROM c GROUP BY 1),
    p AS (
      SELECT bin,
             coalesce(max(CASE WHEN c.side = 'ref' THEN n / tot END), 0) AS pr,
             coalesce(max(CASE WHEN c.side = 'cur' THEN n / tot END), 0) AS pc
      FROM c JOIN t USING (side) GROUP BY bin
    )
    SELECT round(sqrt(0.5 * sum((sqrt(pr) - sqrt(pc)) * (sqrt(pr) - sqrt(pc)))), 6)
             AS hellinger,
           round(0.5 * sum(abs(pr - pc)), 6) AS total_variation,
           round(sum(sqrt(pr * pc)), 6) AS bhattacharyya
    FROM p
    """,
    "BOUNDED histogram drift distances with fixed bins (Hellinger / "
    "total-variation / Bhattacharyya overlap; H2 = 1 - BC) — the "
    "[0,1]-bounded end of the SURVEY.md S2.10 drift-kernel family "
    "(ref's windowed drift vote, gan.py:737-757): PSI needs eps clipping "
    "on empty bins, these have no log-ratio singularity, so corrupted "
    "windows cannot emit unbounded scores. Same one-scan bin/side "
    "aggregate shape as q_psi_fixed_bins (ref=even/cur=odd event ids); "
    "a bin empty on one side contributes its full mass loss. Kernel twin "
    "kernels.hist_distances (quantile-bin form, pytest vs direct numpy "
    "histograms in tests/test_kernels.py)",
)
def q_hist_distances(spark: SparkSession, sf: str) -> DataFrame:

    b = _t(spark, sf, "events").select(
        F.when(F.col("event_id") % 2 == 0, "ref").otherwise("cur").alias("side"),
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("long"), F.lit(0)), F.lit(9)
        ).alias("bin"),
    )
    # the bin-count frame feeds both the side totals and the proportion join
    # (the shared-child rule — unpersisted, the raw scan executes twice)
    c = scoped(
        b.groupBy("side", "bin").agg(F.count(F.lit(1)).cast("double").alias("n")).persist()
    )
    t = c.groupBy("side").agg(F.sum("n").alias("tot"))
    p = (
        c.join(t, "side")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("side") == "ref", F.col("n") / F.col("tot"))),
                F.lit(0.0),
            ).alias("pr"),
            F.coalesce(
                F.max(F.when(F.col("side") == "cur", F.col("n") / F.col("tot"))),
                F.lit(0.0),
            ).alias("pc"),
        )
    )
    sp, sc = F.sqrt(F.col("pr")), F.sqrt(F.col("pc"))
    return p.agg(
        F.round(F.sqrt(0.5 * F.sum((sp - sc) * (sp - sc))), 6).alias("hellinger"),
        F.round(0.5 * F.sum(F.abs(F.col("pr") - F.col("pc"))), 6).alias(
            "total_variation"
        ),
        F.round(F.sum(F.sqrt(F.col("pr") * F.col("pc"))), 6).alias("bhattacharyya"),
    )


@register(
    "q_cusum",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS window_id, avg(value) AS x
      FROM events GROUP BY 1
    ),
    ref AS (
      SELECT avg(x) AS mu, 0.5 * coalesce(stddev(x), 0) AS k
      FROM s WHERE window_id < 10
    ),
    c AS (
      SELECT window_id, x, mu, k,
             sum(x - mu - k) OVER w AS ci,
             sum(mu - x - k) OVER w AS cd
      FROM s, ref
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    r AS (
      SELECT window_id, x, mu, k,
             ci - least(0, min(ci) OVER w) AS s_inc,
             cd - least(0, min(cd) OVER w) AS s_dec
      FROM c
      WINDOW w AS (ORDER BY window_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT window_id, round(x, 6) AS x, round(mu, 6) AS mu, round(k, 6) AS k,
           round(s_inc, 6) AS s_inc, round(s_dec, 6) AS s_dec,
           (round(s_inc, 6) > 25.0 OR round(s_dec, 6) > 25.0) AS alarm
    FROM r
    """,
    "SURVEY.md S2.10 extended: two-sided tabular CUSUM (Page 1954) over the "
    "per-window mean-value metric series, baselined on the REFERENCE prefix "
    "(mu0/k from windows < 10 — the ref detector's pre-drift baseline it "
    "retrains from, gan.py:161-170). Completes the sequential-detector "
    "family: PH tests vs the running mean, DDM vs the binomial error "
    "register, CUSUM vs a known in-control level. The max(0, ...) recursion "
    "runs in its closed prefix form (cumsum - clamped cummin) over the "
    "O(windows) series — identical construction in both engines; alarms "
    "re-derived from 6dp-rounded statistics. Kernel twin "
    "kernels.cusum_2sided (closed form == recursion, planted-shift alarms "
    "pinned in tests/test_changepoint.py)",
)
def q_cusum(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.changepoint import cusum_levels

    series = (
        _t(spark, sf, "events")
        .groupBy(F.floor(F.col("event_id") / 500).cast("long").alias("window_id"))
        .agg(F.avg("value").alias("x"))
    )
    out = cusum_levels(series, "window_id", "x", ref_upto=10, threshold=25.0)
    si, sd = F.round("s_inc", 6), F.round("s_dec", 6)
    return out.select(
        "window_id",
        F.round("x", 6).alias("x"),
        F.round("mu", 6).alias("mu"),
        F.round("k", 6).alias("k"),
        si.alias("s_inc"),
        sd.alias("s_dec"),
        ((si > 25.0) | (sd > 25.0)).alias("alarm"),
    )


@register(
    "q_mutual_information",
    """
    WITH s AS (
      SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b
      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
    ),
    j AS (SELECT a, b, count(*)::DOUBLE AS nab FROM s GROUP BY 1, 2),
    pa AS (SELECT a, sum(nab) AS na FROM j GROUP BY 1),
    pb AS (SELECT b, sum(nab) AS nb FROM j GROUP BY 1),
    t AS (
      SELECT sum(nab) AS tot,
             count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
      FROM j
    ),
    g AS (
      SELECT pa.na, pb.nb, coalesce(j.nab, 0) AS nab, t.tot, t.ka, t.kb
      FROM pa CROSS JOIN pb
      LEFT JOIN j ON j.a = pa.a AND j.b = pb.b
      CROSS JOIN t
    )
    SELECT CAST(max(tot) AS BIGINT) AS n,
           CAST(max(ka) AS INTEGER) AS ka,
           CAST(max(kb) AS INTEGER) AS kb,
           round(sum(CASE WHEN nab > 0
                          THEN nab / tot * ln(nab * tot / (na * nb))
                          ELSE 0 END), 6) AS mi,
           round(CASE WHEN least(max(ka), max(kb)) > 1
                      THEN sqrt(sum((nab - na * nb / tot) * (nab - na * nb / tot)
                                    / (na * nb / tot))
                                / (max(tot) * (least(max(ka), max(kb)) - 1)))
                 END, 6) AS cramers_v
    FROM g
    """,
    "categorical ASSOCIATION analyzer (Deequ MutualInformation, public "
    "design; SURVEY.md S2.4 stat family): mutual information (nats) + "
    "Cramer's V between documents.lang and documents.source — the "
    "categorical sibling of q_corr_drift's joint-structure check (marginals "
    "can hold while the PAIRING breaks; every per-column kernel is blind to "
    "it). One raw shuffle builds the persisted joint contingency; marginals, "
    "the FULL ka x kb grid (zero cells carry expected chi2 mass), MI and V "
    "all fold from that O(ka*kb) frame with broadcast joins "
    "(health.categorical_association; planted dependence/independence "
    "pinned in tests/test_health.py)",
)
def q_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import categorical_association

    out = categorical_association(_t(spark, sf, "documents"), "lang", "source")
    return out.select(
        "n", "ka", "kb",
        F.round("mi", 6).alias("mi"),
        F.round("cramers_v", 6).alias("cramers_v"),
    )


@register(
    "q_association_drift",
    """
    WITH s AS (
      SELECT CAST(floor(event_id / 2000) AS BIGINT) AS window_id,
             CASE WHEN event_type IN ('click','purchase','signup','view')
                  THEN event_type ELSE '(other)' END AS a,
             CAST(CAST(least(floor(value / 50), 4) AS BIGINT) AS VARCHAR) AS b
      FROM events
    ),
    j AS (SELECT window_id, a, b, count(*)::DOUBLE AS nab FROM s GROUP BY 1, 2, 3),
    r AS (SELECT a, b, sum(nab) AS nab FROM j WHERE window_id < 2 GROUP BY 1, 2),
    rt AS (SELECT sum(nab) AS t FROM r),
    ra AS (SELECT a, sum(nab) AS na FROM r GROUP BY 1),
    rb AS (SELECT b, sum(nab) AS nb FROM r GROUP BY 1),
    rmi AS (
      SELECT sum(CASE WHEN r.nab > 0 THEN r.nab / t * ln(r.nab * t / (na * nb))
                      ELSE 0 END) AS ref_mi
      FROM r JOIN ra USING (a) JOIN rb USING (b), rt
    ),
    ma AS (SELECT window_id, a, sum(nab) AS na FROM j GROUP BY 1, 2),
    mb AS (SELECT window_id, b, sum(nab) AS nb FROM j GROUP BY 1, 2),
    tw AS (SELECT window_id, sum(nab) AS n,
                  count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
           FROM j GROUP BY 1),
    g AS (
      SELECT ma.window_id, coalesce(j.nab, 0) AS nab, ma.na, mb.nb,
             tw.n, tw.ka, tw.kb
      FROM ma JOIN mb USING (window_id)
      LEFT JOIN j ON j.window_id = ma.window_id AND j.a = ma.a AND j.b = mb.b
      JOIN tw ON tw.window_id = ma.window_id
    ),
    p AS (
      SELECT window_id, CAST(max(n) AS BIGINT) AS n,
             sum(CASE WHEN nab > 0 THEN nab / n * ln(nab * n / (na * nb))
                      ELSE 0 END) AS mi,
             CASE WHEN least(max(ka), max(kb)) > 1
                  THEN sqrt(sum((nab - na * nb / n) * (nab - na * nb / n)
                                / (na * nb / n))
                            / (max(n) * (least(max(ka), max(kb)) - 1)))
             END AS cramers_v
      FROM g GROUP BY 1
    )
    SELECT window_id, n, round(mi, 6) AS mi, round(ref_mi, 6) AS ref_mi,
           round(abs(mi - ref_mi), 6) AS abs_diff,
           round(cramers_v, 6) AS cramers_v,
           CASE WHEN round(abs(mi - ref_mi), 6) > 0.05 THEN 'fail'
                ELSE 'pass' END AS verdict
    FROM p, rmi
    """,
    "per-window ASSOCIATION drift (health.association_drift): each window's "
    "mutual information between event_type and the value bucket vs the "
    "reference windows' MI (folded from SUMMED joint counts — lossless "
    "merge) — the categorical x categorical twin of q_corr_drift's "
    "joint-structure verdict. DETERMINISTIC universes (fixed cats + "
    "'(other)' catch-all, the categorical_drift rule: verdicts depend only "
    "on the window's own rows, the grid is bounded on corrupted columns). "
    "One groupBy(window, a, b) shuffle; marginals/totals/MI/chi2 fold from "
    "the persisted O(windows*ka*kb) frame. Verdicts re-derived from "
    "6dp-rounded statistics in both engines; planted pairing-break pinned "
    "in tests/test_health.py",
)
def q_association_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import association_drift

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 2000).cast("long").alias("window_id"),
        "event_type",
        F.least(F.floor(F.col("value") / 50), F.lit(4))
        .cast("long")
        .cast("string")
        .alias("vbucket"),
    )
    out = association_drift(
        ev, "event_type", "vbucket",
        cats_a=["click", "purchase", "signup", "view"],
        cats_b=["0", "1", "2", "3", "4"],
        ref_filter=F.col("window_id") < 2,
        max_abs_diff=0.05,
    )
    m6, r6, d6, v6 = (
        F.round("mi", 6), F.round("ref_mi", 6),
        F.round("abs_diff", 6), F.round("cramers_v", 6),
    )
    return out.select(
        "window_id",
        "n",
        m6.alias("mi"),
        r6.alias("ref_mi"),
        d6.alias("abs_diff"),
        v6.alias("cramers_v"),
        F.when(d6 > 0.05, "fail").otherwise("pass").alias("verdict"),
    )


@register(
    "q_benford",
    """
    WITH v AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND l_extendedprice >= 1 AND l_extendedprice < 1e9
    ),
    d AS (
      SELECT CAST(floor(x / (
               CASE WHEN x >= 1e8 THEN 1e8 WHEN x >= 1e7 THEN 1e7
                    WHEN x >= 1e6 THEN 1e6 WHEN x >= 1e5 THEN 1e5
                    WHEN x >= 1e4 THEN 1e4 WHEN x >= 1e3 THEN 1e3
                    WHEN x >= 1e2 THEN 1e2 WHEN x >= 1e1 THEN 1e1
                    ELSE 1e0 END)) AS BIGINT) AS digit,
             count(*)::DOUBLE AS o
      FROM v GROUP BY 1
    ),
    t AS (SELECT sum(o) AS n FROM d),
    g AS (
      SELECT dg.digit, coalesce(d.o, 0) AS o, n,
             log10(1.0 + 1.0 / dg.digit) AS p
      FROM (SELECT unnest(range(1, 10)) AS digit) dg
      LEFT JOIN d ON d.digit = dg.digit, t
    )
    SELECT CAST(digit AS BIGINT) AS digit, CAST(o AS BIGINT) AS observed,
           round(o / n, 6) AS observed_p, round(p, 6) AS benford_p,
           round((o - n * p) * (o - n * p) / (n * p), 6) AS chi2_term
    FROM g
    """,
    "Benford first-significant-digit SHAPE constraint (data-audit / "
    "fraud-screen family, public design) on l_extendedprice: observed "
    "first-digit distribution vs log10(1+1/d) with per-digit chi2 terms "
    "(fixed 9-row grid, zero digits carry expected mass; p-value via "
    "kernels.chi2_sf at dof=8 in the pytest — the q_chi2_drift precedent). "
    "First digit from a power-of-ten comparison LADDER, never "
    "floor(log10(x)) — libm log10 can flip a digit across engines at "
    "magnitude boundaries (health.benford_digit_counts; Benford-conforming "
    "log-uniform sample PASSES / uniform data FAILS pinned in "
    "tests/test_health.py)",
)
def q_benford(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import benford_digit_counts

    out = benford_digit_counts(_t(spark, sf, "lineitem"), "l_extendedprice")
    return out.select(
        "digit",
        "observed",
        F.round("observed_p", 6).alias("observed_p"),
        F.round("benford_p", 6).alias("benford_p"),
        F.round("chi2_term", 6).alias("chi2_term"),
    )


@register(
    "q_referential_drift",
    """
    WITH k AS (SELECT DISTINCT c_custkey AS dk FROM customer),
    f AS (
      SELECT CAST(floor(event_id / 2000) AS BIGINT) AS window_id, user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    w AS (
      SELECT window_id, count(*)::DOUBLE AS n,
             CAST(sum(CASE WHEN dk IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               AS orphans
      FROM f LEFT JOIN k ON f.user_id = k.dk GROUP BY 1
    ),
    r AS (
      SELECT sum(orphans) / greatest(sum(n), 1) AS ref_rate
      FROM w WHERE window_id < 2
    )
    SELECT window_id, CAST(n AS BIGINT) AS n,
           CAST(orphans AS BIGINT) AS orphans,
           round(orphans / n, 6) AS rate, round(ref_rate, 6) AS ref_rate,
           CASE WHEN round(orphans / n, 6) - round(ref_rate, 6) > 0.05
                THEN 'fail' ELSE 'pass' END AS verdict
    FROM w, r
    """,
    "per-window REFERENTIAL-integrity drift (health.referential_drift): "
    "each window's orphan rate of events.user_id vs the customer dimension, "
    "compared to the reference windows' rate — the windowed-verdict form of "
    "the suite's one-shot referential check (north_star 'phash referential "
    "checks against a broadcast reference set'; SURVEY.md S2.3 J4 anti-join "
    "family). Broadcast distinct dim keys, ONE fact groupBy(window) fold, "
    "reference rate from the persisted O(windows) frame's SUMMED counts. "
    "NULL fact keys excluded (SQL FK semantics). All-clean synthetic data "
    "-> all pass (no false positives); planted orphan surge pinned in "
    "tests/test_health.py",
)
def q_referential_drift(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import referential_drift

    ev = _t(spark, sf, "events").select(
        F.floor(F.col("event_id") / 2000).cast("long").alias("window_id"),
        "user_id",
    )
    out = referential_drift(
        ev, "user_id", _t(spark, sf, "customer"), "c_custkey",
        ref_filter=F.col("window_id") < 2, max_abs_jump=0.05,
    )
    r6, rr6 = F.round("rate", 6), F.round("ref_rate", 6)
    return out.select(
        "window_id",
        "n",
        "orphans",
        r6.alias("rate"),
        rr6.alias("ref_rate"),
        F.when(r6 - rr6 > 0.05, "fail").otherwise("pass").alias("verdict"),
    )


@register(
    "q_store_changepoint",
    """
    WITH s AS (
      SELECT 0 AS part, event_type AS "column", 'mean' AS metric,
             avg(value) AS value,
             CAST(floor(event_id / 500) AS BIGINT) AS run_ts,
             'r' || CAST(CAST(floor(event_id / 500) AS BIGINT) AS VARCHAR)
               AS run_id
      FROM events GROUP BY event_type, floor(event_id / 500)
    ),
    sc AS (
      SELECT part, "column", metric, count(*) AS nr,
             coalesce(nullif(stddev(value), 0), 1) AS sd
      FROM s GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT s.part, s."column", s.metric, s.run_ts, s.run_id,
             s.value / sd AS x
      FROM s JOIN sc USING (part, "column", metric) WHERE nr >= 5
    ),
    m AS (
      SELECT *, avg(x) OVER w AS cum_mean FROM d
      WINDOW w AS (PARTITION BY part, "column", metric ORDER BY run_ts, run_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    p AS (
      SELECT *, sum(x - cum_mean - 0.05) OVER w AS mt_inc,
                sum(x - cum_mean + 0.05) OVER w AS mt_dec
      FROM m
      WINDOW w AS (PARTITION BY part, "column", metric ORDER BY run_ts, run_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    q AS (
      SELECT *, mt_inc - min(mt_inc) OVER w AS ph_inc,
                max(mt_dec) OVER w - mt_dec AS ph_dec
      FROM p
      WINDOW w AS (PARTITION BY part, "column", metric ORDER BY run_ts, run_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT part, "column", metric, run_id, run_ts, round(x, 6) AS x,
           round(ph_inc, 6) AS ph_inc, round(ph_dec, 6) AS ph_dec,
           (round(ph_inc, 6) > 4.0 OR round(ph_dec, 6) > 4.0) AS alarm
    FROM q
    """,
    "cross-run metrics-repository changepoint (anomaly.store_changepoint; "
    "the --metrics-store --changepoint surface): two-sided Page-Hinkley per "
    "(part, column, metric) SERIES over the run history, each series "
    "standardized by its own sample std, < min_runs series excluded. The "
    "'store' here is a deterministic per-(event_type, run-window) mean "
    "series derived from events, so the PARTITIONED ordered-window fold is "
    "value-checked end-to-end in DuckDB (alarms re-derived from 6dp-rounded "
    "statistics in both engines); planted level-shift behavior pinned in "
    "tests/test_anomaly.py",
)
def q_store_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.anomaly import store_changepoint

    w = F.floor(F.col("event_id") / 500).cast("long")
    hist = (
        _t(spark, sf, "events")
        .groupBy(F.col("event_type"), w.alias("run_ts"))
        .agg(F.avg("value").alias("value"))
        .select(
            F.lit(0).alias("part"),
            F.col("event_type").alias("column"),
            F.lit("mean").alias("metric"),
            "value",
            "run_ts",
            F.concat(F.lit("r"), F.col("run_ts").cast("string")).alias("run_id"),
        )
    )
    out = store_changepoint(hist, delta=0.05, threshold=4.0, min_runs=5)
    pi, pdn = F.round("ph_inc", 6), F.round("ph_dec", 6)
    return out.select(
        "part",
        "column",
        "metric",
        "run_id",
        "run_ts",
        F.round("x", 6).alias("x"),
        pi.alias("ph_inc"),
        pdn.alias("ph_dec"),
        ((pi > 4.0) | (pdn > 4.0)).alias("alarm"),
    )


_CMS_PARAMS = {"depth": 3, "width": 64, "win": 2000, "top": 8}


def _cms_oracle_sql() -> str:
    """FULL DuckDB oracle for q_cms_point_estimates — the q_ivf_topk lazy
    technique applied to the count-min sketch: the sketch is deterministic
    given the data (bucket = pmod(xxhash64(key, r), width), replicated
    bit-exactly by operators/xxh64_replica), so the key->bucket mapping for
    the table's distinct keys is embedded as SQL literals and DuckDB
    rebuilds the ENTIRE pipeline — cells, point query (min over hash rows,
    absent cell = 0), exact twin, and the overcount column — value-checked
    end-to-end. Literal size is O(distinct keys x depth); the oracle gate
    runs at sf0.01 (150 user_ids -> 450 literal rows)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from al_drift_detection_spark.operators.xxh64_replica import xxhash64_long_int

    P = _CMS_PARAMS
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf}/events.parquet", columns=["user_id"])
    keys = np.unique(t.column("user_id").to_numpy())
    vals = ", ".join(
        f"({int(k)}, {r}, {int(xxhash64_long_int(np.array([k]), r)[0] % P['width'])})"
        for k in keys
        for r in range(P["depth"])
    )
    return f"""
    WITH m(user_id, r, bucket) AS (VALUES {vals}),
    e AS (
      SELECT CAST(floor(event_id / {P["win"]}) AS BIGINT) AS w, user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    cells AS (
      SELECT e.w, m.r, m.bucket, count(*) AS cnt
      FROM e JOIN m USING (user_id) GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT user_id FROM e GROUP BY 1
      ORDER BY count(*) DESC, user_id LIMIT {P["top"]}
    ),
    grid AS (
      SELECT w.w, m.user_id, m.r, m.bucket
      FROM (SELECT DISTINCT w FROM e) w
      CROSS JOIN (SELECT m.* FROM m JOIN cand USING (user_id)) m
    ),
    est AS (
      SELECT g.w, g.user_id,
             CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
      FROM grid g LEFT JOIN cells c
        ON c.w = g.w AND c.r = g.r AND c.bucket = g.bucket
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT w, user_id, count(*) AS n FROM e
      WHERE user_id IN (SELECT user_id FROM cand) GROUP BY 1, 2
    )
    SELECT est.w, est.user_id, est.est,
           CAST(coalesce(exact.n, 0) AS BIGINT) AS n_exact,
           CAST(est.est - coalesce(exact.n, 0) AS BIGINT) AS overcount
    FROM est LEFT JOIN exact ON exact.w = est.w AND exact.user_id = est.user_id
    """


@register(
    "q_cms_point_estimates",
    _cms_oracle_sql,
    "Count-min sketch point queries (functions/cms.py — the point-query "
    "sibling of the Misra-Gries frequent-items analyzer; SURVEY.md §2.4 A3 "
    "approximate twin / A13 one-pass sketches; bounded-summary analog of "
    "gan.py:400-413): per-window sparse CMS over user_id (depth 3 x width "
    "64 — 150 keys in 64 buckets force real collisions), estimates for the "
    "global top-8 keys from the CELLS alone, with the exact twin and the "
    "overcount (>= 0 by the CMS one-sided guarantee) in-row. FULL lazy "
    "DuckDB oracle: the key->bucket mapping is embedded as literals via "
    "the bit-exact xxhash64 replica, so build, merge, probe and overcount "
    "are all value-checked. Store/merge/compaction in tests/test_cms.py",
)
def q_cms_point_estimates(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.cms import (
        cms_cells,
        cms_point_estimates,
    )

    P = _CMS_PARAMS
    ev = (
        _t(spark, sf, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.floor(F.col("event_id") / P["win"]).cast("long").alias("w"),
            "user_id",
        )
    )
    cells = cms_cells(ev, "user_id", "w", depth=P["depth"], width=P["width"])
    cand = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "user_id")
        .limit(P["top"])
        .select("user_id")
    )
    est = cms_point_estimates(
        cells, cand, "user_id", "w", depth=P["depth"], width=P["width"]
    )
    exact = (
        ev.join(F.broadcast(cand), "user_id")
        .groupBy("w", "user_id")
        .agg(F.count(F.lit(1)).alias("_nx"))
    )

    out = est.join(exact, ["w", "user_id"], "left").select(
        "w",
        "user_id",
        "est",
        F.coalesce("_nx", F.lit(0)).cast("long").alias("n_exact"),
        (F.col("est") - F.coalesce("_nx", F.lit(0))).cast("long").alias("overcount"),
    )
    return out


_BLOOM_PARAMS = {"n_bits": 16384, "n_hashes": 5, "win": 4000}


def _bloom_oracle_sql() -> str:
    """FULL DuckDB oracle for q_bloom_referential — the CMS lazy technique
    on the membership surface: each key's k bit positions
    (pmod(xxhash64(key, r), n_bits), bit-exact via operators/xxh64_replica)
    are embedded as list literals, DuckDB rebuilds the filter (occupied =
    dim keys' positions) and reproduces n_bloom_missing EXACTLY — both the
    no-false-negative invariant and the fp_missed count are value-checked,
    not bounded. Literal size is O(distinct keys); the gate runs at sf0.01
    (1.5k customer keys)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from al_drift_detection_spark.operators.xxh64_replica import xxhash64_long_int

    P = _BLOOM_PARAMS
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    ck = pq.read_table(f"{sf}/customer.parquet", columns=["c_custkey"])
    ok = pq.read_table(f"{sf}/orders.parquet", columns=["o_custkey"])
    keys = np.unique(
        np.concatenate(
            [ck.column("c_custkey").to_numpy(), ok.column("o_custkey").to_numpy()]
        )
    )
    pos = [xxhash64_long_int(keys, r) % P["n_bits"] for r in range(P["n_hashes"])]
    vals = ", ".join(
        f"({int(k)}, [{', '.join(str(int(pos[r][j])) for r in range(P['n_hashes']))}])"
        for j, k in enumerate(keys)
    )
    return f"""
    WITH m(k, ps) AS (VALUES {vals}),
    mu AS (SELECT k, unnest(ps) AS p FROM m),
    dim AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 7 <> 3),
    occ AS (SELECT DISTINCT p FROM mu JOIN dim USING (k)),
    km AS (
      SELECT mu.k, bool_and(occ.p IS NOT NULL) AS member
      FROM mu LEFT JOIN occ USING (p) GROUP BY mu.k
    ),
    f AS (
      SELECT CAST(floor(o_orderkey / {P["win"]}) AS BIGINT) AS w, o_custkey AS k
      FROM orders WHERE o_custkey IS NOT NULL
    )
    SELECT f.w,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN dim.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_missing,
           CAST(sum(CASE WHEN NOT km.member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_missing,
           CAST(sum(CASE WHEN dim.k IS NULL AND km.member THEN 1 ELSE 0 END)
                AS BIGINT) AS fp_missed
    FROM f JOIN km USING (k) LEFT JOIN dim USING (k)
    GROUP BY 1
    """


@register(
    "q_bloom_referential",
    _bloom_oracle_sql,
    "Bloom-filter referential membership (functions/bloom.py — SURVEY.md "
    "§2.3 J4 at 100 TB; membership-gate analog of gan.py's known-drift "
    "filtering, SURVEY §2.1 S7): a dimension too large to broadcast as raw "
    "keys ships as BITS (one bounded bit_or aggregate, one-row broadcast, "
    "zero fact-side shuffle); flagged rows are DEFINITE violations (no "
    "false negatives), fp_missed counts true violations hidden by "
    "collisions. Planted removal: customers with c_custkey % 7 == 3 leave "
    "the dimension, so ~14% of orders violate. FULL lazy DuckDB oracle "
    "(key->positions literals via the xxhash64 replica) reproduces "
    "n_bloom_missing exactly; forced-collision + invariant tests in "
    "tests/test_bloom.py",
)
def q_bloom_referential(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.bloom import bloom_referential_counts

    P = _BLOOM_PARAMS
    fact = _t(spark, sf, "orders").select(
        F.floor(F.col("o_orderkey") / P["win"]).cast("long").alias("w"),
        "o_custkey",
    )
    dim = _t(spark, sf, "customer").filter(F.col("c_custkey") % 7 != 3)
    return bloom_referential_counts(
        fact, dim, "o_custkey", "c_custkey", "w",
        n_bits=P["n_bits"], n_hashes=P["n_hashes"],
    )


@register(
    "q_sliced_drift",
    """
    WITH base AS (
      SELECT CAST(floor(event_id / 1000) AS BIGINT) AS w,
             coalesce(event_type, '(null)') AS s,
             value + CASE WHEN event_type = 'click'
                           AND event_id >= 5000 THEN 120.0 ELSE 0.0 END AS v
      FROM events WHERE value IS NOT NULL
    ),
    rng AS (SELECT min(v) AS lo, max(v) AS hi FROM base WHERE w < 5),
    top AS (
      SELECT s FROM base WHERE w < 5 GROUP BY s
      ORDER BY count(*) DESC, s LIMIT 5
    ),
    binned AS (
      SELECT w, (w < 5) AS is_ref,
             CASE WHEN s IN (SELECT s FROM top) THEN s ELSE '(other)' END AS s,
             CASE WHEN hi > lo THEN
               least(greatest(CAST(floor((v - lo) / ((hi - lo) / 10)) AS BIGINT),
                              0), 9)
             ELSE 0 END AS b
      FROM base, rng
    ),
    refc AS (SELECT s, b, count(*)::DOUBLE AS rn FROM binned WHERE is_ref GROUP BY 1, 2),
    reft AS (SELECT s, sum(rn) AS rt FROM refc GROUP BY 1),
    curc AS (SELECT w, s, b, count(*)::DOUBLE AS cn FROM binned WHERE NOT is_ref GROUP BY 1, 2, 3),
    curt AS (SELECT w, s, sum(cn) AS ct FROM curc GROUP BY 1, 2),
    uni AS (SELECT s FROM top UNION ALL SELECT '(other)'),
    cells AS (
      SELECT wn.w, uni.s, gs.b
      FROM (SELECT DISTINCT w FROM binned WHERE NOT is_ref) wn
      CROSS JOIN uni CROSS JOIN (SELECT unnest(range(10)) AS b) gs
    ),
    per AS (
      SELECT c.w, c.s,
             CAST(coalesce(max(curt.ct), 0) AS BIGINT) AS n_cur,
             sum((greatest(coalesce(curc.cn / curt.ct, 0), 0.0001)
                  - greatest(coalesce(refc.rn / reft.rt, 0), 0.0001))
                 * ln(greatest(coalesce(curc.cn / curt.ct, 0), 0.0001)
                      / greatest(coalesce(refc.rn / reft.rt, 0), 0.0001))) AS psi_raw
      FROM cells c
      LEFT JOIN refc ON refc.s = c.s AND refc.b = c.b
      LEFT JOIN reft ON reft.s = c.s
      LEFT JOIN curc ON curc.w = c.w AND curc.s = c.s AND curc.b = c.b
      LEFT JOIN curt ON curt.w = c.w AND curt.s = c.s
      GROUP BY 1, 2
    ),
    r AS (
      SELECT w, s AS slice, n_cur,
             CASE WHEN n_cur > 0 THEN round(psi_raw, 6) END AS psi
      FROM per
    )
    SELECT w, slice, n_cur, psi,
           CAST(row_number() OVER (PARTITION BY w ORDER BY psi DESC NULLS LAST, slice)
                AS INT) AS rank,
           CASE WHEN n_cur = 0 THEN 'no_data'
                WHEN n_cur < 50 THEN 'insufficient'
                WHEN psi > 0.2 THEN 'fail' ELSE 'pass' END AS verdict
    FROM r
    """,
    "Per-slice drift drill-down (functions/slices.py — SURVEY.md §2.7 W8 "
    "x §2.4 A14; per-cohort-baseline discipline of gan.py's per-orbit "
    "scoring): PSI per (slice, window) vs the SLICE'S OWN reference "
    "distribution over a ref-derived fixed bin grid, deterministic slice "
    "universe (ref top-5 + '(other)' — the categorical_drift rule; the "
    "empty catch-all exercises the no_data verdict), planted +120 shift on "
    "the 'click' slice in windows >= 5 that the drill-down must "
    "attribute: click rank 1 / fail, every other slice pass. FULL oracle "
    "value-checking counts, psi, rank and verdict (rank/verdict "
    "re-derived from 6dp-rounded psi on both engines)",
)
def q_sliced_drift(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W
    from al_drift_detection_spark.functions.slices import sliced_psi_drift

    ev = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("event_id") / 1000).cast("long").alias("w"),
            "event_type",
            (
                F.col("value")
                + F.when(
                    (F.col("event_type") == "click") & (F.col("event_id") >= 5000),
                    120.0,
                ).otherwise(0.0)
            ).alias("v"),
        )
    )
    out = sliced_psi_drift(
        ev, "v", "event_type", "w", ref_filter=F.col("w") < 5,
        bins=10, max_slices=5, threshold=0.2,
    )
    psi6 = F.round("psi", 6)
    rk = W.partitionBy("w").orderBy(psi6.desc_nulls_last(), "slice")
    return out.select(
        "w", "slice", "n_cur", psi6.alias("psi"),
        F.row_number().over(rk).alias("rank"),
        F.when(F.col("n_cur") == 0, "no_data")
        .when(F.col("n_cur") < 50, "insufficient")
        .when(psi6 > 0.2, "fail")
        .otherwise("pass")
        .alias("verdict"),
    )


_KMV_PARAMS = {"k": 64, "win": 2000}


def _kmv_oracle_sql() -> str:
    """FULL DuckDB oracle for q_kmv_retention: each key's xxhash64 is
    embedded as a literal (operators/xxh64_replica.xxhash64_long — the
    single-column path), so DuckDB rebuilds the per-window KMV sketches,
    the coordinated union sample, the Jaccard ESTIMATE itself and the exact
    twin. Two literals per distinct user_id (base + churned key)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from al_drift_detection_spark.operators.xxh64_replica import xxhash64_long

    P = _KMV_PARAMS
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf}/events.parquet", columns=["user_id"])
    keys = np.unique(t.column("user_id").to_numpy())
    hb = xxhash64_long(keys)
    hs = xxhash64_long(keys + 1000)
    vals = ", ".join(
        f"({int(k)}, {int(b)}, {int(s)})" for k, b, s in zip(keys, hb, hs)
    )
    return f"""
    WITH m(u, hb, hs) AS (VALUES {vals}),
    e AS (
      SELECT CAST(floor(event_id / {P["win"]}) AS BIGINT) AS w, user_id AS u
      FROM events WHERE user_id IS NOT NULL
    ),
    d AS (
      SELECT DISTINCT w,
             CASE WHEN u % 3 = 0 AND w >= 3 THEN hs ELSE hb END AS h,
             CASE WHEN u % 3 = 0 AND w >= 3 THEN u + 1000 ELSE u END AS key
      FROM e JOIN m USING (u)
    ),
    sk AS (
      SELECT w, h FROM (
        SELECT w, h, row_number() OVER (PARTITION BY w ORDER BY h) AS rn FROM d
      ) WHERE rn <= {P["k"]}
    ),
    wins AS (SELECT DISTINCT w FROM sk),
    pairs AS (SELECT a.w AS p FROM wins a JOIN wins b ON b.w = a.w + 1),
    u2 AS (
      SELECT p, h, max(ina) AS ina, max(inb) AS inb FROM (
        SELECT pairs.p, h, 1 AS ina, 0 AS inb FROM sk JOIN pairs ON pairs.p = sk.w
        UNION ALL
        SELECT pairs.p, h, 0, 1 FROM sk JOIN pairs ON pairs.p = sk.w - 1
      ) GROUP BY 1, 2
    ),
    samp AS (
      SELECT p, ina, inb FROM (
        SELECT p, ina, inb, row_number() OVER (PARTITION BY p ORDER BY h) AS rn
        FROM u2
      ) WHERE rn <= {P["k"]}
    ),
    est AS (
      SELECT p, CAST(count(*) AS BIGINT) AS k_used,
             CAST(sum(ina * inb) AS BIGINT) AS n_both
      FROM samp GROUP BY 1
    ),
    ex AS (
      SELECT p, CAST(sum(ina) AS BIGINT) AS n_a, CAST(sum(inb) AS BIGINT) AS n_b,
             CAST(sum(ina * inb) AS BIGINT) AS n_overlap
      FROM (
        SELECT p, key, max(ina) AS ina, max(inb) AS inb FROM (
          SELECT pairs.p, key, 1 AS ina, 0 AS inb
          FROM d JOIN pairs ON pairs.p = d.w
          UNION ALL
          SELECT pairs.p, key, 0, 1 FROM d JOIN pairs ON pairs.p = d.w - 1
        ) GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT est.p AS w, est.p + 1 AS w_next, k_used, n_both,
           round(n_both / CAST(k_used AS DOUBLE), 6) AS jaccard_est,
           n_a, n_b, n_overlap,
           round(n_overlap / CAST(n_a + n_b - n_overlap AS DOUBLE), 6)
             AS jaccard_exact
    FROM est JOIN ex ON ex.p = est.p
    """


@register(
    "q_kmv_retention",
    _kmv_oracle_sql,
    "KMV cross-window overlap / retention (functions/kmv.py — SURVEY.md "
    "§2.4 A2's set-INTERSECTION form, the operation HLL unions cannot "
    "answer; population-overlap analog of gan.py:385-420's "
    "recurring-vs-new regime question): per consecutive window pair, "
    "Jaccard estimated from the k=64 smallest xxhash64 values "
    "(coordinated union sample) next to the exact twin. Planted churn — "
    "every user_id % 3 == 0 changes identity from window 3 on — drops the "
    "(2,3) pair's overlap to ~0.5 while the others stay ~1.0. FULL lazy "
    "DuckDB oracle (key->hash literals via the single-column xxhash64 "
    "replica) value-checks sketch ranks, the coordinated sample, and the "
    "estimate itself; estimator properties in tests/test_kmv.py",
)
def q_kmv_retention(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.kmv import (
        exact_pair_overlap,
        kmv_pair_overlap,
        kmv_sketches,
    )

    P = _KMV_PARAMS
    ev = (
        _t(spark, sf, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.floor(F.col("event_id") / P["win"]).cast("long").alias("w"),
            "user_id",
        )
        .select(
            "w",
            F.when(
                (F.col("user_id") % 3 == 0) & (F.col("w") >= 3),
                F.col("user_id") + 1000,
            )
            .otherwise(F.col("user_id"))
            .alias("key"),
        )
    )

    est = kmv_pair_overlap(kmv_sketches(ev, "key", "w", k=P["k"]), "w", k=P["k"])
    ex = exact_pair_overlap(ev, "key", "w")
    out = est.join(ex.drop("w_next"), "w").select(
        "w", "w_next", "k_used", "n_both",
        F.round("jaccard_est", 6).alias("jaccard_est"),
        "n_a", "n_b", "n_overlap",
        F.round("jaccard_exact", 6).alias("jaccard_exact"),
    )
    return out


@register(
    "q_conditional_completeness",
    """
    WITH src AS (
      SELECT doc_id % 6 AS w, coalesce(lang, '(null)') AS s,
             CASE WHEN doc_id % 11 = 0
                   OR (doc_id % 6 >= 4 AND lang = 'en' AND doc_id % 5 < 3)
                  THEN 1.0 ELSE 0.0 END AS isn
      FROM documents
    ),
    stats AS (
      SELECT s, count(*) AS n, sum(isn) AS nn FROM src WHERE w < 3 GROUP BY 1
    ),
    top AS (SELECT s FROM stats ORDER BY n DESC, s LIMIT 3),
    refs AS (
      SELECT s, nn / n AS rr FROM stats WHERE s IN (SELECT s FROM top)
      UNION ALL
      SELECT '(other)', coalesce(sum(nn) / sum(n), 0.0)
      FROM stats WHERE s NOT IN (SELECT s FROM top)
    ),
    cur AS (
      SELECT w,
             CASE WHEN s IN (SELECT s FROM top) THEN s ELSE '(other)' END AS s,
             count(*) AS nc, sum(isn) AS cn
      FROM src WHERE w >= 3 GROUP BY 1, 2
    ),
    uni AS (SELECT s FROM top UNION ALL SELECT '(other)'),
    cells AS (
      SELECT g.w, u.s FROM (SELECT DISTINCT w FROM cur) g CROSS JOIN uni u
    )
    SELECT c.w, c.s AS category,
           CAST(coalesce(cur.nc, 0) AS BIGINT) AS n_cur,
           round(cur.cn / cur.nc, 6) AS null_ratio,
           round(refs.rr, 6) AS ref_ratio,
           round(cur.cn / cur.nc - refs.rr, 6) AS delta,
           CASE WHEN coalesce(cur.nc, 0) = 0 THEN 'no_data'
                WHEN cur.nc < 5 THEN 'insufficient'
                WHEN cur.cn / cur.nc - refs.rr > 0.2 THEN 'fail'
                ELSE 'pass' END AS verdict
    FROM cells c
    LEFT JOIN cur ON cur.w = c.w AND cur.s = c.s
    LEFT JOIN refs ON refs.s = c.s
    """,
    "Conditional completeness drill-down (functions/health."
    "conditional_completeness_drift — SURVEY.md §2.2 P1 completeness "
    "family x §2.4 A14 grouping; Deequ's completeness().where() "
    "conditional analyzer; per-cohort baseline discipline of "
    "gan.py:723-757): null-ratio of a value column per (lang category x "
    "window) vs the CATEGORY'S OWN reference ratio, deterministic "
    "ref-top-3 + '(other)' universe. Planted: baseline nulls everywhere "
    "(doc_id % 11), plus 'en' going ~58% null in windows >= 4 (modulus "
    "coprime to the window modulus — % 2 would alias with % 6 and plant "
    "all-or-nothing windows) — 'en' fails exactly in windows 4-5 while "
    "the global ratio moves ~25%pt only inside one category. FULL oracle "
    "value-checking counts, ratios, deltas and verdicts",
)
def q_conditional_completeness(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.health import (
        conditional_completeness_drift,
    )

    d = F.col("doc_id")
    docs = _t(spark, sf, "documents").select(
        (d % 6).alias("w"),
        "lang",
        F.when(
            (d % 11 == 0)
            | ((d % 6 >= 4) & (F.col("lang") == "en") & (d % 5 < 3)),
            None,
        )
        .otherwise(F.col("n_chars"))
        .alias("v"),
    )
    return conditional_completeness_drift(
        docs,
        "lang",
        "v",
        "w",
        ref_filter=F.col("w") < 3,
        threshold=0.2,
        max_categories=3,
        min_rows=5,
    )


@register(
    "q_trend",
    """
    WITH hist AS (
      SELECT 0 AS part, event_type AS "column", 'mean' AS metric,
             avg(value
                 + CASE WHEN event_type = 'click' THEN event_id / 400.0 ELSE 0.0 END
                 - CASE WHEN event_type = 'error' THEN event_id / 400.0 ELSE 0.0 END
             ) AS value,
             CAST(floor(event_id / 500) AS BIGINT) AS run_ts
      FROM events
      GROUP BY event_type, floor(event_id / 500)
    ),
    pairs AS (
      SELECT a.part, a."column", a.metric,
             CASE WHEN b.value > a.value THEN 1
                  WHEN b.value < a.value THEN -1 ELSE 0 END AS sgn,
             (b.value - a.value) / (b.run_ts - a.run_ts) AS slope
      FROM hist a
      JOIN hist b ON a.part = b.part AND a."column" = b."column"
                 AND a.metric = b.metric AND a.run_ts < b.run_ts
    ),
    pa AS (
      SELECT part, "column", metric, CAST(sum(sgn) AS BIGINT) AS s_stat,
             median(slope) AS sen_slope
      FROM pairs GROUP BY 1, 2, 3
    ),
    nn AS (
      SELECT part, "column", metric, count(*) AS n_runs FROM hist GROUP BY 1, 2, 3
    ),
    ties AS (
      SELECT part, "column", metric,
             coalesce(sum(t * (t - 1.0) * (2.0 * t + 5.0)), 0.0) AS corr
      FROM (SELECT part, "column", metric, value, count(*)::DOUBLE AS t
            FROM hist GROUP BY 1, 2, 3, 4)
      GROUP BY 1, 2, 3
    ),
    j AS (
      SELECT nn.part, nn."column", nn.metric, nn.n_runs, pa.s_stat,
             (nn.n_runs * (nn.n_runs - 1.0) * (2.0 * nn.n_runs + 5.0)
              - ties.corr) / 18.0 AS var_s,
             CASE WHEN (nn.n_runs * (nn.n_runs - 1.0) * (2.0 * nn.n_runs + 5.0)
                        - ties.corr) / 18.0 <= 0.0 THEN 0.0
                  WHEN pa.s_stat > 0 THEN (pa.s_stat - 1.0)
                       / sqrt((nn.n_runs * (nn.n_runs - 1.0) * (2.0 * nn.n_runs + 5.0)
                               - ties.corr) / 18.0)
                  WHEN pa.s_stat < 0 THEN (pa.s_stat + 1.0)
                       / sqrt((nn.n_runs * (nn.n_runs - 1.0) * (2.0 * nn.n_runs + 5.0)
                               - ties.corr) / 18.0)
                  ELSE 0.0 END AS z,
             pa.sen_slope
      FROM nn
      JOIN ties ON ties.part = nn.part AND ties."column" = nn."column"
               AND ties.metric = nn.metric
      LEFT JOIN pa ON pa.part = nn.part AND pa."column" = nn."column"
               AND pa.metric = nn.metric
    )
    SELECT part, "column", metric, n_runs, s_stat,
           round(var_s, 6) AS var_s, round(z, 6) AS z,
           round(sen_slope, 6) AS sen_slope,
           CASE WHEN n_runs < 8 THEN 'insufficient'
                WHEN z > 1.96 THEN 'increasing'
                WHEN z < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS verdict
    FROM j
    """,
    "Mann-Kendall trend + Sen's slope per metric series across the run "
    "history (functions/anomaly.trend_verdicts — the slow-degradation "
    "detector: a metric creeping 1%/run for twenty runs trips neither the "
    "trailing-band zscore nor the Page-Hinkley level-shift test; Mann "
    "1945 / Kendall 1975 / Sen 1968, public statistics; SURVEY.md §2.4 "
    "A13 / S8 metrics-sink family; reference analog: the retrospective "
    "read-back of the fsync'd metric log, util.py:8-23). Planted: +1.25/"
    "run drift on 'click', -1.25/run on 'error' -> increasing/decreasing "
    "(|z| ~ 3.7); untouched series no_trend. FULL oracle value-checking "
    "S, Var(S) with tie correction, z with continuity correction, and "
    "the exact pairwise-median slope",
)
def q_trend(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.anomaly import trend_verdicts

    w = F.floor(F.col("event_id") / 500).cast("long")
    drift = F.col("event_id") / 400.0
    hist = (
        _t(spark, sf, "events")
        .groupBy(F.col("event_type"), w.alias("run_ts"))
        .agg(
            F.avg(
                F.col("value")
                + F.when(F.col("event_type") == "click", drift).otherwise(0.0)
                - F.when(F.col("event_type") == "error", drift).otherwise(0.0)
            ).alias("value")
        )
        .select(
            F.lit(0).alias("part"),
            F.col("event_type").alias("column"),
            F.lit("mean").alias("metric"),
            "value",
            "run_ts",
        )
    )
    return trend_verdicts(hist, min_runs=8, z_crit=1.96)


_EMB_OUT_PARAMS = {
    "k": 8, "sample_n": 256, "seed": 42, "iters": 10,
    "tail": 0.05, "factor": 2.0, "min_rows": 20,
}


def _emb_outlier_oracle_sql() -> str:
    """FULL lazy DuckDB oracle for q_embedding_outliers — the q_ivf_topk
    technique: the trainer is deterministic end-to-end (xxhash64 sample
    pick replicated by operators.xxh64_replica, then the shared numpy
    _spherical_kmeans), so the trained centroids embed as SQL literals
    and DuckDB re-derives scores (6dp-rounded, the parity discipline),
    the exact interpolated reference threshold (quantile_cont ≡ Spark
    percentile, the q_percentiles parity) and every verdict."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from al_drift_detection_spark.functions.similarity import (
        _spherical_kmeans,
        orthogonal_direction,
    )
    from al_drift_detection_spark.operators.xxh64_replica import xxhash64_long_int

    P = _EMB_OUT_PARAMS
    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    X = flat.reshape(len(ids), len(flat) // len(ids)).astype(np.float64)
    order = np.argsort(xxhash64_long_int(ids, P["seed"]), kind="stable")[: P["sample_n"]]
    cents = _spherical_kmeans(X[order], P["k"], P["seed"], P["iters"])
    ood = orthogonal_direction(cents, X.shape[1])
    ood_lit = f"[{', '.join(repr(float(x)) for x in ood)}]"
    lits = [f"[{', '.join(repr(float(x)) for x in c)}]" for c in cents]
    sims = ", ".join(f"list_cosine_similarity(e, {c})" for c in lits)
    return f"""
    WITH src AS (
      SELECT vec_id % 6 AS w,
             CASE WHEN vec_id % 6 >= 4 AND vec_id % 7 = 0
                  THEN CAST({ood_lit} AS DOUBLE[])
                  ELSE CAST(embedding AS DOUBLE[]) END AS e
      FROM embeddings
    ),
    scored AS (
      SELECT w, round(1.0 - list_aggregate([{sims}], 'max'), 6) AS s FROM src
    ),
    thr AS (SELECT quantile_cont(s, {1.0 - P["tail"]!r}) AS t FROM scored WHERE w < 3),
    agg AS (
      SELECT w, count(*) AS n,
             CAST(sum(CASE WHEN s > t THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             max(t) AS t
      FROM scored, thr WHERE w >= 3 GROUP BY w
    )
    SELECT w, n, n_outliers,
           round(n_outliers / (n * 1.0), 6) AS rate,
           round(t, 6) AS threshold,
           round({P["tail"]!r}, 6) AS expected_rate,
           CASE WHEN n < {P["min_rows"]} THEN 'insufficient'
                WHEN n_outliers / (n * 1.0) > {P["factor"]!r} * {P["tail"]!r} THEN 'fail'
                ELSE 'pass' END AS verdict
    FROM agg
    """


@register(
    "q_embedding_outliers",
    _emb_outlier_oracle_sql,
    "Per-window embedding OUTLIER-RATE verdicts (functions/similarity."
    "embedding_outlier_rates): share of rows whose 1 - max-cosine-to-"
    "trained-IVF-centroid score exceeds the reference's exact p95, vs the "
    "5% tail mass — the row-counting sibling of q_embedding_drift's "
    "population tests (individually-far rows vs bulk shift; the GAN "
    "discriminator's per-sample anomaly score, gan.py:700-735, as "
    "distance to trained cluster structure). Planted: every 7th vector "
    "in windows >= 4 replaced by a direction EXACTLY orthogonal to the "
    "trained centroid span (score 1.0 by construction; ~14% OOD vs the "
    "10% fail bar) — a random-direction or constant-shift plant does NOT "
    "work here: the synthetic embeddings are already near-orthogonal to "
    "the centroids, so p95 of the reference scores sits at ~0.91 and any "
    "fixed direction lands INSIDE the bulk. Window 3 stays clean. FULL "
    "lazy oracle (trained-centroid literals via the bit-exact xxhash64 "
    "sample replica) value-checking scores, the interpolated threshold, "
    "rates and verdicts",
)
def q_embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.similarity import (
        embedding_outlier_rates,
        train_ivf_centroids,
    )

    P = _EMB_OUT_PARAMS
    from al_drift_detection_spark.functions.similarity import (
        orthogonal_direction,
    )

    emb = _t(spark, sf, "embeddings")
    cents = train_ivf_centroids(
        emb, k=P["k"], sample_n=P["sample_n"], seed=P["seed"], iters=P["iters"]
    )
    dim = len(emb.select("embedding").first()["embedding"])
    ood = orthogonal_direction(cents, dim)
    v = F.col("vec_id")
    shifted = emb.select(
        (v % 6).alias("w"),
        "vec_id",
        F.when(
            (v % 6 >= 4) & (v % 7 == 0),
            F.array(*[F.lit(float(x)) for x in ood]),
        )
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    return embedding_outlier_rates(
        shifted,
        cents,
        "w",
        ref_filter=F.col("w") < 3,
        tail=P["tail"],
        rate_factor=P["factor"],
        min_rows=P["min_rows"],
    )


@register(
    "q_bigram_nll",
    """
    WITH base AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t,
             (doc_id % 4 < 3) AS is_ref
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (SELECT unnest(t) AS tok FROM base WHERE is_ref)
      GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 32
    ),
    idx AS (
      SELECT doc_id, is_ref, t,
             unnest(generate_series(1, len(t) - 1)) AS i
      FROM base
    ),
    pairs AS (
      SELECT doc_id, is_ref,
             CASE WHEN t[i] IN (SELECT tok FROM vocab)
                  THEN t[i] ELSE '(unk)' END AS a,
             CASE WHEN t[i + 1] IN (SELECT tok FROM vocab)
                  THEN t[i + 1] ELSE '(unk)' END AS b
      FROM idx
    ),
    cab AS (
      SELECT a, b, count(*) AS cab FROM pairs WHERE is_ref GROUP BY 1, 2
    ),
    ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY 1),
    model AS (SELECT cab.a, cab.b, cab.cab, ca.ca FROM cab JOIN ca USING (a)),
    scored AS (
      SELECT p.doc_id, count(*) AS n_bigrams,
             avg(-ln(coalesce(
               (m.cab + 0.5) / (m.ca + 0.5 * 33),
               0.5 / (coalesce(c2.ca, 0) + 0.5 * 33)
             ))) AS nll
      FROM pairs p
      LEFT JOIN model m ON m.a = p.a AND m.b = p.b
      LEFT JOIN ca c2 ON c2.a = p.a
      GROUP BY 1
    )
    SELECT doc_id, n_bigrams, round(nll, 6) AS nll,
           round(exp(nll), 4) AS ppl
    FROM scored
    """,
    "Reference-trained bigram language-model scoring (functions/text."
    "bigram_nll — the CCNet perplexity filter, Wenzek et al. 2020, "
    "public method; SURVEY.md §2.9 F8 text family under the reference-"
    "then-score discipline of the drift kernels): per-document mean "
    "-ln P(b|a) under add-0.5 smoothing over the reference's top-32 "
    "vocabulary + '(unk)' (bounded-universe rule — the model is at most "
    "(V+1)^2 cells however large or corrupted the corpus). Model counts "
    "broadcast; scoring is slice+explode pairs, three broadcast joins, "
    "one groupBy(doc). FULL oracle value-checking every document's "
    "bigram count, nll and perplexity",
)
def q_bigram_nll(spark: SparkSession, sf: str) -> DataFrame:
    from al_drift_detection_spark.functions.text import bigram_nll

    return bigram_nll(
        _t(spark, sf, "documents"),
        ref_filter=F.col("doc_id") % 4 < 3,
        vocab_size=32,
        alpha=0.5,
    )
