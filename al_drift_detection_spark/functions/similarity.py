"""Similarity search over the `embeddings` table (array<float> vectors).

- brute-force cosine top-k: exact baseline, built-in array expressions
  (zip_with + aggregate — JVM-side, no Python);
- LSH-bucketed ANN: random-hyperplane signatures via a vectorized pandas UDF
  (one matmul per Arrow batch), bucket join for candidates — the scale path:
  candidate generation is linear, comparison is bucket-local;
- embedding-cosine near-duplicate pairs: cosine ≥ τ within LSH buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from al_drift_detection_spark.persist import scoped


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against one query vector (broadcast as a literal
    array). TakeOrderedAndProject keeps this a single narrow pass + tiny
    top-k heap per partition — no global sort materialization."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(id_col, F.round(cosine(F.col(vec_col), q), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH signature (SimHash for vectors): sign pattern of
    V·P packed into a long. One matmul per Arrow batch (vectorized pandas
    UDF); planes are seeded + regenerated per executor (no driver shipping).
    """

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        planes = np.random.Generator(np.random.Philox(key=seed)).standard_normal((dim, n_planes))
        M = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (M.astype(np.float64) @ planes) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series((bits @ weights).astype(np.int64))

    return df.select(id_col, vec_col, sig(F.col(vec_col)).alias("bucket"))


def _hamming_ball(bucket: int, n_bits: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ≤ radius of `bucket`."""
    from itertools import combinations

    out = [bucket]
    for r in range(1, radius + 1):
        for flips in combinations(range(n_bits), r):
            b = bucket
            for f in flips:
                b ^= 1 << f
            out.append(b)
    return out


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    probe_radius: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k with MULTI-PROBE: candidates in the query's
    hyperplane bucket plus every bucket within Hamming ≤ probe_radius of it
    (a near neighbour that lands on the wrong side of a few hyperplanes is
    one bit-flip away — single-bucket probing has a recall cliff). With
    n_planes=8 and radius 1, 9/256 of the bucket space is touched; the probe
    set is a driver-side literal IN list, so the filter still prunes."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = np.random.Generator(np.random.Philox(key=seed)).standard_normal((dim, n_planes))
    qbits = (q @ planes) > 0
    qbucket = int((qbits @ (1 << np.arange(n_planes, dtype=np.int64))).astype(np.int64))
    probe = _hamming_ball(qbucket, n_planes, probe_radius)
    sigs = hyperplane_signatures(df, dim, n_planes, seed, vec_col, id_col)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        sigs.filter(F.col("bucket").isin(probe))
        .select(id_col, F.round(cosine(F.col(vec_col), qcol), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    sample_n: int = 4096,
    seed: int = 42,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Seeded spherical k-means trainer for IVF cells.

    A deterministic bounded sample (order by xxhash64(id, seed), limit
    sample_n — a TakeOrdered, never a full collect) comes to the driver; a
    numpy Lloyd's loop with k-means++ init runs on L2-normalized vectors
    (spherical k-means — the right geometry for cosine cell assignment).
    Returns k unit centroids as plain lists for ivf_topk's literal arrays.

    Every numeric step after the collect lives in _spherical_kmeans and the
    sample order is Spark xxhash64 (replicated bit-exactly by
    operators.xxh64_replica), so the oracle builder reproduces the trained
    centroids WITHOUT Spark — the q_ivf_topk full-value DuckDB oracle
    (VERDICT r5 item 5) embeds them as SQL literals.
    """
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_n)
        .collect()
    )
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    return _spherical_kmeans(X, k, seed, iters)


def _spherical_kmeans(
    X: np.ndarray, k: int, seed: int, iters: int
) -> list[list[float]]:
    """Deterministic spherical k-means (k-means++ init, Lloyd's loop) on the
    already-sampled matrix, IN SAMPLE ORDER — shared verbatim by the Spark
    trainer and the DuckDB oracle builder so both produce bit-identical
    centroids."""
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    # k-means++ seeding
    cents = [X[rng.integers(len(X))]]
    for _ in range(1, k):
        d2 = np.min(
            np.stack([np.sum((X - c) ** 2, axis=1) for c in cents]), axis=0
        )
        s = float(d2.sum())
        if s <= 0.0:
            # every sampled vector coincides with a chosen centroid (e.g. a
            # corpus of exact-duplicate embeddings): d²-weighted choice is
            # undefined — fall back to uniform so the trainer still returns k
            # centroids instead of raising
            cents.append(X[rng.integers(len(X))])
            continue
        cents.append(X[rng.choice(len(X), p=d2 / s)])
    C = np.stack(cents)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine on unit vectors
        for j in range(k):
            m = X[assign == j]
            if len(m):
                C[j] = m.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return [[float(x) for x in c] for c in C]


def cosine_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets: bucket-local
    self-join (candidates), exact cosine filter ≥ threshold. Signatures are
    persisted so the Arrow-batch matmul runs once, not once per join side."""
    sigs = scoped(hyperplane_signatures(df, dim, n_planes, seed, vec_col, id_col).persist())
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    cos = cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    out = cand.select(
        F.col(f"a.{id_col}").alias("a_id"),
        F.col(f"b.{id_col}").alias("b_id"),
        F.round(cos, 4).alias("cos"),
    ).filter(F.col("cos") >= threshold)
    return out


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid cell —
    the build step of an IVF index. At deployment the result is WRITTEN
    partitioned/bucketed by `cell`, so ivf_topk's cell filter becomes
    partition pruning at the scan: a query touches only n_probe cells' files
    out of the whole corpus. Cells are 1-based (matching array_position)."""
    cents = [F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    dists = F.array(
        *[_dot(F.col(vec_col), c) / (_norm(F.col(vec_col)) * _norm(c)) for c in cents]
    )
    return df.select(
        id_col, vec_col, F.array_position(dists, F.array_max(dists)).alias("cell")
    )


def ivf_probe_cells(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """1-based cells of the n_probe centroids nearest (max cosine) to the
    query — shared by ivf_topk and the DuckDB oracle builder so the probe
    set is computed once, identically."""
    q = np.asarray(query_vec, dtype=np.float64)
    qsims = [
        float(np.dot(q, np.asarray(c)) / (np.linalg.norm(q) * np.linalg.norm(np.asarray(c)) + 1e-12))
        for c in centroids
    ]
    return [int(i) + 1 for i in np.argsort(qsims)[::-1][:n_probe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: vectors pre-assigned to nearest centroid; query probes
    the n_probe nearest centroid cells only. Centroids are a small broadcast
    list. Pass `assigned` (an ivf_assign result, ideally read back from a
    cell-partitioned table) to skip the assignment pass — the cell filter
    then prunes at the scan."""
    if assigned is None:
        assigned = ivf_assign(df, centroids, vec_col, id_col)
    probe_cells = ivf_probe_cells(query_vec, centroids, n_probe)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.filter(F.col("cell").isin(probe_cells))
        .select(id_col, F.round(cosine(F.col(vec_col), qcol), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def topk_per_query(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Batch top-k: broadcast the (small) query set, score all pairs, rank
    top-k per query. The corpus side never shuffles pre-ranking, and the
    rank itself is the TWO-STAGE salted form (operators/windows.
    ranked_head): a plain partitionBy(q_id) would funnel each query's
    group — the ENTIRE scored corpus — through one task (the CLAUDE.md
    single-hot-task rule; the per-query group is corpus-sized by
    construction here, unlike the bounded per-customer/per-doc ranks)."""
    from al_drift_detection_spark.operators.windows import ranked_head

    crossed = df.crossJoin(F.broadcast(queries))
    scored = crossed.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 4).alias("cos"),
    )
    return ranked_head(
        scored, [q_id_col], [F.desc("cos"), F.asc(id_col)], k,
        salt_col=F.pmod(F.xxhash64(F.col(id_col)), F.lit(32)),
    )


# =====================================================================
# Persisted IVF index — continuous-ingest ANN
# =====================================================================


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    k: int = 16,
    sample_n: int = 4096,
    seed: int = 42,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train and PERSIST an IVF index: `{index_path}/centroids` (k rows) +
    `{index_path}/vectors` written partitioned by cell — the on-disk form
    ivf_assign's docstring promises, so ivf_index_topk's n_probe filter is
    PARTITION PRUNING at the scan (a query touches n_probe cell directories
    out of the whole corpus; plan pinned in tests/test_ivf_index.py).

    `repartition("cell")` before the write gives one task per cell value and
    hence one file per cell directory per build (the bucketed-write
    convention — joins/scans never re-sort). Returns the trained centroids.
    """
    spark = df.sparkSession
    centroids = train_ivf_centroids(df, k, sample_n, seed, iters, vec_col, id_col)
    spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    (
        ivf_assign(df, centroids, vec_col, id_col)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/vectors")
    )
    return centroids


def load_ivf_centroids(spark, index_path: str) -> list[list[float]]:
    """Read the persisted centroid set back in cell order (k tiny rows)."""
    rows = spark.read.parquet(f"{index_path}/centroids").orderBy("cell").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def update_ivf_index(
    df_new: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """INCREMENTAL index update: assign ONLY vectors whose id is absent from
    the index with the FROZEN trained centroids and append them to their
    cell partitions — a daily ingest never re-assigns (or re-trains over)
    the corpus. Reference analog: reset_top_layer keeps the trained lower
    layers frozen and fits only the new head
    (/root/reference/gan.py:161-170 — SURVEY §4 row 4); here the centroid
    set is the frozen model and the new batch is the only data touched.

    Because assignment under frozen centroids is a pure per-row function,
    the union of every batch's appended rows equals a one-shot ivf_assign
    over the full corpus (parity pinned in tests/test_ivf_index.py) — the
    index never degrades relative to a rebuild until the DATA drifts enough
    that the centroids should move, which is exactly what the engine's
    embedding-drift operator (drift.embedding_drift) detects; re-train then
    is build_ivf_index again. The id-pruned membership scan reads ONLY the
    id column (ReadSchema pruning); at deployment the vectors table is
    Iceberg, whose id-column bloom/stats prune the anti-join's store side.

    Returns the number of newly assigned vectors (0 ⇒ idempotent replay).
    """
    spark = df_new.sparkSession
    centroids = load_ivf_centroids(spark, index_path)
    existing = spark.read.parquet(f"{index_path}/vectors").select(
        F.col(id_col)
    )
    assigned = ivf_assign(
        df_new.join(existing, id_col, "left_anti"), centroids, vec_col, id_col
    ).persist()
    n_new = assigned.count()
    if n_new:
        (
            assigned.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{index_path}/vectors")
        )
    assigned.unpersist()
    return n_new


def ivf_index_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN query against the PERSISTED index: probe cells are computed from
    the k tiny centroid rows driver-side, and the cell filter lands on the
    partition column of the vectors table — the scan reads n_probe
    directories, not the corpus (PartitionFilters pinned in
    tests/test_ivf_index.py). Same ranking contract as ivf_topk."""
    centroids = load_ivf_centroids(spark, index_path)
    probe_cells = ivf_probe_cells(query_vec, centroids, n_probe)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        spark.read.parquet(f"{index_path}/vectors")
        .filter(F.col("cell").isin(probe_cells))
        .select(id_col, F.round(cosine(F.col(vec_col), qcol), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def embedding_outlier_scores(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-row OUT-OF-DISTRIBUTION score against the trained IVF manifold:
    1 − max cosine to any centroid (0 = on a cell center, →2 = anti-
    aligned). The row-level triage view of the outlier family — a
    TakeOrdered over it answers "show me the 50 weirdest documents of
    today's ingest". Pure codegen projection over broadcast centroid
    literals (the ivf_assign shape): no shuffle, no UDF, scales as a map.
    Scores are rounded to 6dp so the DuckDB oracle and the Spark plan
    agree bit-for-bit on every downstream comparison (the q_ivf_topk
    rounding discipline). SURVEY.md §2.9 F2 (vector scalar family) —
    reference analog: the GAN discriminator's per-sample anomaly score,
    gan.py:700-735, re-expressed as distance to trained cluster structure.
    """
    cents = [F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    sims = F.array(
        *[_dot(F.col(vec_col), c) / (_norm(F.col(vec_col)) * _norm(c)) for c in cents]
    )
    return df.withColumn(
        "ood_score", F.round(1.0 - F.array_max(sims), 6)
    )


def embedding_outlier_rates(
    df: DataFrame,
    centroids: list[list[float]],
    window_col: str,
    ref_filter,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tail: float = 0.05,
    rate_factor: float = 3.0,
    min_rows: int = 20,
) -> DataFrame:
    """Per-window embedding OUTLIER-RATE verdicts: the share of rows whose
    ood_score exceeds the reference's (1 − tail) quantile, vs the tail
    mass itself — by construction the reference windows run at ≈ `tail`,
    so a window where the rate jumps past rate_factor × tail is shipping
    out-of-distribution embeddings (new domain, upstream encoder bug,
    garbage rows) that value-level checks cannot see. The population-level
    sibling of embedding_drift's MMD/energy tests: those detect a mean/
    shape SHIFT of the whole window, this counts individually-far rows
    even when the bulk stays put.

    Deterministic and fully relational (no driver collect): the threshold
    is the exact interpolated percentile of the 6dp-rounded reference
    scores (Spark `percentile` ≡ DuckDB `quantile_cont`, the q_percentiles
    parity), shipped as a broadcast one-row frame. Exactly TWO raw scans
    — the threshold fold over reference rows and the per-window rollup —
    both single partial+final aggregates over the no-shuffle score
    projection; nothing row-level is persisted or shuffled. Output:
    (window_col, n, n_outliers, rate, threshold, expected_rate, verdict)
    with verdict fail iff rate > rate_factor × tail, 'insufficient' under
    min_rows (the anomaly family's small-sample posture).
    """
    if not 0.0 < tail < 1.0:
        raise ValueError(f"tail must be in (0, 1), got {tail}")
    scored = embedding_outlier_scores(df, centroids, vec_col, id_col).select(
        F.col(window_col).alias("_w"), "ood_score", ref_filter.alias("_is_ref")
    )
    thr = (
        scored.filter("_is_ref")
        .agg(
            F.percentile(F.col("ood_score"), 1.0 - float(tail)).alias("_thr")
        )
    )
    out = (
        scored.filter(~F.col("_is_ref"))
        .crossJoin(F.broadcast(thr))
        .groupBy("_w")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("ood_score") > F.col("_thr")).cast("long")).alias(
                "n_outliers"
            ),
            F.first("_thr").alias("_t"),
        )
    )
    rate = F.col("n_outliers") / F.col("n")
    return out.select(
        F.col("_w").alias(window_col),
        "n",
        "n_outliers",
        F.round(rate, 6).alias("rate"),
        F.round("_t", 6).alias("threshold"),
        F.round(F.lit(float(tail)), 6).alias("expected_rate"),
        # threshold NULL = the reference selected no rows; without this
        # branch every comparison below is NULL and falls through to
        # 'pass' — the silent-all-pass trap health.py raises on (kept
        # relational here to preserve the no-collect contract, so the
        # failure is loud in the OUTPUT instead)
        F.when(F.col("_t").isNull(), "no_reference")
        .when(F.col("n") < int(min_rows), "insufficient")
        .when(rate > float(rate_factor) * float(tail), "fail")
        .otherwise("pass")
        .alias("verdict"),
    )


def orthogonal_direction(centroids: list[list[float]], dim: int) -> list[float]:
    """Deterministic unit vector EXACTLY orthogonal to the trained centroid
    span (Gram-Schmidt of the all-ones start against an orthonormalized
    centroid basis) — the test/oracle helper for planting out-of-
    distribution rows whose max-cosine to every centroid is 0 by
    construction (score exactly 1.0), shared numpy-side by the Spark
    entry and the DuckDB oracle builder so both embed the same literals."""
    C = np.asarray(centroids, dtype=np.float64)
    v = np.ones(dim, dtype=np.float64)
    basis: list[np.ndarray] = []
    for c in C:
        u = c.copy()
        for b in basis:
            u = u - (u @ b) * b
        n = np.linalg.norm(u)
        if n > 1e-12:
            basis.append(u / n)
    for b in basis:
        v = v - (v @ b) * b
    n = np.linalg.norm(v)
    if n <= 1e-12:
        raise ValueError("all-ones start lies in the centroid span")
    return [float(x) for x in v / n]


def embedding_outlier_threshold(
    ref_df: DataFrame,
    centroids: list[list[float]],
    tail: float = 0.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Driver-side reference CONFIG for the streaming twin
    (streaming/closed.embedding_outliers_spec): the exact interpolated
    (1 − tail) quantile of the reference rows' ood_scores, folded to one
    float — built ONCE from the reference windows so batch and stream
    score against the same threshold (the build_sliced_reference
    pattern). Raises loudly on an empty reference (the config-builder
    counterpart of the relational path's 'no_reference' verdict)."""
    row = (
        embedding_outlier_scores(ref_df, centroids, vec_col, id_col)
        .agg(F.percentile(F.col("ood_score"), 1.0 - float(tail)).alias("t"))
        .first()
    )
    if row["t"] is None:
        raise ValueError(
            "embedding_outlier_threshold: the reference selects no rows"
        )
    return float(row["t"])
