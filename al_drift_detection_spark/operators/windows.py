"""W2 sequence-feature assembly (ref concatenate_features,
/root/reference/gan.py:348-385): for each row, the window of the previous k
values + the current value as a flat array, plus the next row's value as the
prediction target — the reference's GAN/CRNN input tensor shape, built with
lag/lead window functions (no UDF, no collect).

Head rows are zero-padded exactly like the reference (gan.py:357-360 pads the
first sequence_length rows with zeros).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.sql.window import Window


def global_cumulative(
    df: DataFrame,
    bucket,
    order_cols: list,
    sums: dict[str, str] | None = None,
    row_number_col: str | None = None,
    lead_col: str | None = None,
):
    """Globally-ordered row_number / running sums WITHOUT a single-partition
    sort (the scale-safe replacement for `Window.orderBy(...)` with no
    partitionBy, which moves the whole table through one task).

    Two passes:
      1. per-bucket totals → cumulative offsets (one tiny collect, ≤ O(buckets)
         rows, re-broadcast as a join);
      2. per-bucket window (partitioned by bucket → parallel sorts) + offset.

    `bucket` must be a coarse monotone prefix of the global order (every row in
    bucket b sorts before every row in bucket b+1, and ties in the order key
    never straddle buckets — e.g. hour-of-ts for an order on (ts, id), or
    floor(v/width) for an order on v).

    sums: {out_col: in_col} running sums over the global order (RANGE frame —
    ties share the cumulative value, matching SQL RANGE BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW; requires a single numeric order col).
    row_number_col: 1-based global row number (ROWS frame, ties broken by
    order_cols which must be unique).

    Order keys (and therefore buckets) must be NON-NULL — a null order key
    has no defined global position. Null buckets are REJECTED loudly: they
    would not just drop their own rows (nulls never equi-join their offset
    row), their counts/sums would fold into the running offsets and shift
    every other row's result.

    NULL values in the SUM columns are allowed and follow SQL RANGE-window
    semantics: the running sum is NULL only while the global frame has seen
    no non-null value at all, then ignores nulls. (A bucket-local
    `sum + offset` alone would re-NULL rows whose bucket starts with nulls
    even though a prior bucket already contributed — so the offsets also
    carry a running non-null count.)

    lead_col: also emit lead(order_cols[0]) over the GLOBAL order — the
    global_lead contract (per-bucket lead; each bucket's last row takes the
    next non-empty bucket's min; the final global row gets NULL) — FUSED
    into this pass: the boundary mins ride the same per-bucket collect and
    the same broadcast offsets join, and the lead shares the bucket
    window's sort, so a cumulative+lead consumer (q_wasserstein's ECDF ×
    merged-support step) pays ONE tiny driver job instead of two and one
    join instead of two (r8, guide §1.2/§2.4). Requires exactly one order
    column, typed numeric (the boundary column is double, so the lead of an
    integer column comes back as double).
    """
    sums = sums or {}
    if lead_col:
        if len(order_cols) != 1:
            raise ValueError("lead_col requires exactly one order column")
        dtype = df.select(order_cols[0]).schema[0].dataType
        if not isinstance(dtype, NumericType):
            raise ValueError(
                f"lead_col requires a numeric order column, got {dtype.simpleString()}"
            )
    d = df.withColumn("_bkt", bucket.cast("long"))
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        x
        for o, c in sums.items()
        for x in (F.sum(c).alias(f"_s_{o}"), F.count(c).alias(f"_n_{o}"))
    ]
    if lead_col:
        aggs.append(F.min(order_cols[0]).alias("_min"))
    per_bucket = d.groupBy("_bkt").agg(*aggs).orderBy("_bkt").collect()
    if any(r["_bkt"] is None for r in per_bucket):
        n_null = next(r["_cnt"] for r in per_bucket if r["_bkt"] is None)
        raise ValueError(
            f"global_cumulative: {n_null} rows have a NULL bucket/order key — "
            "they have no defined global position and would corrupt every "
            "other row's offset; filter or coalesce nulls upstream"
        )
    offsets, run = [], {"_cnt": 0, **{f"_s_{o}": 0.0 for o in sums}, **{f"_n_{o}": 0 for o in sums}}
    for i, r in enumerate(per_bucket):
        offsets.append(
            (
                r["_bkt"],
                run["_cnt"],
                *[v for o in sums for v in (run[f"_s_{o}"], run[f"_n_{o}"])],
                *(
                    [float(per_bucket[i + 1]["_min"]) if i + 1 < len(per_bucket) else None]
                    if lead_col
                    else []
                ),
            )
        )
        run["_cnt"] += r["_cnt"]
        for o in sums:
            run[f"_s_{o}"] += r[f"_s_{o}"] or 0.0
            run[f"_n_{o}"] += r[f"_n_{o}"]
    schema = (
        "_bkt long, _off_cnt long"
        + "".join(f", _off_{o} double, _offn_{o} long" for o in sums)
        + (", _next_bucket_min double" if lead_col else "")
    )
    off_df = d.sparkSession.createDataFrame(offsets, schema)
    joined = d.join(F.broadcast(off_df), "_bkt")
    out_cols = []
    if row_number_col:
        w_rows = Window.partitionBy("_bkt").orderBy(*order_cols)
        out_cols.append(
            (F.row_number().over(w_rows) + F.col("_off_cnt")).alias(row_number_col)
        )
    if lead_col:
        w_lead = Window.partitionBy("_bkt").orderBy(*order_cols)
        out_cols.append(
            F.coalesce(
                F.lead(order_cols[0]).over(w_lead), F.col("_next_bucket_min")
            ).alias(lead_col)
        )
    if sums:
        w_range = (
            Window.partitionBy("_bkt")
            .orderBy(*order_cols)
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for o, c in sums.items():
            local = F.sum(c).over(w_range)
            out_cols.append(
                F.when(
                    local.isNull() & (F.col(f"_offn_{o}") == 0), F.lit(None).cast("double")
                )
                .otherwise(F.coalesce(local, F.lit(0.0)) + F.col(f"_off_{o}"))
                .alias(o)
            )
    keep = [x for x in df.columns]
    return joined.select(*keep, *out_cols)


def global_lead(
    df: DataFrame,
    bucket,
    order_col: str,
    out_col: str,
) -> DataFrame:
    """lead(order_col) over the GLOBAL order without a single-partition sort
    (same two-pass shape as global_cumulative): a per-bucket lead (partitioned
    window → parallel sorts) plus, for each bucket's LAST row, the next
    non-empty bucket's min(order_col) — a tiny O(buckets) collect re-broadcast
    as a join. The final global row gets NULL, matching
    `lead(v) OVER (ORDER BY v)`.

    Same contract as global_cumulative: `bucket` must be a coarse monotone
    prefix of the order on `order_col`, and order keys must be NON-NULL
    (rejected loudly). `order_col` values need not be unique, but with ties
    the row-based lead is only deterministic if the caller has pre-aggregated
    to distinct values (the W1 caller does). `order_col` must be a DOUBLE —
    the broadcast boundary frame is typed double.
    """
    d = df.withColumn("_bkt", bucket.cast("long"))
    per_bucket = (
        d.groupBy("_bkt").agg(F.min(order_col).alias("_min")).orderBy("_bkt").collect()
    )
    if any(r["_bkt"] is None for r in per_bucket):
        raise ValueError(
            "global_lead: NULL bucket/order keys have no defined global "
            "position; filter or coalesce nulls upstream"
        )
    nxt = [
        (per_bucket[i]["_bkt"], per_bucket[i + 1]["_min"] if i + 1 < len(per_bucket) else None)
        for i in range(len(per_bucket))
    ]
    nxt_df = d.sparkSession.createDataFrame(nxt, "_bkt long, _next_bucket_min double")
    w = Window.partitionBy("_bkt").orderBy(order_col)
    return (
        d.join(F.broadcast(nxt_df), "_bkt")
        .withColumn(
            out_col,
            F.coalesce(F.lead(order_col).over(w), F.col("_next_bucket_min")),
        )
        .select(*df.columns, out_col)
    )


def sequence_features(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    k: int = 10,
) -> DataFrame:
    """(group, order..., features array<double>[k+1], target double)."""
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    lags = [
        F.coalesce(F.lag(F.col(value_col), i).over(w), F.lit(0.0)).cast("double")
        for i in range(k, 0, -1)
    ]
    feats = F.array(*lags, F.col(value_col).cast("double"))
    return df.select(
        group_col,
        *order_cols,
        feats.alias("features"),
        F.lead(F.col(value_col)).over(w).cast("double").alias("target"),
    )


def ranked_head(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    n: int,
    n_salt: int = 32,
    salt_col=None,
) -> DataFrame:
    """Top-n rows per group by a deterministic order WITHOUT a whole-group
    single-task rank — the two-stage trick kmv_sketches uses, factored for
    the sampling family: a plain row_number().over(partitionBy(group))
    funnels each group's ENTIRE row set through one task (SURVEY.md §2.8
    M1, gan.py:437-465 equalize_classes — at corpus scale one label can be
    billions of rows; the CLAUDE.md single-hot-task rule). Stage 1 ranks
    within (group, salt) and keeps n per bucket — every member of the true
    per-group top-n survives, because each bucket keeps its OWN n smallest
    and the true top-n can occupy at most n slots of any bucket. Stage 2
    re-ranks the ≤ n_salt × n survivors per group: bounded input whatever
    the group sizes.

    Contract: `order_cols` must be a TOTAL order within each group
    (include a unique id as the last key) — under ties, stage 1's
    per-bucket cut and a single-stage rank may keep different arbitrary
    tie subsets, so parity and determinism both need tie-free order.
    `salt_col` must be a DETERMINISTIC expression over the row (defaults
    to xxhash64 of the order columns — pass plain Columns for the
    default; F.desc()/F.asc() SortOrders are fine for ranking but cannot
    be hashed, so supply salt_col explicitly when using them) — a random
    salt would change the kept set across retries. Output: the input
    rows (original columns) of each group's top n, plus `rk` (1-based
    final rank)."""
    salt = (
        F.pmod(F.xxhash64(*order_cols), F.lit(n_salt))
        if salt_col is None
        else salt_col
    )
    s1 = Window.partitionBy(*part_cols, "_salt").orderBy(*order_cols)
    pre = (
        df.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(s1))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_salt")
    )
    s2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        pre.withColumn("rk", F.row_number().over(s2))
        .filter(F.col("rk") <= n)
    )
