"""Declarative CheckSuite: the generalization of the reference's feature-file
configuration (/root/reference/util.py:74-76) into a constraint/metric spec.

A suite is a list of `Check`s compiled into ONE aggregation pass per partition
(pass/fail verdicts from violation counts) plus ONE scan that extracts capped
violation-row samples — never a per-check scan.

Scale notes (100 TB):
- row predicates evaluate JVM-side inside whole-stage codegen (plain Column
  expressions; no Python in the hot path);
- verdicts come from `groupBy(part).agg(count(when(!ok,1)) ...)` — map-side
  partial aggregation, one shuffle of O(parts) tiny rows;
- violation-row extraction filters BEFORE any shuffle and caps per
  (part, check) with a window over only the violating rows;
- uniqueness uses exact per-part dup counts in the same agg + a global
  `groupBy(key) HAVING count>1` (AQE handles skew) for cross-partition dupes;
- referential checks are broadcast LEFT ANTI joins (SURVEY.md §2.3 J4) — the
  reference set ships to executors once, no shuffle of the fact table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from al_drift_detection_spark.persist import scoped


@dataclass(frozen=True)
class Check:
    """One declarative constraint.

    kind ∈ {not_null, non_empty, in_set, between, gt, predicate, unique,
    referential}. `unique` and `referential` are table-level (not row
    predicates) and get special plans. max_violation_ratio: a partition passes
    while violations/rows ≤ ratio (default 0 = strict).
    """

    name: str
    kind: str
    column: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    max_violation_ratio: float = 0.0

    def ok_expr(self) -> Column | None:
        """Row-level pass predicate (None for table-level checks)."""
        c = F.col(self.column) if self.column else None
        if self.kind == "not_null":
            return c.isNotNull()
        if self.kind == "non_empty":
            return c.isNotNull() & (F.length(c) > 0)
        if self.kind == "in_set":
            return c.isNotNull() & c.isin(list(self.params["values"]))
        if self.kind == "between":
            return c.isNotNull() & c.between(self.params["lo"], self.params["hi"])
        if self.kind == "gt":
            return c.isNotNull() & (c > self.params["value"])
        if self.kind == "predicate":
            return F.expr(self.params["expr"])
        if self.kind in ("unique", "referential"):
            return None
        raise ValueError(f"unknown check kind {self.kind!r}")

    def observed_expr(self) -> Column:
        """String rendering of the offending value for the violations table."""
        if self.column:
            return F.coalesce(F.col(self.column).cast("string"), F.lit("NULL"))
        return F.lit("")

    def expected_desc(self) -> str:
        if self.kind == "in_set":
            return f"in {sorted(self.params['values'])}"
        if self.kind == "between":
            return f"between [{self.params['lo']}, {self.params['hi']}]"
        if self.kind == "gt":
            return f"> {self.params['value']}"
        if self.kind == "predicate":
            return self.params["expr"]
        if self.kind == "unique":
            return "unique"
        if self.kind == "referential":
            return f"exists in reference.{self.params.get('ref_column', self.column)}"
        return self.kind


# ---- convenience constructors (the public suite-building API) ----
def not_null(col: str, **kw: Any) -> Check:
    return Check(f"not_null_{col}", "not_null", col, **kw)


def non_empty(col: str, **kw: Any) -> Check:
    return Check(f"non_empty_{col}", "non_empty", col, **kw)


def in_set(col: str, values: list[Any], **kw: Any) -> Check:
    return Check(f"in_set_{col}", "in_set", col, {"values": values}, **kw)


def between(col: str, lo: Any, hi: Any, **kw: Any) -> Check:
    return Check(f"between_{col}", "between", col, {"lo": lo, "hi": hi}, **kw)


def gt(col: str, value: Any, **kw: Any) -> Check:
    return Check(f"gt_{col}", "gt", col, {"value": value}, **kw)


def predicate(name: str, expr: str, column: str | None = None, **kw: Any) -> Check:
    return Check(name, "predicate", column, {"expr": expr}, **kw)


def unique(col: str, **kw: Any) -> Check:
    return Check(f"unique_{col}", "unique", col, **kw)


def referential(col: str, ref_column: str | None = None, **kw: Any) -> Check:
    return Check(f"referential_{col}", "referential", col, {"ref_column": ref_column or col}, **kw)


_KIND_BUILDERS = {
    "not_null": lambda c: not_null(c["column"], **_ratio(c)),
    "non_empty": lambda c: non_empty(c["column"], **_ratio(c)),
    "in_set": lambda c: in_set(c["column"], list(c["values"]), **_ratio(c)),
    "between": lambda c: between(c["column"], c["lo"], c["hi"], **_ratio(c)),
    "gt": lambda c: gt(c["column"], c["value"], **_ratio(c)),
    "predicate": lambda c: predicate(c["name"], c["expr"], c.get("column"), **_ratio(c)),
    "unique": lambda c: unique(c["column"], **_ratio(c)),
    "referential": lambda c: referential(
        c["column"], c.get("ref_column"), **_ratio(c)
    ),
}


def _ratio(c: dict) -> dict:
    return (
        {"max_violation_ratio": float(c["max_violation_ratio"])}
        if "max_violation_ratio" in c
        else {}
    )


def suite_from_config(cfg: dict) -> "CheckSuite":
    """Build a CheckSuite from a plain dict (the JSON file the CLI's --suite
    flag loads) — the generalization of the reference's feature-file
    configuration (/root/reference/util.py:74-76, SURVEY §2.1 S6) into a
    declarative constraint/metric spec.

    Shape: {"checks": [{"kind": ..., "column": ..., ...}, ...],
            "part_col"?, "row_id_col"?, "numeric_stat_cols"?,
            "id_stat_cols"?, "violation_cap_per_check"?}
    """
    checks = []
    for c in cfg["checks"]:
        kind = c["kind"]
        if kind not in _KIND_BUILDERS:
            raise ValueError(f"unknown check kind {kind!r} in suite config")
        checks.append(_KIND_BUILDERS[kind](c))
    return CheckSuite(
        checks=checks,
        part_col=cfg.get("part_col", "part"),
        row_id_col=cfg.get("row_id_col", "image_id"),
        numeric_stat_cols=cfg.get("numeric_stat_cols"),
        id_stat_cols=cfg.get("id_stat_cols"),
        violation_cap_per_check=cfg.get("violation_cap_per_check", 100),
    )


def suite_from_json(path: str) -> "CheckSuite":
    import json

    with open(path) as f:
        return suite_from_config(json.load(f))


def check_to_config(chk: Check) -> dict:
    """Inverse of _KIND_BUILDERS: a plain dict suite_from_config round-trips.
    Lets a PROFILED suite (profile.suggest_suite) be saved as the same JSON
    the CLI's --suite flag loads — suggest → save → review → run."""
    c: dict = {"kind": chk.kind}
    if chk.column:
        c["column"] = chk.column
    if chk.kind == "predicate":
        c["name"] = chk.name
        c["expr"] = chk.params["expr"]
    elif chk.kind == "in_set":
        c["values"] = list(chk.params["values"])
    elif chk.kind == "between":
        c["lo"], c["hi"] = chk.params["lo"], chk.params["hi"]
    elif chk.kind == "gt":
        c["value"] = chk.params["value"]
    elif chk.kind == "referential":
        c["ref_column"] = chk.params.get("ref_column", chk.column)
    if chk.max_violation_ratio:
        c["max_violation_ratio"] = chk.max_violation_ratio
    return c


def suite_to_config(suite: "CheckSuite") -> dict:
    return {
        "checks": [check_to_config(c) for c in suite.checks],
        "part_col": suite.part_col,
        "row_id_col": suite.row_id_col,
        "numeric_stat_cols": suite.numeric_stat_cols,
        "id_stat_cols": suite.id_stat_cols,
        "violation_cap_per_check": suite.violation_cap,
    }


@dataclass
class ValidationResult:
    """Output contract (FIXTURES.md §4): the structured replacement for the
    reference's drifts_setN.txt verdict file (/root/reference/gan.py:971-974)
    and log metric rows. Call unpersist() once verdicts/violations have been
    materialized — run() persists shared dup/miss frames that would
    otherwise occupy executor storage for the session lifetime (they are
    also registered with the caller's persist scope, if one is open)."""

    verdicts: DataFrame
    violations: DataFrame
    stats: DataFrame  # long metrics rows (part, column, metric, value)
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for frame in self.cached:
            frame.unpersist()
        self.cached = []


class CheckSuite:
    def __init__(
        self,
        checks: list[Check],
        part_col: str = "part",
        row_id_col: str = "image_id",
        numeric_stat_cols: list[str] | None = None,
        id_stat_cols: list[str] | None = None,
        violation_cap_per_check: int = 100,
    ):
        self.checks = checks
        self.part_col = part_col
        self.row_id_col = row_id_col
        self.numeric_stat_cols = numeric_stat_cols or []
        self.id_stat_cols = id_stat_cols or []
        self.violation_cap = violation_cap_per_check

    # ---- plan builders ------------------------------------------------
    def _row_checks(self) -> list[Check]:
        return [c for c in self.checks if c.ok_expr() is not None]

    def _verdict_agg(self, df: DataFrame) -> DataFrame:
        """One pass: per-partition violation counts for every row check.
        (Unique checks are counted separately from the global dup-key set —
        a single local+cross formula here would double-count keys duplicated
        both within and across partitions.)"""
        aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
        for chk in self._row_checks():
            ok = chk.ok_expr()
            aggs.append(F.count(F.when(~ok, 1)).alias(f"viol__{chk.name}"))
        return df.groupBy(self.part_col).agg(*aggs)

    def run(self, df: DataFrame, ref: DataFrame | None = None) -> ValidationResult:
        """Compile + execute the suite. `ref` is the broadcast reference set
        for referential checks (must contain the ref_column)."""
        from al_drift_detection_spark.stats import melt_stats, stats_pass

        part = self.part_col
        counts = self._verdict_agg(df)

        verdict_rows = []
        row_checks = self._row_checks()
        if row_checks:
            # ONE agg + stack unpivot → (part, check, n_violations); a union
            # of per-check selects would re-run the final aggregation per
            # branch
            stack_args = ", ".join(
                f"'{chk.name}', cast(`viol__{chk.name}` as bigint), cast({chk.max_violation_ratio} as double)"
                for chk in row_checks
            )
            verdict_rows.append(
                counts.selectExpr(
                    part,
                    "n_rows",
                    f"stack({len(row_checks)}, {stack_args}) as (check_name, n_violations, threshold)",
                ).select(part, "check_name", "n_violations", "n_rows", "threshold")
            )
        # unique / referential: the offending-row frames are MATERIALIZED
        # ONCE (persist) and feed BOTH the verdict counts (uncapped groupBy)
        # and the violation-row samples — without sharing, run() and
        # violation_rows() would each re-run the global dup-key groupBy and
        # the broadcast anti-join (two extra full-table scans per check).
        # Count semantics: every row whose key occurs >1 time ANYWHERE counts
        # once (all copies; never exceeds n_rows; no local/cross double
        # counting for keys duplicated both within and across partitions).
        table_rows: dict[str, DataFrame] = {}
        for chk in self.checks:
            if chk.kind == "unique":
                frame = scoped(self._dup_rows(df, chk).persist())
            elif chk.kind == "referential":
                if ref is None:
                    raise ValueError(f"check {chk.name} needs a reference DataFrame")
                frame = scoped(self._miss_rows(df, ref, chk).persist())
            else:
                continue
            table_rows[chk.name] = frame
            per_part = frame.groupBy(part).agg(F.count(F.lit(1)).alias("_viol"))
            verdict_rows.append(
                counts.select(part, "n_rows")
                .join(per_part, part, "left")
                .select(
                    F.col(part),
                    F.lit(chk.name).alias("check_name"),
                    F.coalesce(F.col("_viol"), F.lit(0)).alias("n_violations"),
                    F.col("n_rows"),
                    F.lit(chk.max_violation_ratio).alias("threshold"),
                )
            )

        all_verdicts = verdict_rows[0]
        for v in verdict_rows[1:]:
            all_verdicts = all_verdicts.unionByName(v)
        verdicts = all_verdicts.withColumn(
            "verdict",
            F.when(
                F.col("n_violations") <= F.col("threshold") * F.col("n_rows"), F.lit("pass")
            ).otherwise(F.lit("fail")),
        )

        violations = self.violation_rows(df, ref, table_rows)

        stats_long = None
        if self.numeric_stat_cols or self.id_stat_cols:
            wide = stats_pass(df, self.numeric_stat_cols, self.id_stat_cols, part)
            stats_long = melt_stats(wide, part)

        return ValidationResult(
            verdicts=verdicts,
            violations=violations,
            stats=stats_long,
            cached=list(table_rows.values()),
        )

    def _dup_rows(self, df: DataFrame, chk: Check) -> DataFrame:
        """All rows whose key occurs >1 time anywhere, in violation-row shape
        (one global groupBy(key) + one broadcast join-back)."""
        part, rid, key = self.part_col, self.row_id_col, chk.column
        dup_keys = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select(key)
        )
        # NO broadcast hint: the dup-key set is O(n) on a heavily-duplicated
        # column — exactly the input this check exists to catch — and a forced
        # broadcast would OOM the driver there. AQE picks broadcast at runtime
        # when the set turns out small (the common case).
        return (
            df.select(part, rid, key)
            .join(dup_keys, key)
            .select(
                part,
                F.col(rid).alias("row_id"),
                F.lit(chk.name).alias("check_name"),
                F.lit(key).alias("column"),
                F.col(key).cast("string").alias("observed"),
                F.lit(chk.expected_desc()).alias("expected"),
            )
        )

    def _miss_rows(self, df: DataFrame, ref: DataFrame, chk: Check) -> DataFrame:
        """Referential misses in violation-row shape (anti join; strategy
        left to the planner).

        r8: the build side is no longer FORCE-broadcast — a curated
        dimension-like reference still auto-broadcasts under the session's
        64 MB threshold (and AQE converts to broadcast at runtime from
        actual sizes), but a corpus-sized reference (the bench's
        one-ref-row-per-image table) made the forced broadcast the
        dominant cost of the whole suite: collect 10M keys to the driver,
        build a ~200 MB HashedRelation, ship it to every task — measured
        6.8–10.3 s vs 1.2–1.7 s for the planner's shuffle join at sf1.0
        (guide §3.1: broadcast "a few hundred MB is asking for driver
        OOMs"). The explicit .distinct() is gone too: an anti-join build
        side dedups by construction, and the distinct was a full extra
        exchange of the reference. Result rows are identical either way."""
        part, rid = self.part_col, self.row_id_col
        refcol = chk.params["ref_column"]
        return (
            df.select(part, rid, F.col(chk.column).alias(refcol))
            .join(ref.select(refcol), refcol, "left_anti")
            .select(
                part,
                F.col(rid).alias("row_id"),
                F.lit(chk.name).alias("check_name"),
                F.lit(chk.column).alias("column"),
                F.col(refcol).cast("string").alias("observed"),
                F.lit(chk.expected_desc()).alias("expected"),
            )
        )

    def violation_rows(
        self,
        df: DataFrame,
        ref: DataFrame | None = None,
        table_rows: dict[str, DataFrame] | None = None,
    ) -> DataFrame:
        """ONE scan → capped per-(part, check) violation-row samples.

        Builds an array of failed-check structs per row, filters to rows with
        ≥1 failure (pushes down — passing rows never shuffle), explodes, and
        caps with a row_number window over only the violating rows.
        table_rows: per-check precomputed dup/miss frames from run() — reused
        so the global groupBys/anti-joins execute once, not twice.
        """
        part, rid = self.part_col, self.row_id_col
        structs = [
            F.when(
                ~chk.ok_expr(),
                F.struct(
                    F.lit(chk.name).alias("check_name"),
                    F.lit(chk.column or "").alias("column"),
                    chk.observed_expr().alias("observed"),
                    F.lit(chk.expected_desc()).alias("expected"),
                ),
            )
            for chk in self._row_checks()
        ]
        base = None
        if structs:  # table-level-only suites have no row-check structs
            base = (
                df.select(part, rid, F.array_compact(F.array(*structs)).alias("_fails"))
                .filter(F.size("_fails") > 0)
                .select(part, rid, F.explode("_fails").alias("f"))
                .select(
                    part,
                    F.col(rid).alias("row_id"),
                    F.col("f.check_name"),
                    F.col("f.column"),
                    F.col("f.observed"),
                    F.col("f.expected"),
                )
            )
        # duplicate-key / referential-miss rows (shared with run()'s verdict
        # counts when table_rows is passed; recomputed standalone otherwise)
        if table_rows is None:
            table_rows = {}
            for chk in self.checks:
                if chk.kind == "unique":
                    table_rows[chk.name] = self._dup_rows(df, chk)
                elif chk.kind == "referential" and ref is not None:
                    table_rows[chk.name] = self._miss_rows(df, ref, chk)
        for frame in table_rows.values():
            base = frame if base is None else base.unionByName(frame)
        from pyspark.sql.window import Window

        if base is None:  # suite with no violation-producing checks
            # derive part/row_id types from the source so the empty frame
            # unions/appends cleanly with non-empty results
            from pyspark.sql.types import StringType, StructField, StructType

            schema = StructType(
                [
                    StructField(part, df.schema[part].dataType),
                    StructField("row_id", df.schema[rid].dataType),
                    StructField("check_name", StringType()),
                    StructField("column", StringType()),
                    StructField("observed", StringType()),
                    StructField("expected", StringType()),
                ]
            )
            return df.sparkSession.createDataFrame([], schema)

        w = Window.partitionBy(part, "check_name").orderBy("row_id")
        return (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.violation_cap)
            .drop("_rn")
        )
