"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive value hash. Each query runs inside a persist
scope; a query that still leaves a new persistent RDD behind after the scope
exits is reported on a LEAK line (informational — the pass/fail rule is the
oracle comparison alone). Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def persistent_ids(spark) -> set:
    """Ids of the session's persistent RDDs (an id set, not a count: the
    ContextCleaner may free unrelated RDDs while a query runs)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if "/" not in sf:  # bare "sf0.01" → resolve against the testdata root
        sf = f"/root/testdata/{sf}"
    only = set(sys.argv[2:])

    import os

    # lazy oracle builders (q_ivf_topk) derive literals from the gate's
    # tables; point them at the sweep's sf_dir (driver default: sf0.01)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf

    import __spark_entry__ as E
    from al_drift_detection_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    from al_drift_detection_spark.operators import REGISTRY
    from al_drift_detection_spark.persist import persist_scope

    qs = E.queries()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # resolve lazy oracle builders per-name AFTER the filter: a sweep of
        # one unrelated query must not pay (or depend on) the IVF builders'
        # parquet reads + k-means trainings. A FAILING builder degrades that
        # one entry to rows-only (matching __spark_entry__.oracle_sql) —
        # it must not abort the sweep before the authoritative summary line
        spec_sql = REGISTRY[name].sql
        try:
            sqls = {name: spec_sql() if callable(spec_sql) else spec_sql} \
                if spec_sql is not None else {}
        except Exception as ex:
            print(
                f"ROWS  {name}: oracle builder failed "
                f"({str(ex).splitlines()[0][:120]}) — degraded to rows-only"
            )
            sqls = {}
        spark.catalog.clearCache()  # no cross-query persisted-frame buildup
        before = persistent_ids(spark)
        try:
            with persist_scope():
                got = fn(spark, sf).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex).splitlines()[0][:160]}")
            n_fail += 1
            continue
        finally:
            left = persistent_ids(spark) - before
            if left:
                print(f"LEAK  {name}: {len(left)} persistent RDD(s) left after its scope")
        if name not in sqls:
            print(f"ROWS  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            exp = con.execute(sqls[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0][:160]}")
            n_fail += 1
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            n_fail += 1
            continue
        if not g.equals(e):
            diff_cols = [c for c in g.columns if not g[c].equals(e[c])]
            print(f"FAIL  {name}: values differ in {diff_cols}")
            for c in diff_cols[:2]:
                neq = g[c] != e[c]
                print("   spark:", g.loc[neq, c].head(3).tolist(), " duck:", e.loc[neq, c].head(3).tolist())
            n_fail += 1
            continue
        print(f"OK    {name}: {len(g)} rows")
    # the AUTHORITATIVE registry counts (docs reference this artifact —
    # CLAUDE.md / README / COVERAGE quote numbers from here, not by hand);
    # counted from spec.sql PRESENCE, not resolved SQL strings
    from al_drift_detection_spark.operators import GATE_WINDOW

    has_oracle = {n for n, spec in REGISTRY.items() if spec.sql is not None}
    window = list(qs)[:GATE_WINDOW]
    print(
        f"\nregistry: {len(qs)} entries, {len(has_oracle)} with DuckDB oracles; "
        f"gate window = first {GATE_WINDOW} "
        f"({sum(1 for n in window if n in has_oracle)} oracle + "
        f"{sum(1 for n in window if n not in has_oracle)} rows-only)"
    )
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
