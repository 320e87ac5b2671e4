"""Output checks computed apart from the engine.

Each check reads the engine's output parquet with DuckDB and recomputes the
expected answer from the input parquet (DuckDB SQL, numpy) or from what the
input generator planted. A check returns a list of problems; empty = pass.
selftest.py shows each check failing on a deliberately corrupted output.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from workloads import REF_WINDOWS, STREAM_WINDOW_S

VIOLATION_CAP = 100          # CheckSuite violation_cap_per_check default
TOL = 1e-9

# the runner's default suite, as DuckDB predicates that are TRUE on a violation
SUITE_SQL = {
    "not_null_image_id": "image_id IS NULL",
    "non_empty_caption": "caption IS NULL OR length(caption) = 0",
    "in_set_fmt": "fmt IS NULL OR fmt NOT IN ('png', 'jpeg')",
    "between_w": "w IS NULL OR w NOT BETWEEN 1 AND 10000",
    "between_h": "h IS NULL OR h NOT BETWEEN 1 AND 10000",
    "unique_image_id": "image_id IN (SELECT image_id FROM images GROUP BY 1 HAVING count(*) > 1)",
    "referential_phash": "phash IS NULL OR phash NOT IN (SELECT phash FROM ref)",
}


def _con(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW images AS SELECT * EXCLUDE (bytes) FROM '{data}/images/*.parquet'")
    con.execute(f"CREATE VIEW ref AS SELECT image_id, phash FROM '{data}/ref/*.parquet'")
    return con


def _out(con, path: str) -> pd.DataFrame:
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()


def _expected_violations(con) -> pd.DataFrame:
    """(part, image_id, check_name) for every violating input row."""
    sel = " UNION ALL ".join(
        f"SELECT part, image_id, '{name}' AS check_name FROM images WHERE {pred}"
        for name, pred in SUITE_SQL.items())
    return con.execute(sel).fetchdf()


# ---- reference statistics, written from their definitions ----------------

def ks_d(ref: np.ndarray, cur: np.ndarray) -> float:
    """sup_x |F_ref(x) - F_cur(x)| over the pooled sample points."""
    ref, cur = np.sort(ref), np.sort(cur)
    xs = np.concatenate([ref, cur])
    return float(np.max(np.abs(np.searchsorted(ref, xs, "right") / len(ref)
                               - np.searchsorted(cur, xs, "right") / len(cur))))


def psi(ref: np.ndarray, cur: np.ndarray, bins: int = 10, eps: float = 1e-4) -> float:
    """PSI over the reference's decile bins (open outer edges, tied edges
    merged), proportions clipped at eps and renormalised."""
    edges = np.unique(np.concatenate(
        [[-np.inf], np.quantile(ref, np.linspace(0, 1, bins + 1))[1:-1], [np.inf]]))
    p = np.clip(np.histogram(ref, edges)[0] / len(ref), eps, None)
    q = np.clip(np.histogram(cur, edges)[0] / len(cur), eps, None)
    p, q = p / p.sum(), q / q.sum()
    return float(np.sum((q - p) * np.log(q / p)))


def reference_grid(values: np.ndarray, max_n: int = 1024) -> np.ndarray:
    """The drift reference: the linear-interpolation quantile grid
    p_j = j/(k-1), k = min(n, max_n) of the reference windows' values."""
    k = min(len(values), max_n)
    return np.quantile(values.astype(np.float64), np.arange(k) / (k - 1))


# ---- batch_validate --------------------------------------------------------

def check_verdicts(con, out: str) -> list[str]:
    exp = con.execute(" UNION ALL ".join(
        f"SELECT part, '{name}' AS check_name, count(*) FILTER (WHERE {pred}) AS n_violations, "
        f"count(*) AS n_rows FROM images GROUP BY part" for name, pred in SUITE_SQL.items())
    ).fetchdf()
    exp["verdict"] = np.where(exp["n_violations"] == 0, "pass", "fail")
    got = _out(con, f"{out}/verdicts")[["part", "check_name", "n_violations", "n_rows", "verdict"]]
    key = ["part", "check_name"]
    m = exp.merge(got, on=key, how="outer", suffixes=("_exp", "_got"), indicator=True)
    bad = m[(m["_merge"] != "both")
            | (m["n_violations_exp"] != m["n_violations_got"])
            | (m["n_rows_exp"] != m["n_rows_got"])
            | (m["verdict_exp"] != m["verdict_got"])]
    return [f"verdicts: {len(bad)} (part, check) rows differ from DuckDB, e.g. "
            f"{bad.head(2).to_dict('records')}"] if len(bad) else []


def check_violation_rows(con, out: str) -> list[str]:
    exp = _expected_violations(con)
    got = _out(con, f"{out}/violations")
    probs = []
    real = got.merge(exp.drop_duplicates(), left_on=["part", "row_id", "check_name"],
                     right_on=["part", "image_id", "check_name"], how="left", indicator=True)
    fake = real[real["_merge"] == "left_only"]
    if len(fake):
        probs.append(f"violations: {len(fake)} rows are not violations in the input")
    want = exp.groupby(["part", "check_name"]).size().clip(upper=VIOLATION_CAP)
    have = got.groupby(["part", "check_name"]).size()
    diff = want.to_frame("w").join(have.to_frame("h"), how="outer").fillna(0)
    diff = diff[diff["w"] != diff["h"]]
    if len(diff):
        probs.append(f"violations: per-(part, check) counts differ from "
                     f"min(true count, {VIOLATION_CAP}) for {len(diff)} groups")
    return probs


def check_stats(con, out: str) -> list[str]:
    exp = con.execute(
        "SELECT part, min(w) AS w_min, max(w) AS w_max, min(h) AS h_min, max(h) AS h_max, "
        "count(*) AS n_rows FROM images GROUP BY part").fetchdf().set_index("part")
    got = _out(con, f"{out}/stats")
    probs = []
    for col, metric, exp_col in (("w", "min", "w_min"), ("w", "max", "w_max"),
                                 ("h", "min", "h_min"), ("h", "max", "h_max"),
                                 ("*", "n_rows", "n_rows")):
        g = got[(got["column"] == col) & (got["metric"] == metric)].set_index("part")["value"]
        e = exp[exp_col].astype(float)
        if len(g) != len(e) or not g.reindex(e.index).equals(e):
            probs.append(f"stats: {col} {metric} differs from DuckDB")
    return probs


def check_drift(con, drift: pd.DataFrame, manifest: dict, what: str) -> list[str]:
    """Votes fail exactly on the planted windows (never on the reference
    windows), and KS D / PSI of a few windows equal a numpy recomputation
    from the DuckDB-read rows. `drift` has window_id, column, kernel,
    statistic, verdict (batch drift_scores and the stream sink both do)."""
    probs = []
    drifted = set(manifest["drifted_windows"])
    n = manifest["windows"]
    for c in ("w", "h"):
        votes = drift[(drift["kernel"] == "vote") & (drift["column"] == c)]
        if sorted(votes["window_id"]) != list(range(n)):
            probs.append(f"{what}: votes on {c} for windows {sorted(votes['window_id'])}, "
                         f"expected each of {n} windows once")
        failing = set(votes.loc[votes["verdict"] == "fail", "window_id"])
        if failing != drifted:
            probs.append(f"{what}: vote on {c} fails windows {sorted(failing)}, "
                         f"planted shift is in {sorted(drifted)}")
        ref_fail = {w for w in failing if w < REF_WINDOWS}
        if ref_fail:
            probs.append(f"{what}: reference windows {sorted(ref_fail)} fail on {c}")
        vals = con.execute(f"SELECT window_id, {c} FROM images WHERE {c} IS NOT NULL").fetchdf()
        grid = reference_grid(vals.loc[vals["window_id"] < REF_WINDOWS, c].to_numpy())
        for w in (0, n // 2, n - 1):
            cur = vals.loc[vals["window_id"] == w, c].to_numpy(dtype=np.float64)
            for kernel, value in (("ks", ks_d(grid, cur)), ("psi", psi(grid, cur))):
                got = drift[(drift["window_id"] == w) & (drift["column"] == c)
                            & (drift["kernel"] == kernel)]["statistic"]
                if len(got) != 1 or abs(float(got.iloc[0]) - value) > TOL * max(1.0, value):
                    probs.append(f"{what}: {kernel} {c} window {w} = {got.tolist()}, "
                                 f"numpy gives {value}")
    return probs


def check_checkpoint(con, out: str) -> list[str]:
    exp = con.execute(" ".join([
        "SELECT count(*) FROM (SELECT part FROM (",
        " UNION ALL ".join(f"SELECT part, count(*) FILTER (WHERE {p}) AS n FROM images "
                           f"GROUP BY part" for p in SUITE_SQL.values()),
        ") GROUP BY part HAVING sum(n) = 0)"])).fetchone()[0]
    got = con.execute(f"SELECT count(*) FROM '{out}/checkpoint/*.parquet' "
                      "WHERE status = 'pass'").fetchone()[0]
    return [] if got == exp else [f"checkpoint: {got} passed parts, DuckDB finds {exp}"]


def check_batch(data: str, manifest: dict, out: str) -> list[str]:
    con = _con(data)
    return (check_verdicts(con, out) + check_violation_rows(con, out) + check_stats(con, out)
            + check_drift(con, _out(con, f"{out}/drift"), manifest, "drift")
            + check_decode(manifest, out) + check_checkpoint(con, out))


# ---- decode_validate -------------------------------------------------------

def check_decode(manifest: dict, out: str) -> list[str]:
    con = duckdb.connect()
    got = dict(con.execute(f"SELECT check_name, count(*) FROM '{out}/decode_violations/*.parquet' "
                           "GROUP BY 1").fetchall())
    exp = {k: v for k, v in manifest["planted_decode"].items() if v}
    return [] if got == exp else [f"decode: violation counts {got}, planted {exp}"]


# ---- stream_closed ---------------------------------------------------------

STREAM_BASE = "TIMESTAMP '2026-01-01 00:00:00'"


def _window_rows(con, path: str, where: str) -> pd.DataFrame:
    return con.execute(
        f"SELECT CAST(epoch(window_start - {STREAM_BASE}) // {STREAM_WINDOW_S} AS INTEGER) "
        "AS window_id, * "
        f"FROM '{path}/*.parquet' WHERE {where}").fetchdf()


def check_stream(data: str, manifest: dict, out: str, traced: list[dict]) -> list[str]:
    """Closed-window sinks vs DuckDB and the batch drift checks; `traced`
    holds the listener summaries of the traced passes (empty untraced)."""
    con = _con(data)
    probs = []
    windows = set(range(manifest["windows"]))
    vol = _window_rows(con, f"{out}/stream_health", "\"check\" = 'volume'")
    if sorted(vol["window_id"]) != sorted(windows):
        probs.append(f"stream: volume rows for windows {sorted(vol['window_id'])}, "
                     f"expected each of {len(windows)} windows exactly once")
    exp = con.execute("SELECT window_id, count(*) AS n FROM images GROUP BY 1").fetchdf()
    m = exp.merge(vol[["window_id", "n_rows"]], on="window_id", how="outer")
    if (m["n"] != m["n_rows"]).any():
        probs.append("stream: per-window volume differs from DuckDB counts")

    probs += check_drift(con, _window_rows(con, f"{out}/stream_drift", "true"), manifest,
                         "stream drift")
    for row in traced:
        if row["state.rows_dropped_by_watermark"] != 0:
            probs.append(f"stream: {row['state.rows_dropped_by_watermark']} rows dropped "
                         "by the watermark")
        if row["streaming.input_rows"] != manifest["rows"] + 1:
            probs.append(f"stream: listener saw {row['streaming.input_rows']} input rows, "
                         f"staged {manifest['rows']} + 1 sentinel")
    return probs


# ---- operator_mix ----------------------------------------------------------

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, dtype-insensitive form of a result table."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif kind.startswith("float"):
            df[c] = df[c].round(9)
        elif kind.startswith(("int", "uint", "Int")) or kind == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_results(data: str, queries: list[str]) -> dict[str, pd.DataFrame]:
    """Each query's registry oracle SQL, run in DuckDB over the same tables."""
    from al_drift_detection_spark.operators import REGISTRY

    os.environ["SPARK_GRAFT_ORACLE_SF"] = data
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    out = {}
    for q in queries:
        sql = REGISTRY[q].sql
        out[q] = con.execute(sql() if callable(sql) else sql).fetchdf()
    return out


def check_mix(results: dict[str, pd.DataFrame], oracles: dict[str, pd.DataFrame]) -> list[str]:
    probs = []
    for q, exp in oracles.items():
        got = results.get(q)
        if got is None:
            probs.append(f"mix: {q} produced no result")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns) or len(g) != len(e) or not g.equals(e):
            probs.append(f"mix: {q} differs from its DuckDB oracle "
                         f"({len(g)} vs {len(e)} rows)")
    return probs


# ---- dispatch --------------------------------------------------------------

def check(wl, traced: list[dict]) -> list[str]:
    if wl.name == "batch_validate":
        return check_batch(wl.data, wl.manifest, wl.out)
    if wl.name == "stream_closed":
        return check_stream(wl.data, wl.manifest, wl.out, traced)
    return check_mix(wl.results, oracle_results(wl.data, list(wl.results) or ["?"]))


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


def layer_counts(wl) -> dict[str, float]:
    """Per-layer work counts read from the pass's outputs."""
    con = duckdb.connect()

    def rows(table: str) -> float:
        return float(con.execute(f"SELECT count(*) FROM '{wl.out}/{table}/*.parquet'")
                     .fetchone()[0])

    if wl.name == "batch_validate":
        return {"suite.verdict_rows": rows("verdicts"), "suite.violation_rows": rows("violations"),
                "drift.score_rows": rows("drift"),
                "decode.violation_rows": rows("decode_violations"),
                "decode.blob_mb": wl.manifest["decode_blob_bytes"] / 1e6}
    if wl.name == "stream_closed":
        return {"sink.mb": _dir_mb(wl.out) - _dir_mb(f"{wl.out}/_stream_input")}
    return {}
