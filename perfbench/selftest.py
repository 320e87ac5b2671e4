#!/usr/bin/env python3
"""Show that every output check fails on a deliberately corrupted output.

    python3 perfbench/selftest.py

Runs batch_validate and stream_closed once each (seed 1, via run.py) to get
real engine outputs, confirms the checks pass on them, then copies the
outputs, corrupts one thing at a time and confirms the matching check
reports it. The operator_mix check is exercised on the DuckDB oracle
results themselves with one value altered. Exits 1 if any corruption goes
unnoticed or a clean output is flagged.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
from workloads import IMAGES, MIX_QUERIES, MIX_SCALE  # noqa: E402

SEED = 1


def rewrite(table_dir: str, edit) -> None:
    """Replace a parquet directory by edit(its rows as pandas)."""
    df = duckdb.connect().execute(f"SELECT * FROM '{table_dir}/*.parquet'").fetchdf()
    df = edit(df)
    shutil.rmtree(table_dir)
    os.makedirs(table_dir)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(table_dir, "part-0.parquet"))


def first(df, mask):
    return df.index[mask][0]


def flip_verdict(df):
    i = first(df, df["verdict"] == "pass")
    df.loc[i, "verdict"] = "fail"
    return df


def fake_violation(df):
    df.loc[df.index[0], "row_id"] = "img_not_a_row"
    return df


def bump_w_max(df):
    i = first(df, (df["column"] == "w") & (df["metric"] == "max"))
    df.loc[i, "value"] += 1
    return df


def pass_drifted_vote(df):
    i = first(df, (df["kernel"] == "vote") & (df["verdict"] == "fail"))
    df.loc[i, "verdict"] = "pass"
    return df


def nudge_ks(df):
    i = first(df, (df["kernel"] == "ks") & (df["window_id"] == 0) & (df["column"] == "w"))
    df.loc[i, "statistic"] += 1e-6
    return df


def drop_decode_row(df):
    return df.iloc[1:]


def pass_failed_part(df):
    i = first(df, df["status"] == "fail")
    df.loc[i, "status"] = "pass"
    return df


def drop_window(df):
    i = first(df, df["check"] == "volume")
    return df.drop(index=i)


def duplicate_vote(df):
    i = first(df, (df["kernel"] == "vote") & (df["column"] == "h"))
    return pd.concat([df, df.loc[[i]]])


def run_workload(name: str) -> None:
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                          "--seed", str(SEED), "--seconds", "0", "--trace", "0"],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if res.returncode != 0 or '"correct": true' not in res.stdout.splitlines()[-1]:
        sys.exit(f"selftest: {name} did not produce correct outputs:\n{res.stdout[-500:]}")


def main() -> int:
    data, manifest = inputs.ensure("images", os.path.join(WORK, "inputs"), SEED, **IMAGES)
    for name in ("batch_validate", "stream_closed"):
        run_workload(name)
    scratch = os.path.join(WORK, "selftest")
    listener_ok = {"state.rows_dropped_by_watermark": 0.0,
                   "streaming.input_rows": float(manifest["rows"] + 1)}

    def batch(out):
        return checks.check_batch(data, manifest, out)

    def stream(out, traced=(listener_ok,)):
        return checks.check_stream(data, manifest, out, list(traced))

    cases = [
        # (workload, table to corrupt or None, corruption, check, expected problem prefix)
        ("batch_validate", "verdicts", flip_verdict, batch, "verdicts:"),
        ("batch_validate", "violations", fake_violation, batch, "violations:"),
        ("batch_validate", "stats", bump_w_max, batch, "stats:"),
        ("batch_validate", "drift", pass_drifted_vote, batch, "drift: vote"),
        ("batch_validate", "drift", nudge_ks, batch, "drift: ks"),
        ("batch_validate", "decode_violations", drop_decode_row, batch, "decode:"),
        ("batch_validate", "checkpoint", pass_failed_part, batch, "checkpoint:"),
        ("stream_closed", "stream_health", drop_window, stream, "stream: volume rows"),
        ("stream_closed", "stream_drift", duplicate_vote, stream, "stream drift: votes"),
        ("stream_closed", None, None,
         lambda out: stream(out, [{**listener_ok, "state.rows_dropped_by_watermark": 3.0}]),
         "stream: 3.0 rows dropped"),
        ("stream_closed", None, None,
         lambda out: stream(out, [{**listener_ok, "streaming.input_rows": float(manifest["rows"])}]),
         "stream: listener saw"),
    ]
    failures = 0
    for wl in ("batch_validate", "stream_closed"):
        out = os.path.join(WORK, "out", wl)
        clean = batch(out) if wl == "batch_validate" else stream(out)
        print(f"{'ok  ' if not clean else 'FAIL'} clean {wl} outputs pass every check {clean}")
        failures += bool(clean)
    for wl, table, corrupt, check, expect in cases:
        out = os.path.join(scratch, wl)
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(os.path.join(WORK, "out", wl), out)
        if table:
            rewrite(os.path.join(out, table), corrupt)
        found = [p for p in check(out) if p.startswith(expect)]
        what = f"{table}: {corrupt.__name__}" if table else expect
        print(f"{'ok  ' if found else 'FAIL'} {wl} {what} -> {found[:1]}")
        failures += not found

    tables, _ = inputs.ensure("tables", os.path.join(WORK, "inputs"), SEED,
                                      scale=MIX_SCALE)
    oracles = checks.oracle_results(tables, MIX_QUERIES)
    altered = {q: df.copy() for q, df in oracles.items()}
    q = MIX_QUERIES[-1]
    col = altered[q].columns[-1]
    altered[q][col] = altered[q][col].astype(object)
    v = altered[q].at[0, col]
    altered[q].at[0, col] = v + 1 if isinstance(v, (int, float)) else f"{v}x"
    clean = checks.check_mix(oracles, oracles)
    found = [p for p in checks.check_mix(altered, oracles) if p.startswith(f"mix: {q}")]
    print(f"{'ok  ' if not clean and found else 'FAIL'} operator_mix altered oracle row in {q} "
          f"-> {found[:1]}")
    failures += bool(clean) or not found
    shutil.rmtree(scratch, ignore_errors=True)
    print("selftest:", "all corruptions detected" if not failures else f"{failures} FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
