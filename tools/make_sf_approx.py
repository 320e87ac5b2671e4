"""Generate a statistically-matched APPROXIMATION of a driver testdata sf
directory at an arbitrary scale, for optimization measurement only.

The driver generates /root/testdata/sf{...} itself (TESTDATA.md: read-only,
seed fixed) and regenerates it between sessions; larger scale factors (the
driver's measurement runs at sf1.0 = 10x the committed sf0.1) exist only
inside the driver's own runs. This tool rebuilds tables with the SAME
schemas, key ranges scaled linearly, and the same value distributions
observed on sf0.1 (documented inline), so local before/after timings at
10M-row scale are comparable run-to-run. It is NOT byte-identical to the
driver's data — never use it for oracle checks, only for timing.

Usage: python tools/make_sf_approx.py /tmp/sfx1.0 1.0
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    print(f"{name}: {table.num_rows} rows", flush=True)


def main(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(42)

    def _rows(per_sf1: int) -> int:
        # at least one row per table: a tiny sf would otherwise produce empty
        # tables and divide by zero (span / n_ev)
        return max(1, int(sf * per_sf1))

    # ---- events: 1M rows/sf1 — ts linear in event_id over 30 days (the
    # sf0.1 corr(event_id, ts) is 0.99999), value ~ Exp(mean 50) (sf0.1
    # quantiles match -50*ln(1-q) to 3 digits), user_id uniform, 5 types.
    n_ev = _rows(1_000_000)
    n_users = _rows(15_000)
    ev_id = np.arange(n_ev, dtype=np.int64)
    span = 30 * 86400.0
    ts = (
        np.datetime64("2024-01-01", "us")
        + ((ev_id * (span / n_ev) + rng.uniform(0, span / n_ev, n_ev)) * 1e6)
        .astype("timedelta64[us]")
    )
    _write(out_dir, "events", pa.table({
        "event_id": ev_id,
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(
            ["signup", "click", "purchase", "error", "view"], dtype=object
        )[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array(
            [f'{{"k": {k}}}' for k in range(100)], dtype=object
        )[rng.integers(0, 100, n_ev)],
    }))

    # ---- documents: 50k/sf1 — uniform token counts ~[8, 100] over the
    # 31-word vocab (sf0.1 n_chars 44..577, median 295), lang 41% en /
    # ~15% each of 4 others, source = srcN (20 values).
    n_docs = _rows(50_000)
    tok_counts = rng.integers(8, 101, n_docs)
    vocab = np.array(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), c)]) for c in tok_counts
    ]
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)[
        np.searchsorted([0.41, 0.56, 0.71, 0.86], rng.random(n_docs), "right")
    ]
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs,
        "source": np.array(
            [f"src{i % 20}" for i in range(n_docs)], dtype=object
        ),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # ---- embeddings: 20k/sf1 — random UNIT 64-d vectors (sf0.1 norms are
    # 1.0 and same/cross-label distances are equal: no cluster structure),
    # label uniform 0..9.
    n_vec = _rows(20_000)
    m = rng.standard_normal((n_vec, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }))

    # ---- TPC-H-ish star schema, keys scaled linearly from the sf0.1 ranges
    n_ord, n_cust, n_part, n_supp = (
        _rows(1_500_000), _rows(150_000), _rows(200_000), _rows(10_000)
    )
    n_li = _rows(6_000_000)
    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"], dtype=object)[
            rng.integers(0, 3, n_ord)
        ],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": (
            np.datetime64("1995-01-01", "us")
            + (rng.integers(0, 2500, n_ord) * 86400_000_000).astype(
                "timedelta64[us]"
            )
        ),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object,
        )[rng.integers(0, 5, n_ord)],
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"],
            dtype=object,
        )[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array([f"part {i}" for i in range(n_part)], dtype=object),
        "p_brand": np.array(
            [f"Brand#{i}" for i in range(1, 6)], dtype=object
        )[rng.integers(0, 5, n_part)],
        "p_type": np.array(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
            dtype=object,
        )[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    _write(out_dir, "region", pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object
        ),
    }))
    # lineitem in chunks (6M x 11 cols)
    li_path = os.path.join(out_dir, "lineitem.parquet")
    writer = None
    chunk = 1_000_000
    for lo in range(0, n_li, chunk):
        hi = min(lo + chunk, n_li)
        n = hi - lo
        t = pa.table({
            "l_orderkey": rng.integers(0, n_ord, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": np.floor(rng.uniform(1, 51, n)),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
            "l_returnflag": np.array(["R", "N", "A"], dtype=object)[
                rng.integers(0, 3, n)
            ],
            "l_linestatus": np.array(["F", "O"], dtype=object)[
                rng.integers(0, 2, n)
            ],
            "l_shipdate": (
                np.datetime64("1995-01-01", "us")
                + (rng.integers(0, 2500, n) * 86400_000_000).astype(
                    "timedelta64[us]"
                )
            ),
        })
        if writer is None:
            writer = pq.ParquetWriter(li_path, t.schema)
        writer.write_table(t)
    if writer is not None:
        writer.close()
    print(f"lineitem: {n_li} rows", flush=True)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
