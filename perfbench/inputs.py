"""Seeded input generators for the benchmark's workloads.

Everything here is numpy + pyarrow, written apart from the engine: the
engine only ever sees the parquet files these functions write. The same
seed always gives byte-identical tables. Each generator also returns a
manifest of what it planted, which the output checks compare against.

Images table (FIXTURES.md §1 shape: image_id, bytes, w, h, fmt, caption,
phash, part, window_id) and its reference set (image_id, phash, ref_bytes,
ref_caption). Blobs use the engine's documented stand-in container: a
"<4sHH" header (b"FJPG"/b"FPNG", w, h) followed by h*w grayscale bytes;
FJPG stores pixels quantized to multiples of 4. Faults are planted at fixed
offsets inside each window, so every window carries the same fault mix
whatever the seed:

    offset % 101 == 51   duplicate image_id (exact copy of the row before)
    offset % 83  == 3    truncated blob                   decode_ok
    offset % 71  == 5    stored w off by 3                dims_match
    offset % 73  == 7    stored h = 0                     between_h, dims_match
    offset % 89  == 9    fmt 'bmp'                        in_set_fmt
    offset % 97  == 11   fmt ''                           in_set_fmt
    offset % 61  == 13   caption ''                       non_empty, caption_match
    offset % 67  == 15   caption NULL                     non_empty, caption_match
    offset % 79  == 17   phash bit-flipped (orphan)       referential, phash_match
    offset % 59  == 19   pixel noise vs the reference     psnr_ge_40 (+ phash)

Parts with part % 4 == 3 carry no faults, so some parts pass every check.
The last two windows are drifted (w/h range x1.5, brighter pixels).
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADER = struct.Struct("<4sHH")
WORDS = np.array(
    "the quick brown fox jumps over lazy dog satellite orbit plasma field "
    "magnet shock wave crossing boundary layer solar wind proton flux image "
    "caption sample data valid check drift window batch".split()
)
DRIFTED_WINDOWS = 2


def average_hash(pixels: np.ndarray) -> int:
    """64-bit average hash of a (h, w) uint8 image with h, w >= 8: 8x8
    block means over the image trimmed to multiples of 8, bit = mean above
    the grand mean, bits packed big-endian into a signed int64."""
    h, w = pixels.shape
    th, tw = h // 8 * 8, w // 8 * 8
    blocks = pixels[:th, :tw].reshape(8, th // 8, 8, tw // 8).sum(axis=(1, 3), dtype=np.int64)
    small = blocks / ((th // 8) * (tw // 8))
    bits = (small > small.mean()).flatten()
    return int(np.frombuffer(np.packbits(bits).tobytes(), dtype=">i8")[0])


def _blob(pixels: np.ndarray, fmt: str) -> bytes:
    h, w = pixels.shape
    magic = b"FPNG" if fmt == "png" else b"FJPG"
    return HEADER.pack(magic, w, h) + pixels.tobytes()


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{k:03d}.parquet"))


def make_images(out_dir: str, seed: int, windows: int, rows_per_window: int,
                windows_per_part: int, n_files: int) -> dict:
    """Write images/ and ref/ under out_dir; return the planted-fault manifest."""
    rng = np.random.default_rng(seed)
    n = windows * rows_per_window
    cols: dict[str, list] = {k: [] for k in
                             ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
    ref: dict[str, list] = {k: [] for k in ("image_id", "phash", "ref_bytes", "ref_caption")}
    planted = {k: 0 for k in ("decode_ok", "dims_match", "psnr_ge_40", "phash_match",
                              "caption_match")}
    blob_bytes = 0
    prev = None
    for i in range(n):
        win, off = divmod(i, rows_per_window)
        if (win // windows_per_part) % 4 == 3:
            off = -1  # a clean part: no offset matches a fault
        if off % 101 == 51 and prev is not None:
            # a re-ingested duplicate: the previous row again, faults and all
            for k in cols:
                cols[k].append(cols[k][-1])
            for k in planted:
                planted[k] += prev[k]
            blob_bytes += prev["blob_bytes"]
            continue
        drifted = win >= windows - DRIFTED_WINDOWS
        lo, hi = (24, 72) if drifted else (16, 48)
        w, h = int(rng.integers(lo, hi)), int(rng.integers(lo, hi))
        pixels = (rng.integers(96, 256, (h, w), dtype=np.uint8) if drifted
                  else rng.integers(0, 200, (h, w), dtype=np.uint8))
        fmt = "jpeg" if rng.random() < 0.9 else "png"
        stored = (pixels // 4 * 4).astype(np.uint8) if fmt == "jpeg" else pixels
        phash = average_hash(stored)
        caption = " ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(3, 12)))])
        image_id = f"img_{i:09d}"
        ref["image_id"].append(image_id)
        ref["phash"].append(phash)
        ref["ref_bytes"].append(_blob(pixels, "png"))
        ref["ref_caption"].append(caption)

        flags = dict.fromkeys(planted, 0)
        decoded = stored
        row_phash, row_w, row_h, row_fmt, row_caption = phash, w, h, fmt, caption
        if off % 59 == 19:
            noise = rng.integers(-60, 60, pixels.shape)
            decoded = np.clip(pixels.astype(np.int16) + noise, 0, 255).astype(np.uint8)
            if fmt == "jpeg":
                decoded = (decoded // 4 * 4).astype(np.uint8)
            flags["psnr_ge_40"] = 1
        if off % 79 == 17:
            row_phash = phash ^ 0x5A5A5A5A
        if off % 71 == 5:
            row_w = w + 3
        if off % 73 == 7:
            row_h = 0
        if off % 89 == 9:
            row_fmt = "bmp"
        if off % 97 == 11:
            row_fmt = ""
        if off % 61 == 13:
            row_caption = ""
        if off % 67 == 15:
            row_caption = None
        flags["dims_match"] = int((row_w, row_h) != (w, h))
        flags["phash_match"] = int(average_hash(decoded) != row_phash)
        flags["caption_match"] = int(row_caption != caption)
        blob = _blob(decoded, fmt)
        if off % 83 == 3:
            blob = blob[: len(blob) // 2]
            # an undecodable blob reports decode_ok and nothing else
            flags = dict.fromkeys(planted, 0)
            flags["decode_ok"] = 1
        for k, v in (("image_id", image_id), ("bytes", blob), ("w", row_w), ("h", row_h),
                     ("fmt", row_fmt), ("caption", row_caption), ("phash", row_phash)):
            cols[k].append(v)
        for k in planted:
            planted[k] += flags[k]
        flags["blob_bytes"] = len(blob) + len(ref["ref_bytes"][-1])
        blob_bytes += flags["blob_bytes"]
        prev = flags

    window_id = np.arange(n, dtype=np.int32) // rows_per_window
    images = pa.table({
        "image_id": pa.array(cols["image_id"], pa.string()),
        "bytes": pa.array(cols["bytes"], pa.binary()),
        "w": pa.array(cols["w"], pa.int32()),
        "h": pa.array(cols["h"], pa.int32()),
        "fmt": pa.array(cols["fmt"], pa.string()),
        "caption": pa.array(cols["caption"], pa.string()),
        "phash": pa.array(cols["phash"], pa.int64()),
        "part": pa.array(window_id // windows_per_part, pa.int32()),
        "window_id": pa.array(window_id, pa.int32()),
    })
    ref_t = pa.table({
        "image_id": pa.array(ref["image_id"], pa.string()),
        "phash": pa.array(ref["phash"], pa.int64()),
        "ref_bytes": pa.array(ref["ref_bytes"], pa.binary()),
        "ref_caption": pa.array(ref["ref_caption"], pa.string()),
    })
    _write_parts(images, os.path.join(out_dir, "images"), n_files)
    _write_parts(ref_t, os.path.join(out_dir, "ref"), n_files)
    return {"rows": n, "windows": windows, "rows_per_window": rows_per_window,
            "drifted_windows": list(range(windows - DRIFTED_WINDOWS, windows)),
            "planted_decode": planted, "decode_blob_bytes": blob_bytes}


VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split(), dtype=object)


def make_tables(out_dir: str, seed: int, scale: float) -> dict:
    """The registry's TPC-H-ish star schema + documents/embeddings/events at
    `scale` (1.0 = 6M lineitem rows), one parquet file per table, with the
    schemas and value ranges of the engine's TPC-H-ish test data
    (TESTDATA.md)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    def days(n: int, start: str) -> np.ndarray:
        return np.datetime64(start, "us") + (rng.integers(0, 2500, n) * 86_400_000_000).astype(
            "timedelta64[us]")

    n_ev = int(scale * 1_000_000)
    ev_id = np.arange(n_ev, dtype=np.int64)
    span = 30 * 86400.0
    offs = ev_id * (span / n_ev) + rng.uniform(0, span / n_ev, n_ev)
    write("events", pa.table({
        "event_id": ev_id,
        "ts": np.datetime64("2024-01-01", "us") + (offs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(scale * 15_000), 1), n_ev),
        "event_type": np.array(["signup", "click", "purchase", "error", "view"],
                               dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)],
                          dtype=object)[rng.integers(0, 100, n_ev)],
    }))

    n_docs = int(scale * 50_000)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), c)]) for c in rng.integers(8, 101, n_docs)]
    write("documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(["en", "zh", "es", "fr", "de"], dtype=object)[
            np.searchsorted([0.41, 0.56, 0.71, 0.86], rng.random(n_docs), "right")],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    n_vec = int(scale * 20_000)
    m = rng.standard_normal((n_vec, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }))

    n_ord, n_cust, n_part, n_supp = (int(scale * 1_500_000), int(scale * 150_000),
                                     int(scale * 200_000), int(scale * 10_000))
    write("orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": days(n_ord, "1995-01-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], dtype=object)[rng.integers(0, 5, n_ord)],
    }))
    write("customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                                  "FURNITURE"], dtype=object)[rng.integers(0, 5, n_cust)],
    }))
    write("part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array([f"part {i}" for i in range(n_part)], dtype=object),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 6)], dtype=object)[
            rng.integers(0, 5, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
                           dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
    }))
    write("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    write("nation", pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    write("region", pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object),
    }))
    n_li = int(scale * 6_000_000)
    write("lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": np.floor(rng.uniform(1, 51, n_li)),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["R", "N", "A"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": days(n_li, "1995-01-01"),
    }))
    return {"rows": rows}


def ensure(kind: str, root: str, seed: int, **size) -> tuple[str, dict]:
    """Generate the inputs for (kind, seed, size) once under root and return
    (directory, manifest); later calls with the same key reuse them."""
    key = "-".join([kind, str(seed)] + [f"{k}{v}" for k, v in sorted(size.items())])
    out = os.path.join(root, key)
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = (make_images if kind == "images" else make_tables)(tmp, seed, **size)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, out)
    with open(manifest_path) as fh:
        return out, json.load(fh)
