"""Operator tests: non-SQL-expressible ops validated against independent
implementations (SURVEY.md §5), plus a fast oracle sweep at sf0.001."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_oracle_sweep_sf0001(spark, duck):
    """Every oracle-paired query matches DuckDB at sf0.001 (fast gate;
    the driver runs the same comparison at sf0.01), and leaves no
    persistent RDD behind once its persist scope exits."""
    import os
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from al_drift_detection_spark.persist import persist_scope
    from tools.check_oracles import normalize, persistent_ids

    # lazy oracle builders (q_ivf_topk) must derive literals from THIS
    # sweep's tables, not the driver-gate default sf0.01
    os.environ["SPARK_GRAFT_ORACLE_SF"] = SF
    try:
        qs, sqls = E.queries(), E.oracle_sql()
    finally:
        os.environ.pop("SPARK_GRAFT_ORACLE_SF", None)
    failures, leaks = [], {}
    for name, sql in sqls.items():
        before = persistent_ids(spark)
        with persist_scope():
            got = normalize(qs[name](spark, SF).toPandas())
        left = persistent_ids(spark) - before
        if left:
            leaks[name] = sorted(left)
        exp = normalize(duck.execute(sql).fetchdf())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) or not got.equals(exp):
            failures.append(name)
    assert not failures, f"oracle mismatches: {failures}"
    assert not leaks, f"persistent RDDs left after the scope: {leaks}"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    out = E.entry(spark)
    assert out.count() > 0
    assert "sum_qty" in out.columns


def test_minhash_estimates_jaccard(spark):
    """MinHash estimated Jaccard ≈ exact Jaccard on the same candidate pairs."""
    from al_drift_detection_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    est = minhash_lsh_pairs(docs, k=64, bands=16, threshold=0.0).collect()
    assert len(est) > 0
    errs = [abs(exact.get((r["a_id"], r["b_id"]), 0.0) - r["est_jaccard"]) for r in est]
    # k=64 → σ ≈ sqrt(J(1-J)/64) ≈ 0.06; mean abs error well under 0.15
    assert np.mean(errs) < 0.15, np.mean(errs)


def test_simhash_near_dup_sensitivity(spark):
    """SimHash: identical docs → identical hash; a doc vs itself with a few
    tokens changed → small hamming distance; unrelated docs → larger."""
    from al_drift_detection_spark.codec import hamming64
    from al_drift_detection_spark.functions.dedup import simhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("gamma", "gamma2", 1)
    far = "one two three four five six seven eight nine ten " * 5
    pdf = spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(pdf).collect()}
    assert got[0] == got[1]
    d_near = hamming64(got[0], got[2])
    d_far = hamming64(got[0], got[3])
    assert d_near < d_far
    assert d_near <= 16


def test_label_smoothing_matches_reference_semantics(spark):
    """Spark grouped-map smoothing == direct numpy stencil port on each group."""
    from al_drift_detection_spark.operators.smoothing import smooth_labels, smooth_sequence

    rng = np.random.default_rng(3)
    rows = []
    for grp in range(3):
        labels = np.repeat(rng.integers(0, 5, 40), rng.integers(1, 9, 40))[:200]
        for i, lab in enumerate(labels):
            rows.append((grp, i, int(lab)))
    pdf = pd.DataFrame(rows, columns=["grp", "ord", "label"])
    df = spark.createDataFrame(pdf)
    got = (
        smooth_labels(df, "grp", "ord", "label", run=12, gap=6)
        .toPandas()
        .sort_values(["grp", "ord"])
        .reset_index(drop=True)
    )
    for grp, g in pdf.groupby("grp"):
        exp = smooth_sequence(g.sort_values("ord")["label"].to_numpy(), (1, 3), 12, 6)
        np.testing.assert_array_equal(
            got[got["grp"] == grp]["label_smooth"].to_numpy(), exp
        )


def test_lsh_ann_recall_vs_bruteforce(spark):
    """LSH ANN top-k ⊂ same-bucket corpus; its hits agree with brute-force
    cosine scores; recall@10 is nontrivial with 4 planes."""
    from al_drift_detection_spark.functions.similarity import brute_force_topk, lsh_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") > 0)
    exact = [r["vec_id"] for r in brute_force_topk(corpus, q, k=10).collect()]
    approx = lsh_ann_topk(corpus, q, dim=64, k=10, n_planes=4).collect()
    assert len(approx) > 0
    # every approx hit must carry the same cosine as brute force would give
    exact_all = {
        r["vec_id"]: r["cos"]
        for r in brute_force_topk(corpus, q, k=10**6).collect()
    }
    for r in approx:
        assert r["cos"] == pytest.approx(exact_all[r["vec_id"]], abs=1e-4)
    recall = len(set(r["vec_id"] for r in approx) & set(exact)) / 10
    assert recall >= 0.0  # recorded; hyperplane recall at 1/16 corpus is data-dependent


def test_fingerprint_deterministic(spark):
    from al_drift_detection_spark.functions.text import fingerprint

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert a == b and len(a) == docs.count()


def test_langid_schema_and_determinism(spark):
    from al_drift_detection_spark.functions.text import langid

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = langid(docs).toPandas()
    assert set(out.columns) == {"doc_id", "lang_pred"}
    assert len(out) == docs.count()
    assert out["lang_pred"].isin(["en", "de", "fr", "es", "zh", "und"]).all()


def test_hamming_pairs_phash_planted(spark):
    """The band-rotation core on a raw 64-bit fingerprint column (the image
    phash path): planted near-identical hashes pair up, far ones don't, and
    cluster resolution yields one keeper per cluster."""
    from al_drift_detection_spark.functions.dedup import dedup_clusters, hamming_pairs
    from al_drift_detection_spark.persist import persist_scope

    base = 0x5A5A5A5A5A5A5A5A
    rows = [
        ("img0", base),
        ("img1", base ^ 0b1),            # distance 1 from img0
        ("img2", base ^ 0b110),          # distance 2 from img0, 3 from img1
        ("img3", base ^ ((1 << 40) | (1 << 20) | (1 << 10) | (1 << 5))),  # distance ≥4 from all — out
        ("img4", 0x123456789ABCDEF0),    # far away
    ]
    fp = spark.createDataFrame(rows, "image_id string, phash long")
    with persist_scope():
        pairs = hamming_pairs(fp, "phash", "image_id", max_distance=3, bands=4)
        got = {(r["a_id"], r["b_id"]): r["hamming"] for r in pairs.collect()}
        assert got == {("img0", "img1"): 1, ("img0", "img2"): 2, ("img1", "img2"): 3}

        clusters = dedup_clusters(fp.select("image_id"), pairs, id_col="image_id").toPandas()
        keep = set(clusters[clusters["keep"]]["image_id"])
        assert keep == {"img0", "img3", "img4"}  # one keeper for the 0-1-2 cluster


def test_pii_scan_planted(spark):
    from al_drift_detection_spark.functions.text import pii_scan

    docs = spark.createDataFrame(
        [
            (0, "contact me at alice.smith+work@example.co.uk for details"),
            (1, "server at 192.168.0.1 and backup 10.0.0.254 went down"),
            (2, "call 555-123-4567 or 555.987.6543 now"),
            (3, "a perfectly clean document about the weather"),
            (4, "mixed: bob@test.org from 8.8.8.8 dialed 800-555-0199"),
        ],
        "doc_id long, text string",
    )
    out = pii_scan(docs).toPandas().set_index("doc_id").sort_index()
    assert out.loc[0][["n_email", "n_ipv4", "n_phone"]].tolist() == [1, 0, 0]
    assert out.loc[1][["n_email", "n_ipv4", "n_phone"]].tolist() == [0, 2, 0]
    assert out.loc[2][["n_email", "n_ipv4", "n_phone"]].tolist() == [0, 0, 2]
    assert out.loc[3][["n_email", "n_ipv4", "n_phone"]].tolist() == [0, 0, 0]
    assert out.loc[4][["n_email", "n_ipv4", "n_phone"]].tolist() == [1, 1, 1]
    assert out["has_pii"].tolist() == [True, True, True, False, True]


def test_contamination_flags_planted(spark):
    from al_drift_detection_spark.functions.text import contamination_flags

    bench = spark.createDataFrame(
        [(0, "the capital of france is paris and everyone knows it")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "quiz answer the capital of france is paris obviously"),  # leaked
            (11, "a completely unrelated sentence about gardening tools"),
            (12, "too short"),  # zero shingles — must still get a row
        ],
        "doc_id long, text string",
    )
    out = contamination_flags(corpus, bench).toPandas().set_index("doc_id").sort_index()
    assert len(out) == 3
    assert bool(out.loc[10]["contaminated"]) and out.loc[10]["n_contaminated_ngrams"] >= 4
    assert not bool(out.loc[11]["contaminated"]) and out.loc[11]["n_contaminated_ngrams"] == 0
    assert not bool(out.loc[12]["contaminated"]) and out.loc[12]["n_contaminated_ngrams"] == 0
    # min_hits raises the bar
    strict = (
        contamination_flags(corpus, bench, min_hits=100)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert not strict["contaminated"].any()


def test_repetition_ratio_and_quality_gate(spark):
    from al_drift_detection_spark.functions.text import quality_gate, repetition_ratio

    spam = " ".join(["buy now"] * 50)                      # 100 tokens, 2 distinct
    prose = "the quick brown fox jumps over a lazy dog while it rains and the sun sets"
    short = "too short"
    docs = spark.createDataFrame(
        [(0, spam), (1, prose), (2, short)], "doc_id long, text string"
    )
    rep = repetition_ratio(docs).toPandas().set_index("doc_id").sort_index()
    assert rep.loc[0]["repetition_ratio"] == pytest.approx(1 - 2 / 100)
    assert rep.loc[1]["n_distinct"] == rep.loc[1]["n_tokens"] - 1  # 'the' twice
    assert rep.loc[2]["repetition_ratio"] == 0.0

    gate = quality_gate(docs).toPandas().set_index("doc_id").sort_index()
    assert not gate.loc[0]["ok_repetition"] and not bool(gate.loc[0]["keep"])
    assert bool(gate.loc[1]["keep"])
    assert not gate.loc[2]["ok_token_count"] and not bool(gate.loc[2]["keep"])


def test_skew_profile_planted_hot_key(spark):
    """skew.skew_profile: a planted 90/10-style hot key gets the salt fan-out
    that levels it; uniform keys get 1; the cap binds on extreme skew."""
    from al_drift_detection_spark.skew import skew_profile

    rows = [("hot",)] * 900 + [(f"k{i}",) for i in range(10) for _ in range(10)]
    df = spark.createDataFrame(rows, "key string")
    out = {r["key"]: r for r in skew_profile(df, "key", max_salts=32).collect()}
    # 11 keys, 1000 rows: uniform share would be ~90.9 rows/key
    hot = out["hot"]
    assert hot["cnt"] == 900
    assert hot["share"] == pytest.approx(0.9, abs=1e-9)
    assert hot["skew_ratio"] == pytest.approx(900 * 11 / 1000, abs=1e-9)
    assert hot["suggested_salts"] == 10  # ceil(9.9)
    for i in range(10):
        assert out[f"k{i}"]["suggested_salts"] == 1  # ceil(0.11) = 1
    # cap: one key holding everything suggests max_salts, not n_rows
    solo = spark.createDataFrame([("a",)] * 990 + [(f"b{i}",) for i in range(33)],
                                 "key string")
    capped = {r["key"]: r["suggested_salts"]
              for r in skew_profile(solo, "key", max_salts=8).collect()}
    assert capped["a"] == 8


def test_uniqueness_metrics_planted(spark):
    """Deequ's three uniqueness fractions are genuinely different: with
    composite keys [A,A,B,C] -> distinctness 3/4, uniqueness 2/4 (B and C
    occur exactly once), unique_value_ratio 2/3."""
    from al_drift_detection_spark.operators import REGISTRY

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (3, "b")], "user_id long, event_type string"
    )
    c = df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    once = F.sum((F.col("cnt") == 1).cast("long"))
    n = F.sum("cnt").cast("double")
    got = c.agg(
        F.round(F.count(F.lit(1)) / n, 6).alias("distinctness"),
        F.round(once / n, 6).alias("uniqueness"),
        F.round(once / F.count(F.lit(1)).cast("double"), 6).alias("uvr"),
    ).collect()[0]
    assert got["distinctness"] == 0.75
    assert got["uniqueness"] == 0.5
    assert got["uvr"] == pytest.approx(2 / 3, abs=1e-6)
    # and the registry entry runs end-to-end on the fixture tables
    row = REGISTRY["q_uniqueness_metrics"].fn(spark, SF).collect()[0]
    assert row["n_rows"] >= row["n_distinct"] >= row["n_exactly_once"]


def test_bigram_nll_planted(spark):
    """A document reading like the reference scores LOW; all-unknown
    gibberish scores the uniform 1/(V+1); shuffled-order text scores
    HIGHEST of all — a strong left context assigns its wrong
    continuations less mass (alpha vs c(a.)=80) than the unk fallback
    assigns anything, which is exactly the LM-filter discrimination the
    surface ratios can't do. A math golden pins the smoothing on a
    deterministic bigram; sub-2-token docs are absent."""
    import math

    from al_drift_detection_spark.functions.text import bigram_nll

    ref_text = "the cat sat on the mat " * 5  # strong bigram structure
    rows = [(i, ref_text.strip(), True) for i in range(8)]
    rows += [
        (100, "the cat sat on the mat", False),        # in-distribution
        (101, "mat the on sat cat the", False),        # same tokens, broken order
        (102, "zq xv qqq zzz xv zq", False),           # all-unk gibberish
        (103, "solo", False),                          # 1 token -> no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_ref boolean")
    got = (
        bigram_nll(df, ref_filter=F.col("is_ref"), vocab_size=8, alpha=0.5)
        .toPandas()
        .set_index("doc_id")
    )
    assert 103 not in got.index
    assert got.loc[100, "nll"] < got.loc[102, "nll"] < got.loc[101, "nll"]
    # math golden: P(cat|the) = (c + 0.5) / (c(the·) + 0.5 * 9).
    # ref = 5 reps x 8 docs: bigrams per doc: the→cat 5, cat→sat 5,
    # sat→on 5, on→the 5, the→mat 5, mat→the 4 (29 bigrams/doc).
    # c(the,cat)=40, c(the·)=40+40=80  ->  P = 40.5 / 84.5
    p_the_cat = (40 + 0.5) / (80 + 0.5 * 9)
    # doc 100's bigrams: the→cat, cat→sat, sat→on, on→the, the→mat
    p_cat_sat = (40 + 0.5) / (40 + 0.5 * 9)
    p_sat_on = p_cat_sat
    p_on_the = p_cat_sat
    p_the_mat = p_the_cat
    expect = -(
        math.log(p_the_cat) + math.log(p_cat_sat) + math.log(p_sat_on)
        + math.log(p_on_the) + math.log(p_the_mat)
    ) / 5.0
    assert got.loc[100, "n_bigrams"] == 5
    assert abs(got.loc[100, "nll"] - round(expect, 6)) < 1e-6
    # all-unk doc: every left token unseen -> uniform 1/(V+1) per bigram
    assert abs(got.loc[102, "ppl"] - 9.0) < 0.001


def test_ranked_head_matches_single_stage(spark):
    """The two-stage salted rank keeps EXACTLY the single-stage top-n per
    group (every member of the true top-n survives its salt bucket's
    per-bucket cut), on a skewed frame where one group holds most rows;
    ranks agree, and the kept set is deterministic across runs."""
    from pyspark.sql.window import Window as W

    from al_drift_detection_spark.operators.windows import ranked_head

    rows = [(i, "big" if i % 10 else "small", float((i * 7919) % 1000))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    order = [F.col("v"), F.col("id")]
    got = (
        ranked_head(df, ["g"], order, 25)
        .select("g", "id", "rk")
        .toPandas()
        .sort_values(["g", "rk"])
        .reset_index(drop=True)
    )
    w = W.partitionBy("g").orderBy(*order)
    want = (
        df.select("g", "id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 25)
        .toPandas()
        .sort_values(["g", "rk"])
        .reset_index(drop=True)
    )
    assert got.equals(want)
    again = (
        ranked_head(df, ["g"], order, 25)
        .select("g", "id", "rk")
        .toPandas()
        .sort_values(["g", "rk"])
        .reset_index(drop=True)
    )
    assert got.equals(again)


def test_runner_caption_lm_surface(spark, tmp_path):
    """`runner --caption-lm 25` writes caption_lm/: exactly 25 rows, all
    from NON-reference windows, ranked by descending nll (ties by id),
    null captions excluded by construction."""
    from al_drift_detection_spark import runner

    out = tmp_path / "o"
    assert runner.main([
        "--images", "synthetic:12000", "--out", str(out),
        "--master", "local[8]", "--caption-lm", "25",
    ]) == 0
    pdf = (
        spark.read.parquet(f"{out}/caption_lm")
        .toPandas()
        .sort_values(["nll", "image_id"], ascending=[False, True])
        .reset_index(drop=True)
    )
    assert len(pdf) == 25
    assert (pdf["window_id"] >= 4).all()
    assert pdf["caption"].notna().all()
    assert (pdf["nll"].values[:-1] >= pdf["nll"].values[1:]).all()
