"""Edge-case hardening: tolerance ratios, all-null drift columns, unicode
text in dedup, empty inputs — the inputs a 100 TB corpus WILL contain."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from al_drift_detection_spark import suite as S


def test_max_violation_ratio_tolerance(spark):
    """A partition passes while violations/rows ≤ ratio; strict (0.0) fails
    on the first violation."""
    rows = [(0, f"r{i}", "" if i < 2 else "ok") for i in range(10)]  # 20% empty
    df = spark.createDataFrame(rows, "part int, image_id string, caption string")

    strict = S.CheckSuite([S.non_empty("caption")]).run(df).verdicts.first()
    assert strict["verdict"] == "fail" and strict["n_violations"] == 2

    tolerant = (
        S.CheckSuite([S.non_empty("caption", max_violation_ratio=0.25)])
        .run(df).verdicts.first()
    )
    assert tolerant["verdict"] == "pass" and tolerant["n_violations"] == 2

    tight = (
        S.CheckSuite([S.non_empty("caption", max_violation_ratio=0.1)])
        .run(df).verdicts.first()
    )
    assert tight["verdict"] == "fail"


def test_drift_scores_all_null_window(spark):
    """A window whose value column is entirely null must score as a clean
    pass (empty current sample → kernels return 0/1), not crash."""
    from al_drift_detection_spark.drift import drift_scores

    rows = [(0, 0, float(v)) for v in np.arange(100.0)]
    rows += [(0, 1, None)] * 50  # all-null window
    df = spark.createDataFrame(rows, "part int, window_id int, v double")
    ref = {"v": np.arange(100.0)}
    out = drift_scores(df, ["v"], ref).toPandas()
    w1 = out[(out["window_id"] == 1) & (out["kernel"] == "vote")]
    assert (w1["verdict"] == "pass").all()


def test_dedup_unicode_text(spark):
    """Tokenization/hashing must survive non-ASCII corpora."""
    from al_drift_detection_spark.functions.dedup import exact_dedup, simhash

    rows = [
        ("u1", "давні орбіти магнітного поля Меркурія та сонячний вітер"),
        ("u2", "давні орбіти магнітного поля Меркурія та сонячний вітер"),
        ("u3", "地磁気の境界層を横切る衛星の軌道データ と 太陽風"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    groups = exact_dedup(df).toPandas()
    assert len(groups) == 2  # u1==u2 collapse, u3 alone
    assert groups["n_copies"].max() == 2
    fps = simhash(df).toPandas()
    assert fps["simhash"].nunique() == 2


def test_suite_on_empty_dataframe(spark):
    """Zero input rows → zero verdict rows (no partitions), empty violations,
    no crash."""
    df = spark.createDataFrame([], "part int, image_id string, caption string")
    res = S.CheckSuite([S.non_empty("caption"), S.unique("image_id")]).run(df)
    assert res.verdicts.count() == 0
    assert res.violations.count() == 0


def test_global_cumulative_single_bucket(spark):
    """Degenerate bucketing (everything in one bucket) still produces the
    correct global row numbers."""
    from al_drift_detection_spark.operators.windows import global_cumulative

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, v double")
    out = global_cumulative(
        df, bucket=F.lit(0), order_cols=["v"], row_number_col="rn"
    ).toPandas().sort_values("v")
    assert out["rn"].tolist() == list(range(1, 101))


def test_read_orbit_csvs_filename_derivation(spark, tmp_path_factory):
    """S1-S3: multi-file CSV scan derives ORBIT from df_<N>.csv names when
    the column is absent, drops null rows, and unions all files in one scan
    (ref util.py:37-58, 53-55)."""
    from al_drift_detection_spark.sources import read_orbit_csvs

    d = tmp_path_factory.mktemp("orbits")
    (d / "df_233.csv").write_text("DATE,BX\n2024-01-01 00:00:00,1.5\n2024-01-01 00:00:01,2.5\n")
    (d / "df_380.csv").write_text("DATE,BX\n2024-01-02 00:00:00,3.5\n,\n")  # null row dropped
    df = read_orbit_csvs(spark, f"{d}/df_*.csv", "DATE timestamp, BX double")
    got = df.toPandas().sort_values(["ORBIT", "BX"])
    assert got["ORBIT"].tolist() == [233, 233, 380]
    assert got["BX"].tolist() == [1.5, 2.5, 3.5]


def test_decode_audio_stub_deterministic():
    from al_drift_detection_spark.functions.multimodal import decode_audio_stub

    a = decode_audio_stub(b"\x00\x80\xff" * 400)
    b = decode_audio_stub(b"\x00\x80\xff" * 400)
    import numpy as np

    assert np.array_equal(a, b)
    assert a.dtype == np.float32 and len(a) == 1024
    assert float(a.min()) >= -1.0 and float(a.max()) <= 1.0


def test_predicate_check_cross_column(spark):
    """Free-form SQL predicate constraints (the most general check kind):
    cross-column expression, coded AND via the JSON config path."""
    rows = [
        (0, "a", 10, 100), (0, "b", 10, 5),   # b violates w <= h * 10? 10 <= 50 ok
        (1, "c", 200, 10), (1, "d", 5, 100),  # c violates (200 > 100)
    ]
    df = spark.createDataFrame(rows, "part int, image_id string, w int, h int")
    suite = S.CheckSuite(
        [S.predicate("w_le_10h", "w <= h * 10", column="w")],
        part_col="part",
    )
    res = suite.run(df)
    verd = {r["part"]: (r["verdict"], r["n_violations"]) for r in res.verdicts.collect()}
    assert verd == {0: ("pass", 0), 1: ("fail", 1)}
    viol = res.violations.toPandas()
    assert viol["row_id"].tolist() == ["c"]
    assert viol["observed"].tolist() == ["200"]

    cfg = {"part_col": "part", "checks": [
        {"kind": "predicate", "name": "w_le_10h", "expr": "w <= h * 10", "column": "w"}
    ]}
    res2 = S.suite_from_config(cfg).run(df)
    assert {r["part"]: r["n_violations"] for r in res2.verdicts.collect()} == {0: 0, 1: 1}


def test_split_assignment_reference_rules(spark):
    """SURVEY §3.2 steps 3-4 (ref cnn.py:503-560): per drift — 20%-or-1
    test, next-block valid, entropy-top-k train, overflow unused."""
    from al_drift_detection_spark.operators.splits import split_assignment

    # one drift, 7 groups (g0..g6): take = max(7//5,1) = 1 → g0 test, g1 valid;
    # remaining g2..g6 ranked by label entropy — g2 has 3 labels (highest),
    # g3/g4 two labels, g5/g6 one label (zero entropy)
    rows = []
    labels_by_group = {
        0: [0, 0, 0], 1: [1, 1, 1],
        2: [0, 1, 2], 3: [0, 1, 1], 4: [2, 0, 0], 5: [3, 3, 3], 6: [4, 4, 4],
    }
    for g, labs in labels_by_group.items():
        rows += [(g, l) for l in labs]
    df = spark.createDataFrame(rows, "grp long, label int")
    dmap = spark.createDataFrame([(g, 1) for g in range(7)], "grp long, drift int")
    out = {r["grp"]: r["split"]
           for r in split_assignment(df, dmap, max_orbits=3).collect()}
    assert out[0] == "test" and out[1] == "valid"
    assert out[2] == "train"            # highest entropy
    assert out[3] == "train" and out[4] == "train"  # two-label groups
    assert out[5] == "unused" and out[6] == "unused"  # zero entropy, past cap


def test_global_cumulative_matches_pandas_with_ties(spark):
    """The two-pass bucketed machinery must reproduce exact global running
    sums (RANGE frame: ties share the cumulative value) and row numbers on
    data with duplicate order keys and skewed buckets."""
    import numpy as np
    import pandas as pd

    from al_drift_detection_spark.operators.windows import global_cumulative

    rng = np.random.default_rng(13)
    # heavy duplication (values drawn from a small grid) + skew (mostly small)
    v = np.round(rng.exponential(20.0, 600), 0)
    r = rng.integers(0, 3, 600).astype(float)
    ids = np.arange(600)
    df = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, v, r)],
        "id long, v double, r double",
    )
    out = global_cumulative(
        df, bucket=F.floor(F.col("v") / 7), order_cols=["v"], sums={"cr": "r"}
    ).toPandas()

    pdf = pd.DataFrame({"id": ids, "v": v, "r": r}).sort_values(["v", "id"])
    # RANGE frame: cumulative sum over all rows with order key <= current
    totals = pdf.groupby("v")["r"].sum().sort_index().cumsum()
    expected = pdf["v"].map(totals)
    got = out.set_index("id").loc[pdf["id"]]["cr"].to_numpy()
    assert np.allclose(got, expected.to_numpy())

    out2 = global_cumulative(
        df, bucket=F.floor(F.col("v") / 7), order_cols=["v", "id"],
        row_number_col="rn",
    ).toPandas().sort_values(["v", "id"])
    assert out2["rn"].tolist() == list(range(1, 601))


def test_global_lead_matches_pandas_across_bucket_gaps(spark):
    """Bucketed global lead must equal lead() over the single global order,
    including across bucket boundaries and EMPTY buckets (value gaps), with
    NULL for the final global row."""
    import numpy as np
    import pandas as pd

    from al_drift_detection_spark.operators.windows import global_lead

    rng = np.random.default_rng(7)
    # distinct values with big gaps so floor(v/7) leaves empty buckets
    v = np.unique(np.round(rng.exponential(40.0, 400), 2))
    df = spark.createDataFrame([(float(x),) for x in v], "v double")
    out = (
        global_lead(df, bucket=F.floor(F.col("v") / 7), order_col="v", out_col="nv")
        .toPandas()
        .sort_values("v")
    )
    expected = pd.Series(v).shift(-1)
    got = out["nv"].to_numpy()
    assert np.isnan(got[-1])
    assert np.allclose(got[:-1], expected.to_numpy()[:-1])

    with pytest.raises(ValueError, match="NULL bucket"):
        null_df = spark.createDataFrame([(1.0,), (None,)], "v double")
        global_lead(null_df, bucket=F.floor(F.col("v") / 7), order_col="v", out_col="nv")


def test_global_cumulative_fused_lead_matches_global_lead(spark):
    """The lead_col fused into global_cumulative (one collect + one join for
    cumulative AND lead — the r8 q_wasserstein job-count cut) must produce
    exactly global_lead's column next to exactly the unfused cumulative
    sums, across bucket gaps and at the final global row."""
    import numpy as np

    from al_drift_detection_spark.operators.windows import (
        global_cumulative,
        global_lead,
    )

    rng = np.random.default_rng(11)
    v = np.unique(np.round(rng.exponential(40.0, 500), 2))
    rows = [(float(x), float(i % 3)) for i, x in enumerate(v)]
    df = spark.createDataFrame(rows, "v double, r double")
    bucket = F.floor(F.col("v") / 7)

    fused = (
        global_cumulative(
            df, bucket=bucket, order_cols=["v"], sums={"cr": "r"}, lead_col="nv"
        )
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    cum = global_cumulative(df, bucket=bucket, order_cols=["v"], sums={"cr": "r"})
    unfused = (
        global_lead(cum, bucket=bucket, order_col="v", out_col="nv")
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    assert fused["cr"].tolist() == unfused["cr"].tolist()
    got, want = fused["nv"].to_numpy(), unfused["nv"].to_numpy()
    assert np.isnan(got[-1]) and np.isnan(want[-1])
    assert np.array_equal(got[:-1], want[:-1])

    with pytest.raises(ValueError, match="exactly one order column"):
        global_cumulative(
            df, bucket=bucket, order_cols=["v", "r"], lead_col="nv"
        )


def test_global_cumulative_lead_order_column_dtype(spark):
    """lead_col over an INTEGER order column works (the boundary min is
    carried as double), and a non-numeric order column is a contract error
    up front, not an opaque createDataFrame type failure."""
    from al_drift_detection_spark.operators.windows import global_cumulative

    vals = [3, 5, 8, 13, 21, 34, 55]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = (
        global_cumulative(
            df, bucket=F.floor(F.col("v") / 10), order_cols=["v"], lead_col="nv"
        )
        .toPandas()
        .sort_values("v")
    )
    assert out["nv"].tolist()[:-1] == [float(v) for v in vals[1:]]
    assert np.isnan(out["nv"].tolist()[-1])

    strs = spark.createDataFrame([("a",), ("b",)], "s string")
    with pytest.raises(ValueError, match="numeric order column"):
        global_cumulative(
            strs, bucket=F.lit(0), order_cols=["s"], lead_col="ns"
        )


def test_q_salted_agg_equals_plain_groupby(spark):
    """The salted two-level rewrite is semantics-preserving: identical to the
    plain groupBy on the same fixture (registry q_salted_agg)."""
    from al_drift_detection_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["q_salted_agg"].fn(spark, sf).toPandas().set_index("l_returnflag").sort_index()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exp = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .toPandas().set_index("l_returnflag").sort_index()
    )
    assert got["sum_qty"].tolist() == exp["sum_qty"].tolist()
    assert got["n"].tolist() == exp["n"].tolist()
    assert got["min_price"].tolist() == exp["min_price"].tolist()
    assert got["max_price"].tolist() == exp["max_price"].tolist()


def test_q_topk_per_query_matches_bruteforce(spark):
    """Registry q_topk_per_query equals a per-query numpy brute-force rank."""
    import numpy as np

    from al_drift_detection_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["q_topk_per_query"].fn(spark, sf).toPandas()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    corpus = ids >= 3
    for q_id in (0, 1, 2):
        sims = Xn[corpus] @ Xn[ids == q_id][0]
        order = np.lexsort((ids[corpus], -np.round(sims, 4)))[:5]
        exp_ids = ids[corpus][order].tolist()
        got_ids = got[got["q_id"] == q_id].sort_values("rk")["vec_id"].tolist()
        assert got_ids == exp_ids, q_id


def test_global_cumulative_null_sum_values(spark):
    """NULLs in the SUM column follow SQL RANGE-window semantics: the running
    sum is NULL only while the GLOBAL frame has seen no non-null value, then
    ignores nulls — including buckets whose leading rows are null but whose
    predecessors already contributed (ADVICE r2)."""
    import pandas as pd

    from al_drift_detection_spark.operators.windows import global_cumulative

    # unique order keys; nulls at the global head AND at a bucket head (v=14
    # opens bucket floor(14/7)=2 with a null while bucket 0-1 contributed)
    rows = [
        (0, 0.0, None), (1, 1.0, None), (2, 2.0, 5.0), (3, 3.0, None),
        (4, 8.0, 2.0), (5, 9.0, None), (6, 14.0, None), (7, 15.0, 1.0),
        (8, 21.0, None), (9, 22.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "id long, v double, r double")
    out = (
        global_cumulative(df, bucket=F.floor(F.col("v") / 7), order_cols=["v"], sums={"cr": "r"})
        .toPandas().sort_values("v")
    )
    pdf = pd.DataFrame(rows, columns=["id", "v", "r"]).sort_values("v")
    exp = pdf["r"].fillna(0.0).cumsum().where(pdf["r"].notna().cumsum() > 0)
    got = out["cr"]
    assert [
        (g if pd.notna(g) else None) for g in got
    ] == [(e if pd.notna(e) else None) for e in exp], (got.tolist(), exp.tolist())


def test_assign_drift_regimes_all_null_window(spark):
    """A window whose value column is entirely NULL must inherit the current
    regime (an empty sketch scores KS (0.0, 1.0)), not crash in
    np.asarray(None) (ADVICE r2, medium)."""
    import numpy as np

    from al_drift_detection_spark.regimes import assign_drift_regimes

    rows = [(0, 0, float(v)) for v in np.arange(100.0)]
    rows += [(0, 1, None)] * 50  # all-null window
    rows += [(0, 2, float(v)) for v in np.arange(100.0)]
    df = spark.createDataFrame(rows, "part int, window_id int, v double")
    ref = {"v": np.arange(100.0)}
    out = assign_drift_regimes(df, ["v"], ref).toPandas().sort_values("window_id")
    assert out["regime_id"].tolist() == [1, 1, 1]
    assert not out["is_new"].any()


def test_unique_check_heavily_duplicated_column(spark):
    """A majority-duplicated key column (the input the unique check exists to
    catch) yields a fail verdict with all duplicate copies counted — and the
    dup-key join must not force a broadcast of the O(n) dup-key set
    (ADVICE r2: AQE picks the strategy)."""
    rows = [(i % 2, f"r{i}", "k" + str(i % 3)) for i in range(300)]  # 3 keys, 300 rows
    df = spark.createDataFrame(rows, "part int, image_id string, k string")
    suite = S.CheckSuite([S.unique("k")], row_id_col="image_id")
    res = suite.run(df)
    verd = res.verdicts.toPandas().sort_values("part")
    assert (verd["verdict"] == "fail").all()
    assert verd["n_violations"].sum() == 300  # every copy counts once
    assert res.violations.count() > 0
    res.unpersist()
    # the plan must not carry a user-forced broadcast hint on the dup-key side
    plan = suite._dup_rows(df, S.unique("k"))._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in plan and "hint" not in plan.lower()


def test_pair_operators_release_persisted(spark):
    """Candidate-pair operators persist their shared self-join child; the
    caller's persist scope must unpersist it on exit so a long session
    doesn't accumulate executor storage (ADVICE r2)."""
    from al_drift_detection_spark.functions.dedup import minhash_lsh_pairs
    from al_drift_detection_spark.persist import persist_scope

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id string, text string",
    )
    before = ids()
    with persist_scope():
        pairs = minhash_lsh_pairs(docs)
        pairs.count()
        assert ids() - before
    assert ids() - before == set()


def test_train_ivf_centroids_duplicate_corpus(spark):
    """A corpus of exact-duplicate embeddings must not kill the k-means++
    seeding ('probabilities do not sum to 1', ADVICE r2): uniform fallback."""
    from al_drift_detection_spark.functions.similarity import train_ivf_centroids

    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    cents = train_ivf_centroids(df, k=4, sample_n=50, iters=2)
    assert len(cents) == 4
    assert all(len(c) == 4 for c in cents)


def test_build_reference_sample_bounded_sketch(spark):
    """Above exact_threshold the reference grid switches to the bounded-buffer
    percentile_approx sketch (VERDICT r2: exact percentile's value→count agg
    buffer is unbounded on continuous doubles) and stays within rank
    tolerance of the exact grid."""
    import numpy as np

    from al_drift_detection_spark.drift import _grid_agg, build_reference_sample

    n = 60_000
    df = spark.range(n).select(((F.col("id") % 9973) / 9973.0).alias("v"))
    exact = build_reference_sample(df, ["v"], max_n=257, exact_threshold=10**9)["v"]
    approx = build_reference_sample(df, ["v"], max_n=257, exact_threshold=1_000)["v"]
    assert len(approx) == len(exact) == 257
    # near-uniform values: value error ≈ rank error ≤ ~1e-4, loose bound 0.01
    assert float(np.max(np.abs(approx - exact))) < 0.01
    # agg selection: bounded sketch above the threshold, exact below
    assert "percentile_approx" in str(_grid_agg("v", 10**7, 1024, 100_000, 10_000))
    assert "percentile_approx" not in str(_grid_agg("v", 10**4, 1024, 100_000, 10_000))


def test_dedup_clusters_releases_composed_persist(spark):
    """Composition point: dedup_clusters builds the pair frame from its
    function argument inside a nested persist scope, so the banded
    self-join child is freed once the edge list is materialized — before
    any action on the result, with no caller scope open."""
    from al_drift_detection_spark.functions.dedup import dedup_clusters, minhash_lsh_pairs

    def ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta epsilon zeta {i % 3}") for i in range(30)],
        "doc_id string, text string",
    )
    before = ids()
    built = []

    def pairs():
        built.append(minhash_lsh_pairs(docs))
        return built[-1]

    out = dedup_clusters(docs.select("doc_id"), pairs)
    assert built  # the banded child was persisted and read ...
    assert ids() - before == set()  # ... and freed inside dedup_clusters
    assert out.count() == 30


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.one_of(st.none(), st.integers(-5, 5))),
        min_size=1,
        max_size=60,
    )
)
def test_global_cumulative_null_sums_property(spark, rows):
    """Property form of the NULL-sum RANGE semantics: arbitrary mixes of
    ties, skewed buckets and nulls must match the pandas oracle — cumulative
    ignores nulls, NULL only while no non-null value exists anywhere in the
    frame (ties share the cumulative value)."""
    import pandas as pd

    from al_drift_detection_spark.operators.windows import global_cumulative

    data = [(i, float(v), None if r is None else float(r)) for i, (v, r) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, v double, r double")
    out = (
        global_cumulative(df, bucket=F.floor(F.col("v") / 7), order_cols=["v"], sums={"cr": "r"})
        .toPandas().set_index("id").sort_index()
    )
    pdf = pd.DataFrame(data, columns=["id", "v", "r"])
    per_v = pdf.groupby("v")["r"].agg(
        s=lambda x: x.dropna().sum(), n=lambda x: x.notna().sum()
    ).sort_index()
    cums, cumn = per_v["s"].cumsum(), per_v["n"].cumsum()
    for _, row in pdf.iterrows():
        got = out.loc[row["id"], "cr"]
        if cumn[row["v"]] > 0:
            assert got == pytest.approx(cums[row["v"]]), (row["v"], got)
        else:
            assert pd.isna(got), (row["v"], got)


def test_q_positional_project_matches_named_select(spark):
    """P4 ordinal projection equals the equivalent named-column select and
    survives a hypothetical column reorder only via position (ref util.py
    iloc semantics)."""
    from al_drift_detection_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["q_positional_project"].fn(spark, sf).toPandas()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cols = li.columns
    assert (cols[0], cols[3], cols[4]) == ("l_orderkey", "l_linenumber", "l_quantity")
    exp = (
        li.filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("c2"))
        .toPandas()
    )
    key = ["l_orderkey", "l_linenumber", "c2"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        exp.sort_values(key).reset_index(drop=True)
    )
