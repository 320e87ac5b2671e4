from __future__ import annotations

from pyspark.sql import functions as F


def test_image_features_and_resize(spark):
    from al_drift_detection_spark.datagen import generate_images
    from al_drift_detection_spark.functions.multimodal import image_features, resize_images

    imgs = generate_images(spark, 500, rows_per_window=250).cache()
    feats = image_features(imgs).toPandas()
    assert len(feats) == 500
    bad = feats[~feats["ok"]]
    assert len(bad) > 0  # planted truncated blobs
    ok = feats[feats["ok"]]
    assert (ok["width"] > 0).all() and (ok["mean_px"].between(0, 255)).all()
    # phash recomputed from decoded pixels must equal the stored phash for
    # rows without planted corruption (compare Spark-side: toPandas() turns a
    # nullable long column into float64 and mangles 64-bit hashes)
    feats_df = image_features(imgs).filter(F.col("ok"))
    joined = feats_df.select("image_id", F.col("phash").alias("rehash")).join(
        imgs.select("image_id", "phash"), "image_id"
    )
    n_ok = joined.count()
    n_match = joined.filter(F.col("rehash") == F.col("phash")).count()
    assert n_match / n_ok > 0.95

    thumbs = resize_images(imgs, target=8).toPandas()
    okt = thumbs[thumbs["thumb"].notna()]
    assert ((okt["thumb_w"] == 8) & (okt["thumb_h"] == 8)).mean() > 0.9


def _wav_bytes(x, sr, sampwidth=2, nch=1):
    """Encode a float waveform in [-1, 1] as a real PCM WAV container."""
    import io
    import wave

    import numpy as np

    if sampwidth == 2:
        raw = (np.asarray(x) * 32767).astype("<i2").tobytes()
    elif sampwidth == 1:
        raw = ((np.asarray(x) * 127) + 128).clip(0, 255).astype("u1").tobytes()
    else:
        raw = (np.asarray(x) * 2147483647).astype("<i4").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(sampwidth)
        w.setframerate(sr)
        w.writeframes(raw)
    return buf.getvalue()


def test_audio_decode_and_features(spark):
    """Real-WAV decode + audio_features: verdicts against analytically known
    signal properties (pure sine: rms=A/sqrt(2), zcr=2f/sr, centroid=f)."""
    import numpy as np

    from al_drift_detection_spark.functions.multimodal import audio_features, decode_audio

    sr, f, amp, n = 8000, 1000.0, 0.5, 8000
    t = np.arange(n) / sr
    sine = amp * np.sin(2 * np.pi * f * t)

    # decoder unit contract: 16-bit round-trip, 8-bit tolerance, stereo downmix
    x16, got_sr = decode_audio(_wav_bytes(sine, sr))
    assert got_sr == sr and len(x16) == n
    assert np.allclose(x16, sine, atol=2e-4)
    x8, _ = decode_audio(_wav_bytes(sine, sr, sampwidth=1))
    assert np.allclose(x8, sine, atol=2e-2)
    stereo = np.stack([sine, -sine], axis=1).ravel()  # L/R cancel → silence
    xs, _ = decode_audio(_wav_bytes(stereo, sr, nch=2))
    assert len(xs) == n and np.abs(xs).max() < 1e-3
    assert decode_audio(b"not a wav container") is None
    assert decode_audio(_wav_bytes(sine, sr)[:40]) is None  # truncated header

    rows = [
        ("sine", _wav_bytes(sine, sr)),
        ("silence", _wav_bytes(np.zeros(4000), sr)),
        ("corrupt", b"\x00" * 64),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = audio_features(df).toPandas().set_index("audio_id")

    assert bool(got.loc["sine", "ok"]) and bool(got.loc["silence", "ok"])
    assert not bool(got.loc["corrupt", "ok"]) and not bool(got.loc["null", "ok"])
    assert got.loc["corrupt"].drop("ok").isna().all()
    s = got.loc["sine"]
    assert s["sample_rate"] == sr and s["n_samples"] == n
    assert abs(s["duration_s"] - 1.0) < 1e-9
    assert abs(s["rms"] - amp / np.sqrt(2)) < 1e-3
    assert abs(s["zcr"] - 2 * f / sr) < 0.01
    assert abs(s["spectral_centroid"] - f) < 25.0  # leakage-broadened peak
    assert got.loc["silence", "rms"] == 0.0 and got.loc["silence", "spectral_centroid"] == 0.0


def test_video_frame_sampling(spark):
    from al_drift_detection_spark.functions.multimodal import video_frame_sample

    rows = [(f"m{i}", bytes(range(256)) * (i + 4)) for i in range(10)]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = video_frame_sample(df).toPandas()
    assert out["media_id"].nunique() == 10
    assert (out.groupby("media_id")["frame_idx"].max() >= 0).all()


def test_salted_agg_matches_plain(spark):
    from al_drift_detection_spark.skew import salted_agg, skewed_key_histogram
    from al_drift_detection_spark.datagen import generate_images

    imgs = generate_images(spark, 3000, rows_per_window=1000).cache()
    hist = skewed_key_histogram(imgs, "fmt").toPandas()
    assert hist.iloc[0]["share"] > 0.8  # jpeg skew planted

    plain = (
        imgs.groupBy("fmt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sum_w"), F.min("h").alias("min_h"))
        .toPandas()
        .set_index("fmt")
    )
    salted = (
        salted_agg(
            imgs,
            ["fmt"],
            {"n": F.count(F.lit(1)), "sum_w": F.sum("w"), "min_h": F.min("h")},
            row_key="image_id",
            n_salts=8,
        )
        .toPandas()
        .set_index("fmt")
    )
    for fmt in plain.index:
        for c in ("n", "sum_w", "min_h"):
            assert plain.loc[fmt, c] == salted.loc[fmt, c], (fmt, c)
