"""Codec, phash, and vectorized decode UDF tests (PSNR gate included)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from feature_store_spark.functions.images import (
    decode_image,
    encode_image,
    phash64,
    psnr,
    with_image_features,
)
from feature_store_spark.pipeline.datagen import generate_images
from feature_store_spark.pipeline.oracle import oracle_image_features


def test_png_roundtrip_lossless():
    rng = np.random.default_rng(1)
    px = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_image(px, "png")), px)


def test_jpeg_roundtrip_psnr_over_40db():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    dec = decode_image(encode_image(px, "jpeg"))
    assert dec.shape == px.shape
    assert psnr(px, dec) >= 40.0


def test_phash_deterministic_and_robust():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    h1 = phash64(px)
    assert h1 == phash64(px.copy())
    # lossy roundtrip must not move the hash far (perceptual property)
    dec = decode_image(encode_image(px, "jpeg"))
    dist = bin(np.uint64(h1).view(np.uint64) ^ np.uint64(phash64(dec)).view(np.uint64)).count("1")
    assert dist <= 8


def test_datagen_deterministic():
    a = generate_images(n_rows=50, n_entities=8, seed=42)
    b = generate_images(n_rows=50, n_entities=8, seed=42)
    pd.testing.assert_frame_equal(a, b)
    assert set(a.columns) == {
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "event_time"
    }
    # stored phash matches recompute from bytes
    for _, r in a.head(10).iterrows():
        assert phash64(decode_image(bytes(r["bytes"]))) == r["phash"]


def test_spark_decode_matches_oracle(spark):
    pdf = generate_images(n_rows=120, n_entities=10, seed=7)
    sdf = spark.createDataFrame(pdf)
    got = (
        with_image_features(sdf)
        .orderBy("image_id", "event_time", "phash")
        .toPandas()
    )
    want = oracle_image_features(pdf).sort_values(
        ["image_id", "event_time", "phash"], kind="stable"
    ).reset_index(drop=True)
    assert len(got) == len(want)
    assert got["phash"].tolist() == want["phash"].tolist()
    assert got["caption"].tolist() == want["caption"].tolist()
    for c in ["mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b"]:
        assert np.allclose(got[c].to_numpy(float), want[c].to_numpy(float))
    # decoded dims equal declared dims
    assert (got["dec_w"].to_numpy() == got["w"].to_numpy()).all()
    assert (got["dec_h"].to_numpy() == got["h"].to_numpy()).all()


def test_null_payload_gives_null_features_corrupt_fails(spark):
    """A null payload keeps its row with null features and leaves every
    other row of its Arrow batch exact (a 63-bit phash must not pass
    through a float column); a corrupt payload fails the task."""
    good = generate_images(n_rows=6, n_entities=2, seed=9)
    rows = pd.DataFrame(
        {
            "image_id": list(good["image_id"]) + ["null"],
            "bytes": list(good["bytes"]) + [None],
            "event_time": list(good["event_time"]) + [good["event_time"].iloc[0]],
        }
    )
    out = with_image_features(
        spark.createDataFrame(rows).coalesce(1)
    ).collect()
    assert len(out) == 7  # row preservation
    by_id = {}
    for r in out:
        by_id.setdefault(r["image_id"], []).append(r)
    null = by_id.pop("null")[0]
    assert null["phash"] is None and null["mean_r"] is None
    want = sorted(phash64(decode_image(b)) for b in good["bytes"])
    assert sorted(r["phash"] for rs in by_id.values() for r in rs) == want
    corrupt = rows.assign(bytes=list(good["bytes"]) + [b"garbage-not-an-image"])
    with pytest.raises(Exception):
        with_image_features(spark.createDataFrame(corrupt)).collect()


def test_resize_pipeline(spark):
    """decode → nearest-neighbor resize → re-encode in one map stage:
    dims correct, lossless for png, deterministic, other columns kept."""
    import numpy as np

    from feature_store_spark.functions.images import (
        decode_image,
        resize_nn,
        with_resized_images,
    )
    from feature_store_spark.pipeline.datagen import generate_images

    pdf = generate_images(n_rows=40, n_entities=5, seed=77)
    df = spark.createDataFrame(pdf)
    out = with_resized_images(df, out_w=8, out_h=6).toPandas()
    assert len(out) == 40
    assert set(["image_id", "caption", "event_time"]).issubset(out.columns)
    assert (out["w"] == 8).all() and (out["h"] == 6).all()
    # decoded thumbnails equal the numpy kernel applied to the original
    src = pdf.set_index(pdf.index)
    for i in [0, 7, 23]:
        want = resize_nn(decode_image(bytes(src.iloc[i]["bytes"])), 8, 6)
        got = decode_image(bytes(out.iloc[i]["bytes"]))
        assert got.shape == (6, 8, 3)
        assert np.array_equal(got, want)
    # deterministic across runs
    again = with_resized_images(df, out_w=8, out_h=6).toPandas()
    assert [bytes(b) for b in out["bytes"]] == [bytes(b) for b in again["bytes"]]
