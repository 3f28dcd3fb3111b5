"""Multimodal binary-column plumbing: schema, mapInPandas batch shape,
deterministic fake codecs, explicit stubs for real codecs."""

import numpy as np
import pytest

from go_lsh_spark.functions.multimodal import (
    IMAGE_SCHEMA,
    RAW_FRAMES_GRAY8,
    RAW_GRAY8,
    VIDEO_SCHEMA,
    decode_image,
    frame_sample_indexes,
    image_feature_frame,
    image_features,
    video_frame_features,
)


def _mk_image(seed: int, w=16, h=12):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    return img, img.tobytes()


def test_decode_and_features_roundtrip():
    img, raw = _mk_image(0)
    got = decode_image(raw, 16, 12, RAW_GRAY8)
    np.testing.assert_array_equal(got, img)
    f = image_features(img, grid=4)
    assert f.shape == (16,)
    assert (0 <= f).all() and (f <= 1).all()


def test_unknown_codecs_are_explicit_stubs():
    with pytest.raises(NotImplementedError):
        decode_image(b"x", 1, 1, "webp")
    from go_lsh_spark.functions.multimodal import decode_video_frames

    with pytest.raises(NotImplementedError):
        decode_video_frames(b"x", 1, 1, 1, "h264")


def test_frame_sampling_deterministic():
    np.testing.assert_array_equal(frame_sample_indexes(10, 4), [0, 2, 5, 7])
    np.testing.assert_array_equal(frame_sample_indexes(3, 5), [0, 1, 2])


def test_image_feature_frame_spark(spark):
    rows = []
    for i in range(6):
        img, raw = _mk_image(i)
        rows.append((f"img_{i}", raw, 16, 12, RAW_GRAY8))
    df = spark.createDataFrame(rows, IMAGE_SCHEMA)
    out = image_feature_frame(df, grid=4).collect()
    assert len(out) == 6
    local = {f"img_{i}": image_features(_mk_image(i)[0], 4) for i in range(6)}
    for r in out:
        np.testing.assert_allclose(np.array(r.features), local[r.image_id])


def test_video_frame_features_spark(spark):
    rng = np.random.default_rng(3)
    rows = []
    for i in range(3):
        frames = rng.integers(0, 256, size=(8, 12, 16), dtype=np.uint8)
        rows.append((f"vid_{i}", frames.tobytes(), 16, 12, 8, 4.0, RAW_FRAMES_GRAY8))
    df = spark.createDataFrame(rows, VIDEO_SCHEMA)
    out = video_frame_features(df, k_frames=4, grid=4)
    rows_out = out.collect()
    assert len(rows_out) == 12  # 3 videos x 4 sampled frames
    assert {r.frame_index for r in rows_out} == {0, 2, 4, 6}
    assert all(len(r.features) == 16 for r in rows_out)


# -- PNG (real stdlib-zlib codec) --------------------------------------------


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_gray_all_filters(filter_type):
    from go_lsh_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7 + filter_type)
    img = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
    got = decode_png(encode_png(img, filter_type=filter_type))
    np.testing.assert_array_equal(got, img)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_rgb_all_filters(filter_type):
    from go_lsh_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.default_rng(70 + filter_type)
    img = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    got = decode_png(encode_png(img, filter_type=filter_type))
    np.testing.assert_array_equal(got, img)


def test_png_decode_image_and_feature_frame(spark):
    from go_lsh_spark.functions.multimodal import PNG, encode_png, to_gray

    rng = np.random.default_rng(99)
    rows = []
    imgs = {}
    for i in range(6):
        img = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
        imgs[f"png{i}"] = img
        rows.append((f"png{i}", encode_png(img), 16, 12, PNG))
    df = spark.createDataFrame(rows, IMAGE_SCHEMA)
    feats = {r["image_id"]: r["features"] for r in image_feature_frame(df).collect()}
    assert len(feats) == 6
    for iid, img in imgs.items():
        expected = image_features(to_gray(img), grid=4)
        np.testing.assert_allclose(feats[iid], expected, rtol=1e-12)


def test_png_unsupported_flavors_are_explicit():
    from go_lsh_spark.functions.multimodal import decode_png

    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-a-chunk")
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff", 4, 4, "jpeg")
