"""input_hint invariants over the binary image column: decoded-pixel
fidelity (PSNR ≥ 40 dB for the lossy fmt), caption byte-equality through
a full pipeline, phash integrity."""

import numpy as np
import pytest

from batch_geocode_spark import codecs, datagen
from batch_geocode_spark.operators import multimodal as MM

N = 60


@pytest.fixture(scope="module")
def images(spark):
    return datagen.images_to_spark(spark, N, with_bytes=True).cache()


def test_validate_images_integrity(images):
    got = MM.validate_images(images).toPandas()
    assert len(got) == N
    assert got["decode_ok"].all()
    assert got["dims_ok"].all()
    assert got["phash_match"].all()
    assert (got["phash_hamming"] == 0).all()


def test_lossy_psnr_floor_through_spark(images):
    """Decode via the Spark pipeline and compare against regenerated
    source pixels: PSNR ≥ 40 dB for dctq, exact for ppm."""
    pdf = images.select("image_id", "bytes", "fmt").toPandas()
    for r in pdf.itertuples():
        i = int(r.image_id[3:])
        src = _regen_pixels(i)
        dec = codecs.decode_image(r.bytes, r.fmt)
        if r.fmt == "ppm":
            assert np.array_equal(dec, src)
        else:
            assert codecs.psnr(src, dec) >= 40.0


def _regen_pixels(i: int, seed: int = 42):
    ws, hs = [16, 32, 64], [16, 24, 48]
    w, h = ws[i % 3], hs[i % 3]
    rng = np.random.default_rng(seed + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1))[:, :, None] * np.asarray([1, 0, 0]) + (
        xx * 255 // max(w - 1, 1)
    )[:, :, None] * np.asarray([0, 1, 0])
    return np.clip(base + rng.integers(0, 32, size=(h, w, 3)), 0, 255).astype(np.uint8)


def test_resize_pipeline_preserves_captions(images):
    out = MM.resize_images(images, 8, 8).toPandas().set_index("image_id")
    src = images.select("image_id", "caption").toPandas().set_index("image_id")
    assert out["caption"].sort_index().equals(src["caption"].sort_index())
    assert (out["w"] == 8).all() and (out["h"] == 8).all()
    sample = out.iloc[0]
    img = codecs.decode_ppm(bytes(sample["bytes"]))
    assert img.shape == (8, 8, 3)


def test_extract_features_shape(images):
    got = MM.extract_features(images).toPandas()
    assert len(got) == N
    assert all(len(f) == MM.FEATURE_DIM for f in got["features"])
    arr = np.stack([np.asarray(f) for f in got["features"]])
    assert np.isfinite(arr).all()
    assert arr.std(axis=0).min() > 0  # no constant/degenerate dims


def test_validate_images_null_metadata(spark):
    """ADVICE r3: null w/h/phash (nullable parquet schema) must not cast
    NaN → INT64_MIN and report decode_ok=True with garbage hamming; such
    rows report (decode_ok=False, hamming=64, null mean) while the rest
    of the batch still takes the batched kernel."""
    pdf = datagen.make_images(6, with_bytes=True).astype(
        {"w": "object", "h": "object", "phash": "object"}
    )
    pdf.loc[0, "w"] = None
    pdf.loc[1, "phash"] = None
    df = spark.createDataFrame(
        pdf,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    got = MM.validate_images(df).toPandas().set_index("image_id")
    for i in range(2):
        row = got.loc[pdf.loc[i, "image_id"]]
        assert not bool(row["decode_ok"])
        assert int(row["phash_hamming"]) == 64
        assert row["mean_px"] is None or row["mean_px"] != row["mean_px"]
    for i in range(2, 6):
        row = got.loc[pdf.loc[i, "image_id"]]
        assert bool(row["decode_ok"]) and bool(row["phash_match"])


def test_image_near_dup_pairs_via_phash(spark):
    """Real pixel path: an image and a lightly-perturbed copy have
    near-identical average-hashes; the band join must surface the pair
    and exact hamming must verify it. An unrelated image must not pair."""
    import numpy as np

    from batch_geocode_spark import codecs
    from batch_geocode_spark.operators import multimodal as M

    rng = np.random.default_rng(9)
    # smooth gradient image: tiny perturbations cannot flip many blocks
    base = (
        np.linspace(0, 255, 64 * 64 * 3).reshape(64, 64, 3).astype(np.uint8)
    )
    near = base.copy()
    near[10:12, 10:12] = 255 - near[10:12, 10:12]  # small local edit
    other = rng.integers(0, 256, size=(64, 64, 3)).astype(np.uint8)
    rows = [
        (1, codecs.average_hash(base)),
        (2, codecs.average_hash(near)),
        (3, codecs.average_hash(other)),
    ]
    ham12 = bin((rows[0][1] ^ rows[1][1]) & (2**64 - 1)).count("1")
    assert ham12 <= 3, f"fixture must plant a near-dup (got hamming {ham12})"
    df = spark.createDataFrame(rows, "image_id long, phash long")
    got = M.image_near_dup_pairs(df, max_hamming=3).toPandas()
    pairs = {(r.image_a, r.image_b) for r in got.itertuples()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def _payload_rows(name: str, img: np.ndarray, fmts=("ppm", "dctq")):
    """One row per fmt carrying ``img``'s payload, with the phash and
    dims of its decoded pixels (the scalar reference)."""
    import pandas as pd

    rows = []
    for fmt in fmts:
        buf = codecs.encode_image(img, fmt)
        dec = codecs.decode_image(buf, fmt)
        rows.append((f"{name}_{fmt}", buf, dec.shape[1], dec.shape[0], fmt, name,
                     codecs.average_hash(dec)))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])


def test_resize_batch_equals_scalar(spark):
    """The grouped batch resize must reproduce the scalar reference bit
    for bit — same nearest-neighbor index arrays, same PPM bytes, same
    phash — for out dims that are multiples of 8, odd out dims, and
    out dims under 8 px (empty hash blocks), from regular and tiny
    (5×3) inputs."""
    import pandas as pd

    rng = np.random.default_rng(11)
    tiny = rng.integers(0, 256, size=(3, 5, 3)).astype(np.uint8)
    pdf = pd.concat(
        [datagen.make_images(40, with_bytes=True), _payload_rows("tiny", tiny)],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf, IMAGES_SCHEMA)
    for out_h, out_w in [(8, 8), (7, 9), (3, 5)]:
        got = MM.resize_images(df, out_h, out_w).toPandas().set_index("image_id")
        for r in pdf.itertuples():
            img = codecs.decode_image(r.bytes, r.fmt)
            small = codecs.resize_nearest(img, out_h, out_w)
            row = got.loc[r.image_id]
            assert bytes(row["bytes"]) == codecs.encode_ppm(small)
            assert int(row["phash"]) == codecs.average_hash(small)
            assert row["caption"] == r.caption


def test_extract_features_batch_equals_scalar(spark):
    """Grouped batch feature extraction must equal the B=1 scalar path
    exactly (the kernel derives every statistic from exact int64 pixel
    sums, so values are batch-size-independent by construction)."""
    pdf = datagen.make_images(40, with_bytes=True)
    df = spark.createDataFrame(
        pdf,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    got = MM.extract_features(df).toPandas().set_index("image_id")
    for r in pdf.itertuples():
        img = codecs.decode_image(r.bytes, r.fmt)
        expect = MM._features_from_stack(img[None])[0]
        np.testing.assert_array_equal(
            np.asarray(got.loc[r.image_id]["features"], dtype=np.float32), expect
        )


def test_validate_images_batch_equals_scalar(spark):
    """The grouped batch kernel must reproduce the scalar reference
    (``decode_image`` + ``average_hash``) bit for bit on every shape:
    odd dims, tiny 5×3 images (empty hash blocks), a 1-channel DCTQ
    payload — and malformed payloads report decode_ok=False and a null
    mean."""
    import pandas as pd

    pdf = datagen.make_images(40, with_bytes=True)
    # corrupt rows: truncated dctq, garbage ppm, unknown fmt
    bad = pd.DataFrame(
        {
            "image_id": ["bad1", "bad2", "bad3"],
            "bytes": [b"DCTQ" + b"\x00" * 5, b"P6\nnot really", b"????"],
            "w": [16, 16, 16],
            "h": [16, 16, 16],
            "fmt": ["dctq", "ppm", "dctq"],
            "caption": ["x", "y", "z"],
            "phash": [0, 0, 0],
        }
    )
    rng = np.random.default_rng(7)
    shapes = [
        _payload_rows("odd", rng.integers(0, 256, size=(12, 20, 3)).astype(np.uint8)),
        _payload_rows("tiny", rng.integers(0, 256, size=(3, 5, 3)).astype(np.uint8)),
        _payload_rows(
            "gray", rng.integers(0, 256, size=(16, 16, 1)).astype(np.uint8), ("dctq",)
        ),
    ]
    full = pd.concat([pdf, bad, *shapes], ignore_index=True)
    df = spark.createDataFrame(full, IMAGES_SCHEMA)
    got = MM.validate_images(df).toPandas().set_index("image_id")
    for r in full.itertuples():
        row = got.loc[r.image_id]
        try:
            img = codecs.decode_image(r.bytes, r.fmt)
            ph = codecs.average_hash(img)
            assert bool(row["decode_ok"])
            assert bool(row["dims_ok"]) == (img.shape[:2] == (r.h, r.w))
            assert bool(row["phash_match"]) == (ph == r.phash)
            assert int(row["phash_hamming"]) == bin((ph ^ r.phash) & (2**64 - 1)).count("1")
            assert row["mean_px"] == pytest.approx(float(img.mean()), rel=1e-12)
        except Exception:
            assert not bool(row["decode_ok"])
            assert int(row["phash_hamming"]) == 64
            assert row["mean_px"] is None or row["mean_px"] != row["mean_px"]


@pytest.mark.parametrize("op", ["resize", "features"])
def test_non_rgb_payload_raises_naming_the_image(spark, op):
    """A DCTQ header may say c != 3; resize (which writes P6) and the
    3-channel features cannot take such pixels and must fail with a
    ValueError that names the image, not with a garbled payload or an
    IndexError inside the worker."""
    rng = np.random.default_rng(3)
    gray = _payload_rows(
        "gray16", rng.integers(0, 256, size=(16, 16, 1)).astype(np.uint8), ("dctq",)
    )
    df = spark.createDataFrame(gray, IMAGES_SCHEMA)
    out = MM.resize_images(df, 8, 8) if op == "resize" else MM.extract_features(df)
    with pytest.raises(Exception, match="gray16_dctq") as err:
        out.collect()
    assert "ValueError" in str(err.value)
