"""Pure-numpy image codecs for the multimodal (binary) column.

PIL/cv2 are unavailable here, so the engine ships two self-contained
codecs good enough to make the Spark-side plumbing (binary columns,
mapInPandas decode, PSNR invariants) fully real and testable:

- ``ppm``  — binary PPM (P6), lossless.
- ``dctq`` — a toy lossy codec: 8×8 orthonormal DCT-II per channel,
  linear quantization, int16 coefficients, zlib-compressed. Quantizer
  is mild by construction so the PSNR ≥ 40 dB invariant from
  BASELINE.json's input_hint holds.

Also: PSNR and a 64-bit average-hash (pHash stand-in) used as the
``phash`` integrity column.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_DCT_N = 8


def _dct_matrix() -> np.ndarray:
    n = _DCT_N
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


# float32 throughout the DCT path: halves memory traffic (the decode
# stage is DRAM-bandwidth-bound at high core counts) at ~1e-4 relative
# precision — far inside the PSNR≥40dB budget
_D = _dct_matrix().astype(np.float32)
# mild linear quant table: step grows with frequency, small enough for >40dB
_Q = (1.0 + 0.5 * (np.arange(_DCT_N)[:, None] + np.arange(_DCT_N)[None, :])).astype(
    np.float32
)


# ------------------------------------------------------------------- PPM
def encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_ppm(buf: bytes) -> np.ndarray:
    if not buf.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    parts = buf.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    return np.frombuffer(parts[3], dtype=np.uint8, count=h * w * 3).reshape(h, w, 3)


# ------------------------------------------------------------------ DCTQ
def _pad_to_blocks(ch: np.ndarray) -> np.ndarray:
    h, w = ch.shape
    ph = (-h) % _DCT_N
    pw = (-w) % _DCT_N
    return np.pad(ch, ((0, ph), (0, pw)), mode="edge")


def encode_dctq(img: np.ndarray) -> bytes:
    """All-channel fused path: one broadcast matmul pair over
    (c, by, bx, 8, 8) instead of a per-channel einsum loop — ~5× fewer
    temporaries and numpy dispatches (the decode twin dominates the
    image-validation stage; per-worker memory traffic is what limits
    high-core-count scaling)."""
    h, w, c = img.shape
    chans = np.stack(
        [_pad_to_blocks(img[:, :, ci].astype(np.float32) - np.float32(128.0)) for ci in range(c)]
    )
    ph, pw = chans.shape[1:]
    blocks = chans.reshape(c, ph // _DCT_N, _DCT_N, pw // _DCT_N, _DCT_N).transpose(
        0, 1, 3, 2, 4
    )
    dct = _D @ blocks @ _D.T
    q = np.rint(dct / _Q).astype(np.int16)
    payload = zlib.compress(np.ascontiguousarray(q).tobytes(), level=6)
    return b"DCTQ" + struct.pack("<HHB", h, w, c) + payload


def decode_dctq(buf: bytes) -> np.ndarray:
    if not buf.startswith(b"DCTQ"):
        raise ValueError("not a DCTQ stream")
    h, w, c = struct.unpack("<HHB", buf[4:9])
    ph, pw = h + ((-h) % _DCT_N), w + ((-w) % _DCT_N)
    raw = np.frombuffer(zlib.decompress(buf[9:]), dtype=np.int16)
    coeffs = raw.reshape(c, ph // _DCT_N, pw // _DCT_N, _DCT_N, _DCT_N).astype(np.float32)
    coeffs *= _Q  # in-place dequant, all channels at once
    blocks = _D.T @ coeffs @ _D
    chans = blocks.transpose(0, 1, 3, 2, 4).reshape(c, ph, pw)[:, :h, :w]
    chans = chans + np.float32(128.0)
    np.rint(chans, out=chans)
    np.clip(chans, 0, 255, out=chans)
    return np.ascontiguousarray(chans.astype(np.uint8).transpose(1, 2, 0))


# ---------------------------------------------------------------- batched
def _chunk_size(per_image_bytes: int) -> int:
    """Images per batched-kernel chunk: big enough to amortize numpy
    dispatch (the dominant cost for 16-64px images — one dispatch per
    CHUNK instead of per image), small enough that the chunk's float32
    working set stays cache-resident WITH EVERY CORE RUNNING A WORKER.
    A whole-group batch is DRAM-bound (measured 4× SLOWER than
    per-image at 666×48×64: ~250MB intermediates stream ~6 times), and
    even 2MB chunks regress the 32-worker level (32×~8MB in flight ≫
    shared L3) while helping the 8-worker level — the 400 KB budget is
    sized for the per-core L2/L3 slice, not the whole cache."""
    return max(8, min(256, 400_000 // max(per_image_bytes, 1)))


def decode_dctq_batch(raws: list[np.ndarray], h: int, w: int, c: int) -> np.ndarray:
    """Decode a GROUP of same-shape DCTQ payloads with a CHUNKED fused
    kernel: per-image (c, by, bx, 8, 8) coefficient tensors stack into
    (B_chunk, c, by, bx, 8, 8) arrays and each chunk runs through one
    matmul pair. Values are bit-identical to :func:`decode_dctq` (same
    dtypes, same per-8×8-block accumulation order). ``raws`` are the
    already-decompressed int16 coefficient vectors."""
    ph, pw = h + ((-h) % _DCT_N), w + ((-w) % _DCT_N)
    out = np.empty((len(raws), h, w, c), dtype=np.uint8)
    step = _chunk_size(c * ph * pw * 4)
    for s in range(0, len(raws), step):
        raw = np.stack(raws[s : s + step])
        b = raw.shape[0]
        coeffs = raw.reshape(b, c, ph // _DCT_N, pw // _DCT_N, _DCT_N, _DCT_N).astype(
            np.float32
        )
        coeffs *= _Q
        blocks = _D.T @ coeffs @ _D
        chans = blocks.transpose(0, 1, 2, 4, 3, 5).reshape(b, c, ph, pw)[:, :, :h, :w]
        chans = chans + np.float32(128.0)
        np.rint(chans, out=chans)
        np.clip(chans, 0, 255, out=chans)
        out[s : s + step] = chans.astype(np.uint8).transpose(0, 2, 3, 1)
    return out


def average_hash_batch(imgs: np.ndarray) -> np.ndarray:
    """Vectorized :func:`average_hash` over a (B, h, w, c) uint8 stack of
    any dims. Same exact integer arithmetic — block_sum * h * w >
    total_sum * block_size over the bounds ``(arange(9) * h) // 8`` —
    so values match the scalar path bit for bit, including the empty
    blocks of images under 8 px (their sum and size are both 0)."""
    b, h, w, c = imgs.shape
    # per-channel uint16 adds are ~15× faster than sum(axis=3,
    # dtype=int64) (numpy's promoted last-axis reduction is
    # element-at-a-time); c ≤ 255 (a header byte), so sums ≤ 65025 fit
    gray = imgs[..., 0].astype(np.uint16)
    for ci in range(1, c):
        gray += imgs[..., ci]
    ys, xs = (np.arange(9) * h) // 8, (np.arange(9) * w) // 8
    sizes = np.diff(ys)[:, None] * np.diff(xs)[None, :]
    # reduceat sums each [bound, next bound) slice; an empty slice yields
    # the element at its bound instead of 0, so mask those blocks
    sums = np.add.reduceat(
        np.add.reduceat(gray, ys[:-1], axis=1, dtype=np.int64), xs[:-1], axis=2
    )
    sums = np.where(sizes > 0, sums, 0)
    total = sums.sum(axis=(1, 2))[:, None, None]
    bits = sums * (h * w) > total * sizes
    packed = np.packbits(bits.reshape(b, 64), axis=1)  # (B, 8) big-endian bytes
    shifts = (np.arange(7, -1, -1, dtype=np.uint64) * np.uint64(8))
    vals = np.bitwise_or.reduce(packed.astype(np.uint64) << shifts, axis=1)
    return vals.view(np.int64)


def hamming64_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row popcount of xor over two int64 arrays (numpy 1.x has no
    bitwise_count; unpackbits over the byte view is one pass)."""
    x = (a.astype(np.int64) ^ b.astype(np.int64)).view(np.uint64)
    return np.unpackbits(x.view(np.uint8).reshape(len(x), 8), axis=1).sum(
        axis=1, dtype=np.int32
    )


# ------------------------------------------------------------------- PGM16
def encode_pgm16(grid: np.ndarray) -> bytes:
    """Lossless 16-bit big-endian binary PGM (P5, maxval 65535) — a real
    viewable image format for density rasters; values above 65535 clip
    (per-tile counts at res-9 cells rarely exceed it; pick a finer res
    or pre-scale when they do)."""
    h, w = grid.shape
    clipped = np.clip(grid, 0, 65535).astype(">u2")
    return b"P5\n%d %d\n65535\n" % (w, h) + np.ascontiguousarray(clipped).tobytes()


def decode_pgm16(buf: bytes) -> np.ndarray:
    if not buf.startswith(b"P5"):
        raise ValueError("not a P5 PGM")
    parts = buf.split(b"\n", 3)
    w, h = (int(v) for v in parts[1].split())
    if int(parts[2]) != 65535:
        raise ValueError("expected 16-bit PGM")
    return (
        np.frombuffer(parts[3], dtype=">u2", count=h * w).reshape(h, w).astype(np.int64)
    )


# ----------------------------------------------------------------- dispatch
def encode_image(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "ppm":
        return encode_ppm(img)
    if fmt == "dctq":
        return encode_dctq(img)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(buf: bytes, fmt: str) -> np.ndarray:
    if fmt == "ppm":
        return decode_ppm(bytes(buf))
    if fmt == "dctq":
        return decode_dctq(bytes(buf))
    raise ValueError(f"unknown fmt {fmt!r}")


# ------------------------------------------------------------------ metrics
def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def average_hash(img: np.ndarray) -> int:
    """64-bit average-hash of the decoded pixels (signed int64 for parquet).

    Exact integer arithmetic: block_mean > global_mean compared as
    block_sum * n_blocks > total_sum — no float ties, fully
    deterministic, and one pass over uint8 data."""
    h, w = img.shape[:2]
    gray_sum = img.sum(axis=2, dtype=np.int64)  # 3× gray value per pixel
    if h % 8 == 0 and w % 8 == 0:
        small = gray_sum.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
        # equal block sizes: block_sum * 64 > total_sum ⟺ mean comparison
        bits = (small * 64 > small.sum()).ravel()
    else:
        ys = (np.arange(9) * h) // 8
        xs = (np.arange(9) * w) // 8
        sums = np.empty((8, 8), dtype=np.int64)
        cnts = np.empty((8, 8), dtype=np.int64)
        for i in range(8):
            for j in range(8):
                blk = gray_sum[ys[i] : ys[i + 1], xs[j] : xs[j + 1]]
                sums[i, j] = blk.sum()
                cnts[i, j] = blk.size
        total, n = sums.sum(), cnts.sum()
        bits = (sums * n > total * cnts).ravel()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    if v >= 2**63:
        v -= 2**64
    return v


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[yi][:, xi]
