"""Deterministic synthetic geo fixtures (seed-derived, no external data).

Implements the FIXTURES.md schemas: an ``images`` table shaped exactly
like BASELINE.json's input_hint (image_id, bytes, w, h, fmt, caption,
phash), a GeoNames-style multi-source ``gazetteer`` (the broadcast side
that replaces the reference's 4 web services, reference:
geocode/query_funcs.py:361-506), and grid-cell ``admin_polygons`` for
the point-in-polygon join.

All values derive from the row index + a fixed seed — stable across
runs and across partitioning, which the snapshot/resume layer relies
on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from batch_geocode_spark import codecs

SOURCES = ["GM", "OSM", "GN", "FG"]
SCENES = ["a market", "a clinic", "a river", "a school", "a street", "a field"]

N_PLACES = 200  # distinct place names in the gazetteer
DENSE_METROS = [0, 1, 2]  # hot places for skew tests
P_KNOWN = 0.85  # fraction of captions with a resolvable place
P_DENSE = 0.20  # fraction of known captions hitting a dense metro


def place_name(pid: int) -> str:
    return f"Placeville {pid}"


def _place_base(pid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic base coordinates per place id (away from poles)."""
    lat = ((pid * 7919) % 14000) / 100.0 - 70.0
    lng = ((pid * 104729) % 36000) / 100.0 - 180.0
    return lat.astype(np.float64), lng.astype(np.float64)


def make_gazetteer(n_places: int = N_PLACES, seed: int = 42) -> pd.DataFrame:
    """Each place appears under 1-4 sources with coordinates perturbed a
    few km, and 1-2 ranked results per (place, source)."""
    rows = []
    rng = np.random.default_rng(seed)
    gid = 0
    for pid in range(n_places):
        lat0, lng0 = _place_base(np.asarray([pid]))
        n_src = 1 + (pid % 4)
        srcs = SOURCES[:n_src]
        for si, src in enumerate(srcs):
            n_rank = 1 + ((pid + si) % 2)
            for rank in range(1, n_rank + 1):
                jit = rng.normal(0.0, 0.01, size=2)  # ~1 km
                lat = float(lat0[0] + jit[0] + 0.002 * si)
                lng = float(lng0[0] + jit[1] + 0.002 * rank)
                # every few places get a huge bbox on rank-2 → buffer-vet drops it
                big = rank == 2 and pid % 5 == 0
                half = 0.5 if big else 0.01 + 0.001 * si
                has_bbox = src in ("GM", "OSM")  # GN/FG are point-only (reference
                # geocode/query_funcs.py:460-462,499-501)
                rows.append(
                    dict(
                        gaz_id=gid,
                        source=src,
                        name=place_name(pid),
                        name_norm=place_name(pid).lower(),
                        api_rank=rank,
                        lat=lat,
                        lng=lng,
                        bb_w=lng - half if has_bbox else None,
                        bb_s=lat - half if has_bbox else None,
                        bb_e=lng + half if has_bbox else None,
                        bb_n=lat + half if has_bbox else None,
                        loc_type=["locality", "admin", "populated place"][pid % 3],
                        iso2=f"{chr(97 + pid % 26)}{chr(97 + (pid // 26) % 26)}",
                    )
                )
                gid += 1
    df = pd.DataFrame(rows)
    for c in ("lat", "lng", "bb_w", "bb_s", "bb_e", "bb_n"):
        df[c] = df[c].astype("float64")
    return df


def caption_for(i: int, n_places: int = N_PLACES) -> tuple[str, int]:
    """Deterministic caption + the place id it references (-1 if none)."""
    scene = SCENES[i % len(SCENES)]
    if i % 100 >= int(P_KNOWN * 100):
        return f"A photo of {scene} near Nowhereville, unknown", -1
    if i % 100 < int(P_KNOWN * P_DENSE * 100):
        pid = DENSE_METROS[i % len(DENSE_METROS)]  # skew knob: hot metros
    else:
        pid = i % n_places
    return f"A photo of {scene} near {place_name(pid)}, somewhere", pid


def make_images(n: int, seed: int = 42, with_bytes: bool = True) -> pd.DataFrame:
    """The input_hint table: (image_id, bytes, w, h, fmt, caption, phash)."""
    rows = []
    for i in range(n):
        if with_bytes:
            rows.append(make_image_row(i, seed))
            continue
        w, h, fmt = _image_shape(i)
        rows.append(dict(image_id=f"img{i:012d}", bytes=b"", w=w, h=h, fmt=fmt,
                         caption=caption_for(i)[0], phash=0))
    return pd.DataFrame(rows).astype({"w": "int32", "h": "int32", "phash": "int64"})


def make_admin_polygons(grid: int = 8) -> pd.DataFrame:
    """Non-overlapping lat/lng grid rectangles: admin_level 0 = 8×8 world
    grid; each cell also carries 4 level-1 quadrant children."""
    rows = []
    aid = 0
    for gy in range(grid):
        for gx in range(grid):
            w = -180.0 + gx * 360.0 / grid
            e = w + 360.0 / grid
            s = -90.0 + gy * 180.0 / grid
            n = s + 180.0 / grid
            iso = f"{chr(97 + aid % 26)}{chr(97 + (aid // 26) % 26)}"
            rows.append(_poly_row(aid, iso, 0, f"Country {aid}", w, s, e, n))
            aid += 1
    n0 = aid
    for parent in range(n0):
        gy, gx = divmod(parent, grid)
        w = -180.0 + gx * 360.0 / grid
        s = -90.0 + gy * 180.0 / grid
        cw, ch = 360.0 / grid / 2, 180.0 / grid / 2
        for q in range(4):
            qx, qy = q % 2, q // 2
            iso = f"{chr(97 + parent % 26)}{chr(97 + (parent // 26) % 26)}"
            rows.append(
                _poly_row(
                    aid,
                    iso,
                    1,
                    f"Admin {parent}.{q}",
                    w + qx * cw,
                    s + qy * ch,
                    w + (qx + 1) * cw,
                    s + (qy + 1) * ch,
                )
            )
            aid += 1
    return pd.DataFrame(rows)


def _poly_row(aid, iso, level, name, w, s, e, n):
    ring = [(w, s), (e, s), (e, n), (w, n), (w, s)]
    return dict(
        admin_id=aid,
        iso2=iso,
        admin_level=level,
        name=name,
        rings=[[{"x": float(x), "y": float(y)} for x, y in ring]],
        bb_w=w,
        bb_s=s,
        bb_e=e,
        bb_n=n,
    )


def _image_shape(i: int) -> tuple[int, int, str]:
    """(w, h, fmt) of image ``i``."""
    return [16, 32, 64][i % 3], [16, 24, 48][i % 3], ["ppm", "dctq"][i % 2]


def make_image_row(i: int, seed: int = 42) -> dict:
    """One deterministic image row (``make_images`` and the distributed
    generator)."""
    w, h, fmt = _image_shape(i)
    caption, _ = caption_for(i)
    rng = np.random.default_rng(seed + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 255 // max(h - 1, 1))[:, :, None] * np.asarray([1, 0, 0]) + (
        xx * 255 // max(w - 1, 1)
    )[:, :, None] * np.asarray([0, 1, 0])
    img = np.clip(base + rng.integers(0, 32, size=(h, w, 3)), 0, 255).astype(np.uint8)
    buf = codecs.encode_image(img, fmt)
    ph = codecs.average_hash(codecs.decode_image(buf, fmt))
    return dict(
        image_id=f"img{i:012d}", bytes=buf, w=w, h=h, fmt=fmt, caption=caption, phash=ph
    )


def generate_images_distributed(spark, n: int, seed: int = 42):
    """Synthesize the full input_hint table DISTRIBUTED: mapInPandas over
    a range — each executor thread generates + encodes its slice with
    numpy (deterministic per row index), so multi-GB fixtures build in
    seconds instead of hours on the driver."""
    import pandas as pd

    def gen(it):
        for pdf in it:
            rows = [make_image_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    return spark.range(0, n, 1, max(spark.sparkContext.defaultParallelism * 4, 8)).mapInPandas(
        gen, schema=schema
    )


# --------------------------------------------------------------- spark side
def images_to_spark(spark, n: int, seed: int = 42, with_bytes: bool = True):
    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    return spark.createDataFrame(make_images(n, seed, with_bytes), schema=schema)


def gazetteer_to_spark(spark, n_places: int = N_PLACES, seed: int = 42):
    schema = (
        "gaz_id long, source string, name string, name_norm string, api_rank int, "
        "lat double, lng double, bb_w double, bb_s double, bb_e double, bb_n double, "
        "loc_type string, iso2 string"
    )
    return spark.createDataFrame(make_gazetteer(n_places, seed), schema=schema)


def admin_polygons_to_spark(spark, grid: int = 8):
    schema = (
        "admin_id long, iso2 string, admin_level int, name string, "
        "rings array<array<struct<x:double,y:double>>>, "
        "bb_w double, bb_s double, bb_e double, bb_n double"
    )
    return spark.createDataFrame(make_admin_polygons(grid), schema=schema)


def make_chain_docs(
    n_chain: int,
    n_independent: int = 0,
    doc_len: int = 60,
    stride: int = 5,
    seed: int = 3,
    hot_header: str = "",
) -> pd.DataFrame:
    """Adversarial near-dup corpus for the dedup backbone: the first
    ``n_chain`` docs are a sliding window over ONE token stream, so
    consecutive docs share (doc_len - stride) tokens — 4-gram Jaccard
    ≈ 0.84 adjacent, ≈ 0.70 two apart. With threshold 0.75 the pair
    graph is exactly a PATH of length n_chain: maximal component
    diameter, the worst case for label-propagation clustering (and the
    graph shape templated web text actually produces).
    ``n_independent`` unrelated docs are appended; ``hot_header``
    prepends a shared phrase to every doc (hot shingles, exercising
    max_df pruning in the blocking step)."""
    rng = np.random.default_rng(seed)
    stream = [f"w{int(x)}" for x in rng.integers(0, 5000, n_chain * stride + doc_len)]
    rows = []
    for i in range(n_chain):
        body = " ".join(stream[i * stride : i * stride + doc_len])
        rows.append((i, (hot_header + " " + body).strip()))
    for j in range(n_independent):
        body = " ".join(
            f"u{int(x)}" for x in rng.integers(0, 50_000, doc_len)
        )
        rows.append((n_chain + j, (hot_header + " " + body).strip()))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def chain_docs_to_spark(spark, n_chain: int, n_independent: int = 0, **kw):
    pdf = make_chain_docs(n_chain, n_independent=n_independent, **kw)
    return spark.createDataFrame(pdf, "doc_id long, text string")
