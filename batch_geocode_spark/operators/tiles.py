"""Raster-tile density aggregation (north_rule A7).

Reference analog: per-point buffer circles rendered client-side
(reference: app/templates/vet.html:214-228). Here: per-cell density
aggregates plus raster tile assembly.

Scale design:
- density = one shuffle, partial+final agg (map-side combine free).
- skew (dense metros → hot cells): two-phase salted aggregation —
  groupBy(cell, salt) then groupBy(cell) — keeps any single reducer
  from owning a whole metro at 10^12 rows.
- raster assembly groups fine cells under their parent tile and
  renders a (tile_px × tile_px) count grid per tile in applyInPandas
  (vectorized numpy scatter, no per-row Python).
- polygonize runs on the driver over the hot cells (≤ 4^res rows, at
  most ``MAX_CELLS``), where a distributed plan's jobs outweigh its work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import _Y_SHIFT, cell_encode, cell_parent, np_cell_decode
from batch_geocode_spark.operators import collect_capped
from batch_geocode_spark.operators.cluster import _half_up, _largest_gap_origins
from batch_geocode_spark.operators.dedup import _union_find_components

MAX_CELLS = 1_000_000  # hot cells polygonize_cells collects to the driver


def cell_density(
    points: DataFrame,
    res: int = 9,
    salt_buckets: int = 0,
    distinct_col: str | None = None,
) -> DataFrame:
    """groupBy(cell of best_lat, best_long) → count (+ approx distinct).
    ``salt_buckets`` > 0 enables the two-phase salted plan for hot-cell
    skew."""
    df = points.withColumn("cell", cell_encode(F.col("best_lat"), F.col("best_long"), res))
    if salt_buckets <= 1:
        aggs = [F.count(F.lit(1)).alias("n_images")]
        if distinct_col:
            aggs.append(F.approx_count_distinct(distinct_col).alias("n_distinct_approx"))
        return df.groupBy("cell").agg(*aggs)
    salted = df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(distinct_col or "best_long")), F.lit(salt_buckets))
    )
    partial = salted.groupBy("cell", "salt").agg(F.count(F.lit(1)).alias("pn"))
    return partial.groupBy("cell").agg(F.sum("pn").alias("n_images"))


def pick_salt_buckets(
    points: DataFrame,
    lat_col: str,
    lng_col: str,
    res: int,
    sample_fraction: float = 0.05,
    hot_ratio: float = 4.0,
) -> int:
    """Skew-histogram pre-pass (SURVEY.md §4 'skew detection'): sample
    the points, histogram cells, and size the salt so the hottest cell's
    expected share per reducer is ~mean, at most 64 buckets. Returns 0
    (no salting needed) when the max/mean ratio is below ``hot_ratio``."""
    hist = (
        points.sample(fraction=sample_fraction, seed=42)
        .select(cell_encode(F.col(lat_col), F.col(lng_col), res).alias("cell"))
        .groupBy("cell")
        .count()
        .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
        .head()
    )
    if not hist or hist["mean"] is None or hist["mean"] == 0:
        return 0
    ratio = hist["mx"] / hist["mean"]
    if ratio < hot_ratio:
        return 0
    return min(64, int(ratio))


def assemble_raster_tiles(density: DataFrame, res: int, tile_res: int) -> DataFrame:
    """Group res-level cell counts under their tile_res parent and emit a
    dense per-tile raster: (tile, px array of counts, tile_px).

    px = 2^(res - tile_res) per side; each tile row carries a flattened
    row-major count grid — the vector→raster step of the north_rule.
    """
    if tile_res > res:
        raise ValueError("tile_res must be <= res")
    px = 2 ** (res - tile_res)
    with_tile = density.withColumn("tile", cell_parent(F.col("cell"), res, tile_res))

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(pdf["tile"].iloc[0])
        rem = pdf["cell"].to_numpy(dtype=np.int64) % (2**58)
        y = rem // _Y_SHIFT
        x = rem % _Y_SHIFT
        grid = np.zeros((px, px), dtype=np.int64)
        grid[(y % px).astype(int), (x % px).astype(int)] = pdf["n_images"].to_numpy()
        return pd.DataFrame(
            {
                "tile": [tile],
                "tile_px": [px],
                "n_cells": [len(pdf)],
                "n_images": [int(pdf["n_images"].sum())],
                "raster": [grid.ravel().tolist()],
            }
        )

    schema = "tile long, tile_px int, n_cells int, n_images long, raster array<long>"
    return with_tile.groupBy("tile").applyInPandas(render, schema=schema)


def raster_tiles_as_blobs(tiles: DataFrame) -> DataFrame:
    """Encode each assembled raster tile as a 16-bit PGM image blob —
    the raster side of the raster↔vector loop as an actual image format
    (binary column + fmt tag), shuffle-free Arrow-batched map over the
    ``assemble_raster_tiles`` output. Lossless for counts ≤ 65535, so
    decode(blob) reproduces the count grid exactly (pytest-checked)."""
    from typing import Iterator

    from batch_geocode_spark.codecs import encode_pgm16

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = []
            for r in pdf.itertuples():
                px = int(r.tile_px)
                grid = np.asarray(r.raster, dtype=np.int64).reshape(px, px)
                blobs.append(encode_pgm16(grid))
            yield pd.DataFrame(
                {
                    "tile": pdf["tile"],
                    "tile_px": pdf["tile_px"],
                    "n_images": pdf["n_images"],
                    "fmt": "pgm16",
                    "blob": blobs,
                }
            )

    return tiles.mapInPandas(
        enc, schema="tile long, tile_px int, n_images long, fmt string, blob binary"
    )


def raster_blobs_to_cells(blobs: DataFrame) -> DataFrame:
    """Raster → vector: decode PGM16 raster-tile blobs back into the
    per-cell density rows they were assembled from — the missing
    direction of the north_rule's raster↔vector loop (the inverse of
    ``cell_density → assemble_raster_tiles → raster_tiles_as_blobs``).

    The mapping is fully self-describing: the tile id carries its own
    resolution (``tile // 2^58``) and the blob's pixel grid size gives
    the fine resolution (``tile_res + log2(tile_px)``), so no
    parameters are needed and the round trip is exact for counts
    ≤ 65535 (PGM16 is lossless there).

    Scale shape: shuffle-free Arrow-batched map — each tile expands to
    its nonzero pixels only (numpy ``nonzero`` scatter-gather, no
    per-row Python), so a sparse world raster never materialises dense
    rows. Input: (tile, blob [, ...]) from ``raster_tiles_as_blobs``;
    output: (cell, n_images) at the original fine resolution.
    """
    from typing import Iterator

    from batch_geocode_spark.codecs import decode_pgm16
    from batch_geocode_spark.functions.cells import _RES_SHIFT

    def dec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cells: list[np.ndarray] = []
            counts: list[np.ndarray] = []
            for r in pdf.itertuples():
                grid = decode_pgm16(bytes(r.blob))
                px = grid.shape[0]
                tile = int(r.tile)
                tile_res = tile // _RES_SHIFT
                rem = tile % _RES_SHIFT
                yt, xt = rem // _Y_SHIFT, rem % _Y_SHIFT
                res = tile_res + int(px).bit_length() - 1
                yy, xx = np.nonzero(grid)
                y = yt * px + yy.astype(np.int64)
                x = xt * px + xx.astype(np.int64)
                cells.append(res * _RES_SHIFT + y * _Y_SHIFT + x)
                counts.append(grid[yy, xx])
            if not cells:
                yield pd.DataFrame({"cell": pd.Series([], dtype="int64"),
                                    "n_images": pd.Series([], dtype="int64")})
                continue
            yield pd.DataFrame(
                {"cell": np.concatenate(cells), "n_images": np.concatenate(counts)}
            )

    return blobs.mapInPandas(dec, schema="cell long, n_images long")


def polygonize_cells(
    density: DataFrame,
    res: int,
    threshold: int = 1,
) -> DataFrame:
    """Raster → vector polygonization (GDAL-polygonize analog): group
    cells with count ≥ ``threshold`` into 4-connected regions and emit
    one vector feature per region — (region label = min cell id,
    n_cells, n_images, degree bbox). With ``raster_blobs_to_cells``
    this completes the raster↔vector loop in both directions.

    Eager: the hot cells (at most 4^res rows, capped at ``MAX_CELLS``)
    are collected once and polygonized on the driver into a local
    relation. Neighbors are arithmetic (east = x + 1 with antimeridian
    wrap, north = +2^29, latitude clamps), found by ``np.searchsorted``;
    the dedup family's union-find labels the regions.

    The longitude bbox is WRAP-AWARE via largest-gap rotation over the
    region's x columns (``cluster._largest_gap_origins``, exact integer
    arithmetic): a region crossing ±180 reports ``bb_w > bb_e`` (the
    GeoJSON antimeridian-bbox convention, RFC 7946 §5.2) with its true
    x extent, a region on every column the canonical [-180, 180], and
    any other region its plain min/max. Bounds are ``round(…, 6)``-ed
    as Spark SQL does (``cluster._half_up``).
    """
    spark = density.sparkSession
    schema = (
        f"region long{'' if density.schema['cell'].nullable else ' not null'}, "
        "n_cells long not null, n_images long, bb_w double, bb_s double, bb_e double, bb_n double"
    )
    hot = collect_capped(
        density.filter((F.col("n_images") >= threshold) & F.col("cell").isNotNull())
        .select("cell", "n_images"),
        MAX_CELLS,
        "polygonize_cells' hot cells",
        "raise the threshold or polygonize at a coarser res",
    ).sort_values("cell")
    if hot.empty:
        return spark.createDataFrame([], schema)
    n = 2**res
    cell = hot["cell"].to_numpy(np.int64)
    _, x, y = np_cell_decode(cell)
    # edges join row indices of the sorted cells, so the union-find's
    # minimum index is the region's minimum cell
    nbr = np.r_[cell - x + (x + 1) % n, cell + _Y_SHIFT]
    j = np.minimum(np.searchsorted(cell, nbr), len(cell) - 1)
    hit = cell[j] == nbr
    label = np.arange(len(cell))
    cc = _union_find_components(pd.DataFrame({"a": np.r_[label, label][hit], "b": j[hit]}))
    label[cc["node"].to_numpy()] = cc["component"].to_numpy()

    # cells sorted by (region, x): each region a run, its columns ascending
    order = np.lexsort((x, label))
    region, x, y = cell[label[order]], x[order], y[order]
    first = np.r_[True, region[1:] != region[:-1]]
    group, starts = np.cumsum(first) - 1, np.flatnonzero(first)
    origin = x[_largest_gap_origins(group, x, n)]
    rot_max = np.maximum.reduceat((x - origin[group]) % n, starts)
    # rot_max == n-1 ⟺ the column just west of the origin is present
    # ⟺ the LARGEST gap is 1 ⟺ every column is present: a full ring
    full_ring = rot_max == n - 1
    raw_e = (origin + rot_max + 1) / n * 360.0 - 180.0
    bounds = {
        "bb_w": np.where(full_ring, -180.0, origin / n * 360.0 - 180.0),
        "bb_s": np.minimum.reduceat(y, starts) / n * 180.0 - 90.0,
        "bb_e": np.where(full_ring, 180.0, np.where(raw_e > 180.0, raw_e - 360.0, raw_e)),
        "bb_n": (np.maximum.reduceat(y, starts) + 1) / n * 180.0 - 90.0,
    }
    out = pd.DataFrame(
        {
            "region": region[starts],
            "n_cells": np.diff(np.r_[starts, len(cell)]),
            "n_images": np.add.reduceat(hot["n_images"].to_numpy(np.int64)[order], starts),
        }
        | {k: _half_up(spark, v, 6) / 1e6 for k, v in bounds.items()}
    )
    return spark.createDataFrame(out, schema)
