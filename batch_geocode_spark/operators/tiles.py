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
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import _Y_SHIFT, cell_encode, cell_parent


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
    this completes the raster↔vector loop in both directions: density
    grids come back as first-class vector features, not just pixels.

    Scale shape: neighbor edges are PURE ARITHMETIC equi-joins (east =
    +1 with antimeridian wrap, north = +2^29 — no spatial library, no
    theta-join), then the depth-robust alternating-star connected
    components from the dedup family (O(log n) rounds). Everything runs
    over the DENSITY table (≤ 4^res rows), orders smaller than the
    point corpus; isolated hot cells become singleton regions via a
    coalesce, never a join miss. Latitude clamps (no north wrap).

    The longitude bbox is WRAP-AWARE via largest-gap rotation over the
    region's distinct x columns (exact integer arithmetic): a region
    crossing ±180 reports an interval with ``bb_w > bb_e`` (the
    GeoJSON antimeridian-bbox convention, RFC 7946 §5.2) whose width
    equals the region's true x extent, instead of a world-spanning
    min/max. Regions not crossing ±180 keep the plain min/max exactly.
    """
    from batch_geocode_spark.functions.cells import _RES_SHIFT, _Y_SHIFT
    from batch_geocode_spark.operators.dedup import connected_components

    n = 2**res
    hot = density.filter(F.col("n_images") >= threshold).select("cell", "n_images")
    x = F.col("cell") % F.lit(_Y_SHIFT)
    east = F.col("cell") - x + (x + 1) % F.lit(n)
    north = F.col("cell") + F.lit(_Y_SHIFT)
    nbrs = hot.select(
        F.col("cell").alias("cell_a"),
        F.explode(F.array(east, north)).alias("cell_b"),
    )
    edges = nbrs.join(hot.select(F.col("cell").alias("cell_b")), "cell_b")
    cc = connected_components(edges, id_a="cell_a", id_b="cell_b")
    labeled = (
        hot.join(cc.withColumnRenamed("node", "cell"), "cell", "left")
        .withColumn("region", F.coalesce("component", F.col("cell")))
    )
    from pyspark.sql import Window

    # per-region rotation origin: the x column immediately east of the
    # largest circular gap between the region's distinct x values —
    # pure integer windows over the tiny region table
    labeled = labeled.withColumn("x", F.col("cell") % F.lit(_Y_SHIFT))
    xs = labeled.select("region", "x").distinct()
    w_x = Window.partitionBy("region").orderBy("x")
    gap_internal = (
        xs.withColumn("prev", F.lag("x").over(w_x))
        .filter(F.col("prev").isNotNull())
        .select(
            "region",
            F.col("x").alias("origin"),
            (F.col("x") - F.col("prev")).alias("gap"),
        )
    )
    gap_wrap = xs.groupBy("region").agg(
        F.min("x").alias("origin"),
        (F.min("x") - F.max("x") + F.lit(n)).alias("gap"),
    )
    w_pick = Window.partitionBy("region").orderBy(
        F.col("gap").desc(), F.col("origin").asc()
    )
    origins = (
        gap_internal.unionByName(gap_wrap)
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("region", "origin")
    )

    rot_x = (F.col("x") - F.col("origin") + F.lit(n)) % F.lit(n)
    yy = F.floor((F.col("cell") % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("double")
    # max(rot_x) == n-1 ⟺ the column just west of the origin is present
    # ⟺ the LARGEST gap is 1 ⟺ every column is present: a full ring,
    # reported as the canonical [-180, 180]
    full_ring = F.max(rot_x) == n - 1
    raw_w = F.first("origin").cast("double") / n * 360.0 - 180.0
    raw_e = (
        (F.first("origin") + F.max(rot_x) + 1).cast("double") / n * 360.0 - 180.0
    )
    return (
        labeled.join(F.broadcast(origins), "region")
        .withColumn("bs", yy / n * 180.0 - 90.0)
        .withColumn("bn", (yy + 1) / n * 180.0 - 90.0)
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_images").alias("n_images"),
            F.round(F.when(full_ring, F.lit(-180.0)).otherwise(raw_w), 6).alias(
                "bb_w"
            ),
            F.round(F.min("bs"), 6).alias("bb_s"),
            F.round(
                F.when(full_ring, F.lit(180.0)).otherwise(
                    F.when(raw_e > 180.0, raw_e - 360.0).otherwise(raw_e)
                ),
                6,
            ).alias("bb_e"),
            F.round(F.max("bn"), 6).alias("bb_n"),
        )
    )
