import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from batch_geocode_spark import datagen
from batch_geocode_spark.functions.cells import np_cell_encode
from batch_geocode_spark.functions.geo import np_haversine_km
from batch_geocode_spark.operators import geocode as G
from batch_geocode_spark.operators import knn, pip, rollups, tiles


@pytest.fixture(scope="module")
def geo(spark):
    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    vetted, best = G.geocode_images(images, gaz)
    vetted = vetted.cache()
    best = best.cache()
    return images, gaz, vetted, best


# ------------------------------------------------------------------ tiles
def test_cell_density_salted_equals_plain(geo):
    _, _, _, best = geo
    plain = tiles.cell_density(best, res=9).toPandas().sort_values("cell")
    salted = tiles.cell_density(best, res=9, salt_buckets=8, distinct_col="image_id")
    salted = salted.toPandas().sort_values("cell")
    assert plain["cell"].tolist() == salted["cell"].tolist()
    assert plain["n_images"].tolist() == salted["n_images"].tolist()


def test_raster_tiles(geo):
    _, _, _, best = geo
    density = tiles.cell_density(best, res=9)
    rast = tiles.assemble_raster_tiles(density, res=9, tile_res=6).toPandas()
    assert (rast["tile_px"] == 8).all()
    assert all(len(r) == 64 for r in rast["raster"])
    # mass conservation: raster sums equal density sums
    assert rast["n_images"].sum() == density.toPandas()["n_images"].sum()
    assert all(sum(r) == n for r, n in zip(rast["raster"], rast["n_images"]))


def test_density_rollup_conserves_mass(geo):
    _, _, _, best = geo
    density = tiles.cell_density(best, res=9)
    rolled = rollups.density_rollup(density, res=9, parent_res=4).toPandas()
    assert rolled["n_images"].sum() == density.toPandas()["n_images"].sum()


# -------------------------------------------------------------------- PIP
def test_pip_join_matches_bbox_oracle(spark, geo):
    _, _, _, best = geo
    polys = datagen.admin_polygons_to_spark(spark)
    got = (
        pip.pip_join(best, polys, res=6)
        .toPandas()
        .sort_values(["pt_id", "admin_id"])
        .reset_index(drop=True)
    )
    # oracle: rectangles → bbox containment with the same half-open edges
    bp = best.toPandas()
    pp = datagen.make_admin_polygons()
    rows = []
    for b in bp.itertuples():
        for p in pp.itertuples():
            if (p.bb_w <= b.best_long < p.bb_e) and (p.bb_s <= b.best_lat < p.bb_n):
                rows.append((b.image_id, p.admin_id))
    want = pd.DataFrame(rows, columns=["pt_id", "admin_id"]).sort_values(
        ["pt_id", "admin_id"]
    ).reset_index(drop=True)
    got_pairs = got[["pt_id", "admin_id"]].reset_index(drop=True)
    assert got_pairs.equals(want)
    # every matched point lands in exactly one level-0 and one level-1 polygon
    lvl = got.groupby(["pt_id", "admin_id"]).size()
    assert (lvl == 1).all()


def test_pip_join_polygon_cap(spark, geo, monkeypatch):
    """More polygons than ``MAX_POLYGONS`` fail loudly at call time, with
    the cap and the remedy in the message, instead of being collected."""
    _, _, _, best = geo
    polys = datagen.admin_polygons_to_spark(spark)
    monkeypatch.setattr(pip, "MAX_POLYGONS", 10)
    with pytest.raises(ValueError, match=r"more than 10 rows.*filter the polygons"):
        pip.pip_join(best, polys, res=6)


def test_pip_ray_casting_concave():
    # concave "L" polygon with a hole — beyond what rectangles exercise
    outer = [(0, 0), (4, 0), (4, 4), (2, 4), (2, 2), (0, 2), (0, 0)]
    hole = [(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5), (0.5, 0.5)]
    rings = [
        [{"x": float(x), "y": float(y)} for x, y in outer],
        [{"x": float(x), "y": float(y)} for x, y in hole],
    ]
    px = np.array([1.0, 3.0, 3.0, 1.0, 5.0, 2.5])
    py = np.array([1.0, 1.0, 3.0, 3.0, 1.0, 2.5])
    got = pip._points_in_rings(px, py, rings)
    # (1,1) in hole; (3,1) inside; (3,3) inside upper arm; (1,3) in the
    # notch (outside); (5,1) outside; (2.5,2.5) inside
    assert got.tolist() == [False, True, True, False, False, True]


def test_admin_rollup(spark, geo):
    _, _, _, best = geo
    polys = datagen.admin_polygons_to_spark(spark)
    matches = pip.pip_join(best, polys, res=6)
    rolled = rollups.admin_rollup(matches).toPandas()
    assert rolled["n_points"].sum() == matches.count()


# -------------------------------------------------------------------- kNN
def test_knn_within_image_matches_bruteforce(geo):
    _, _, vetted, best = geo
    got = knn.knn_within_image(vetted, k=3).toPandas()
    vp = vetted.toPandas()
    bp = best.toPandas().set_index("image_id")
    for img, grp in got.groupby("image_id"):
        cands = vp[vp.image_id == img]
        b = bp.loc[img]
        d = np_haversine_km(cands.cand_lat, cands.cand_lng, b.best_lat, b.best_long)
        want = np.sort(d)[: len(grp)]
        np.testing.assert_allclose(np.sort(grp["dist_km"].to_numpy()), want, atol=1e-9)
    assert (got.groupby("image_id").size() <= 3).all()


def test_knn_spatial_exact_within_ring(spark, geo):
    _, gaz, _, best = geo
    got = knn.knn_spatial(best.limit(50), gaz, k=3, res=6).toPandas()
    bp = best.limit(50).toPandas()
    gp = gaz.toPandas()
    for img, grp in got.groupby("query_id"):
        b = bp[bp.image_id == img].iloc[0]
        d = np_haversine_km(gp.lat, gp.lng, b.best_lat, b.best_long)
        # brute-force k nearest; engine is exact when kth nbr is inside the ring
        kth = np.sort(d)[min(2, len(d) - 1)]
        cell_width_km = 40075.0 / (2**6)
        if kth < cell_width_km / 2:
            np.testing.assert_allclose(
                np.sort(grp["dist_km"].to_numpy()), np.sort(d)[: len(grp)], atol=1e-9
            )


def test_knn_spatial_hot_cell_skew(spark):
    """One res-6 cell holds about 10% of the points (a hot metro inside
    a uniform field). The ring join must still return the brute-force
    top-k: every query's k nearest points lie in its 3x3 ring (asserted
    below), so the equality is exact, ties broken by (dist, nbr_id)."""
    from batch_geocode_spark.functions.cells import np_cell_ring_batch

    res, k = 6, 5
    rng = np.random.default_rng(23)
    field = np.column_stack([rng.uniform(0, 30, 900), rng.uniform(-10, 30, 900)])
    hot = np.column_stack([rng.uniform(15.1, 15.4, 90), rng.uniform(8.6, 8.9, 90)])
    pts = np.vstack([field, hot])
    cells = np_cell_encode(pts[:, 0], pts[:, 1], res)
    hot_cell = np_cell_encode(15.2, 8.7, res)
    assert 0.09 <= np.mean(cells == hot_cell) <= 0.12
    assert np.unique(cells, return_counts=True)[1].max() == np.sum(cells == hot_cell)
    qs = np.vstack(
        [
            np.column_stack([rng.uniform(15.1, 15.4, 20), rng.uniform(8.6, 8.9, 20)]),
            np.column_stack([rng.uniform(5, 25, 40), rng.uniform(0, 20, 40)]),
        ]
    )
    points = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        "gaz_id long, lat double, lng double",
    )
    queries = spark.createDataFrame(
        [(1000 + i, float(a), float(b)) for i, (a, b) in enumerate(qs)],
        "image_id long, best_lat double, best_long double",
    )
    got = (
        knn.knn_spatial(queries, points, k=k, res=res)
        .toPandas()
        .sort_values(["query_id", "knn_rank"])
        .reset_index(drop=True)
    )
    rings = np_cell_ring_batch(np_cell_encode(qs[:, 0], qs[:, 1], res), res)
    want = []
    for i, (lat, lng) in enumerate(qs):
        d = np_haversine_km(pts[:, 0], pts[:, 1], lat, lng)
        top = np.lexsort((np.arange(len(pts)), d))[:k]
        assert np.isin(cells[top], rings[i]).all(), "k-th neighbour outside the ring"
        want += [(1000 + i, j, r + 1, d[j]) for r, j in enumerate(top)]
    want = pd.DataFrame(want, columns=["query_id", "nbr_id", "knn_rank", "dist_km"])
    assert got[["query_id", "nbr_id", "knn_rank"]].astype(np.int64).equals(
        want[["query_id", "nbr_id", "knn_rank"]].astype(np.int64)
    )
    np.testing.assert_allclose(got["dist_km"], want["dist_km"], rtol=0, atol=1e-9)


def test_match_rate_by_source(geo):
    images, _, vetted, _ = geo
    mr = rollups.match_rate_by_source(images, vetted).toPandas()
    assert set(mr["source"]) <= {"GM", "OSM", "GN", "FG"}
    assert ((mr["match_rate"] > 0) & (mr["match_rate"] <= 1)).all()


def test_raster_tiles_as_blobs_decode_exact(spark):
    """raster↔vector loop: the PGM16 blob decodes back to the exact
    per-tile count grid produced by assemble_raster_tiles."""
    import numpy as np

    from batch_geocode_spark import datagen
    from batch_geocode_spark.codecs import decode_pgm16
    from batch_geocode_spark.operators import geocode as G
    from batch_geocode_spark.operators import tiles as T

    images = datagen.images_to_spark(spark, 300, with_bytes=False)
    gaz = datagen.gazetteer_to_spark(spark)
    _, best = G.geocode_images(images, gaz)
    density = T.cell_density(best, res=9)
    tiles = T.assemble_raster_tiles(density, res=9, tile_res=6)
    blobs = T.raster_tiles_as_blobs(tiles).toPandas().set_index("tile")
    want = tiles.toPandas().set_index("tile")
    assert len(blobs) == len(want) > 0
    for tile, r in want.iterrows():
        px = int(r["tile_px"])
        grid = np.asarray(r["raster"], dtype=np.int64).reshape(px, px)
        dec = decode_pgm16(bytes(blobs.loc[tile, "blob"]))
        assert (dec == grid).all()
        assert blobs.loc[tile, "fmt"] == "pgm16"
        assert int(blobs.loc[tile, "n_images"]) == int(grid.sum())


def test_raster_blobs_to_cells_roundtrip(geo):
    """Full raster↔vector loop: density → raster tiles → PGM16 blobs →
    raster_blobs_to_cells reproduces the original (cell, n_images)
    table exactly, with the fine resolution recovered from the tile id
    + grid size alone (no parameters)."""
    _, _, _, best = geo
    density = tiles.cell_density(best, res=9)
    rast = tiles.assemble_raster_tiles(density, res=9, tile_res=5)
    blobs = tiles.raster_tiles_as_blobs(rast)
    back = tiles.raster_blobs_to_cells(blobs).toPandas().sort_values("cell")
    want = density.toPandas().sort_values("cell")
    assert back["cell"].tolist() == want["cell"].tolist()
    assert back["n_images"].tolist() == want["n_images"].tolist()


def _enc(res, x, y):
    return res * (2**58) + y * (2**29) + x


# hand-built res-3 density grids (cell, n_images), polygonized at
# threshold 2
_GRIDS = {
    "l_bar_singleton": [
        # L-shape: (1,1), (2,1), (2,2)
        (_enc(3, 1, 1), 5), (_enc(3, 2, 1), 3), (_enc(3, 2, 2), 2),
        # vertical bar: (5, 4), (5, 5)
        (_enc(3, 5, 4), 2), (_enc(3, 5, 5), 7),
        # isolated singleton
        (_enc(3, 7, 7), 9),
        # below threshold -> dropped
        (_enc(3, 0, 5), 1),
    ],
    # (7, 3) and (0, 3) are 4-connected across the antimeridian
    "wrap": [(_enc(3, 7, 3), 2), (_enc(3, 0, 3), 2)],
    # every x column at y = 2
    "full_ring": [(_enc(3, x, 2), 2) for x in range(8)],
}


def _grid(spark, name):
    return spark.createDataFrame(_GRIDS[name], "cell long, n_images long")


def test_polygonize_cells(spark):
    """Hand-built res-3 density grid: an L-shaped 3-cell region, a
    2-cell vertical bar, an isolated singleton, and a below-threshold
    cell that must vanish. Labels = min cell id per region."""
    res, n = 3, 8
    got = (
        tiles.polygonize_cells(_grid(spark, "l_bar_singleton"), res=res, threshold=2)
        .toPandas()
        .sort_values("region")
        .reset_index(drop=True)
    )
    assert len(got) == 3
    l_shape = got[got.region == _enc(res, 1, 1)].iloc[0]
    assert l_shape["n_cells"] == 3 and l_shape["n_images"] == 10
    # bbox spans cells x in [1,2], y in [1,2] at res 3 (45-degree cells)
    assert l_shape["bb_w"] == pytest.approx(1 / n * 360 - 180)
    assert l_shape["bb_e"] == pytest.approx(3 / n * 360 - 180)
    bar = got[got.region == _enc(res, 5, 4)].iloc[0]
    assert bar["n_cells"] == 2 and bar["n_images"] == 9
    single = got[got.region == _enc(res, 7, 7)].iloc[0]
    assert single["n_cells"] == 1 and single["n_images"] == 9


def test_polygonize_antimeridian_wrap(spark):
    """East neighbor wraps at x = 2^res - 1: cells (7, 3) and (0, 3) at
    res 3 are 4-connected across the antimeridian."""
    got = tiles.polygonize_cells(_grid(spark, "wrap"), res=3, threshold=2).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["n_cells"] == 2
    # wrap-aware bbox (RFC 7946): interval crosses ±180 with
    # bb_w > bb_e and width = 2 cells (90° at res 3), not world-span
    r = got.iloc[0]
    assert r["bb_w"] == pytest.approx(7 / 8 * 360 - 180)  # 135
    assert r["bb_e"] == pytest.approx(1 / 8 * 360 - 180)  # -135
    width = (r["bb_e"] - r["bb_w"]) % 360
    assert width == pytest.approx(90.0)


def test_polygonize_full_ring_bbox(spark):
    """A region covering every x column at its latitude is a full ring:
    reported as the canonical [-180, 180] interval."""
    got = tiles.polygonize_cells(_grid(spark, "full_ring"), res=3, threshold=2).toPandas()
    assert len(got) == 1
    assert got.iloc[0]["bb_w"] == -180.0 and got.iloc[0]["bb_e"] == 180.0


def test_polygonize_cell_cap(spark, monkeypatch):
    monkeypatch.setattr(tiles, "MAX_CELLS", 5)  # the grid has 6 hot cells
    with pytest.raises(
        ValueError, match=r"more than 5 rows.*raise the threshold or polygonize at a coarser res"
    ):
        tiles.polygonize_cells(_grid(spark, "l_bar_singleton"), res=3, threshold=2)


def _spark_polygonize_cells(density, res, threshold):
    """The Spark plan ``polygonize_cells`` ran before it moved to the
    driver: arithmetic neighbor equi-joins, the alternating-star
    connected components, a largest-gap search in windows and a
    broadcast join — the row-equality reference."""
    from pyspark.sql import Window

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
        .withColumn("x", F.col("cell") % F.lit(_Y_SHIFT))
    )
    xs = labeled.select("region", "x").distinct()
    w_x = Window.partitionBy("region").orderBy("x")
    gap_internal = (
        xs.withColumn("prev", F.lag("x").over(w_x))
        .filter(F.col("prev").isNotNull())
        .select("region", F.col("x").alias("origin"), (F.col("x") - F.col("prev")).alias("gap"))
    )
    gap_wrap = xs.groupBy("region").agg(
        F.min("x").alias("origin"), (F.min("x") - F.max("x") + F.lit(n)).alias("gap")
    )
    w_pick = Window.partitionBy("region").orderBy(F.col("gap").desc(), F.col("origin").asc())
    origins = (
        gap_internal.unionByName(gap_wrap)
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("region", "origin")
    )
    rot_x = (F.col("x") - F.col("origin") + F.lit(n)) % F.lit(n)
    yy = F.floor((F.col("cell") % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("double")
    full_ring = F.max(rot_x) == n - 1
    raw_w = F.first("origin").cast("double") / n * 360.0 - 180.0
    raw_e = (F.first("origin") + F.max(rot_x) + 1).cast("double") / n * 360.0 - 180.0
    return (
        labeled.join(F.broadcast(origins), "region")
        .withColumn("bs", yy / n * 180.0 - 90.0)
        .withColumn("bn", (yy + 1) / n * 180.0 - 90.0)
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_images").alias("n_images"),
            F.round(F.when(full_ring, F.lit(-180.0)).otherwise(raw_w), 6).alias("bb_w"),
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


def _random_grid(spark, res=12, seed=0):
    """Blobs of res-12 cells, two of them on the antimeridian and one
    on the north edge; bounds there are not multiples of 1e-6."""
    rng = np.random.default_rng(seed)
    n = 2**res
    x, y = [], []
    for cx, cy in [(0, 700), (n - 1, 2000), (900, n - 1)] + [
        (int(a), int(b)) for a, b in rng.integers(0, n, (30, 2))
    ]:
        k = int(rng.integers(1, 300))
        x.append((cx + rng.integers(-15, 16, k)) % n)
        y.append(np.clip(cy + rng.integers(-15, 16, k), 0, n - 1))
    cell = np.unique(_enc(res, np.concatenate(x), np.concatenate(y)))
    pdf = pd.DataFrame({"cell": cell, "n_images": rng.integers(1, 4, len(cell))})
    return spark.createDataFrame(pdf, "cell long, n_images long")


@pytest.mark.parametrize(
    "case", ["l_bar_singleton", "wrap", "full_ring", "no_hot_cells", "random_res12",
             "g16_sf0.01", "g16_sf0.1"],
)
def test_polygonize_matches_the_spark_plan(spark, sf_dir, case):
    """Equal to the replaced Spark plan, schema and rows, exactly."""
    res, threshold = 3, 2
    if case in _GRIDS:
        density = _grid(spark, case)
    elif case == "no_hot_cells":
        density, threshold = _grid(spark, "l_bar_singleton"), 10
    elif case == "random_res12":
        density, res = _random_grid(spark), 12
    else:  # the g16 density, at a sibling scale factor of the test data
        from batch_geocode_spark.entry_queries import TILE_RES, _geocoded

        _, best = _geocoded(spark, os.path.join(os.path.dirname(sf_dir), case.split("_")[1]))
        density, res = tiles.cell_density(best, res=TILE_RES), TILE_RES
    got = tiles.polygonize_cells(density, res=res, threshold=threshold)
    want = _spark_polygonize_cells(density, res, threshold)
    assert got.schema == want.schema
    a = got.toPandas().sort_values("region").reset_index(drop=True)
    b = want.toPandas().sort_values("region").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert (len(a) == 0) == (case == "no_hot_cells")
    if case == "random_res12":  # bounds off the 1e-6 grid were rounded
        col = (a["bb_w"] + 180) / 360 * 2**res
        assert (col != col.round()).any()


def test_zonal_stats(geo, spark):
    """Zonal stats over cell centers: per-zone cell counts and mass sum
    to the density cells whose centers fall in some zone; one world-box
    polygon captures every cell."""
    _, _, _, best = geo
    density = tiles.cell_density(best, res=9)
    world = spark.createDataFrame(
        [(0, "c0", 0, "WORLD", -180.0, 180.0, -90.0, 90.0)],
        "admin_id long, iso2 string, admin_level int, name string, "
        "bb_w double, bb_e double, bb_s double, bb_n double",
    ).withColumn(
        "rings",
        F.array(
            F.array(
                F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
                F.struct(F.col("bb_e").alias("x"), F.col("bb_s").alias("y")),
                F.struct(F.col("bb_e").alias("x"), F.col("bb_n").alias("y")),
                F.struct(F.col("bb_w").alias("x"), F.col("bb_n").alias("y")),
                F.struct(F.col("bb_w").alias("x"), F.col("bb_s").alias("y")),
            )
        ),
    )
    got = rollups.zonal_stats(density, world, res=9).toPandas()
    dp = density.toPandas()
    assert len(got) == 1
    assert int(got.iloc[0]["n_cells"]) == len(dp)
    assert int(got.iloc[0]["n_images"]) == int(dp["n_images"].sum())
    # cell ids self-describe their resolution: a density table built at
    # a different res than the caller's must fail loudly, not decode
    # wrong centers silently
    with pytest.raises(Exception, match="resolution"):
        rollups.zonal_stats(density, world, res=8).toPandas()


def test_pip_high_vertex_polygon_chunked(spark):
    """A 10^4-vertex ring exercises the chunked ray-cast fallback; the
    regular N-gon is near-circular, so radius comparison with an
    apothem margin is an analytic oracle."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from batch_geocode_spark.operators import pip as PIP

    n_vert, R = 10_000, 10.0
    cx, cy = 20.0, 10.0
    ang = np.linspace(0, 2 * math.pi, n_vert + 1)
    ring = [
        {"x": float(cx + R * math.cos(a)), "y": float(cy + R * math.sin(a))}
        for a in ang
    ]
    polys = spark.createDataFrame(
        [(1, "cx", 0, "bigpoly", cx - R, cy - R, cx + R, cy + R, [ring])],
        "admin_id long, iso2 string, admin_level int, name string, "
        "bb_w double, bb_s double, bb_e double, bb_n double, "
        "rings array<array<struct<x:double,y:double>>>",
    )
    rng = np.random.default_rng(5)
    apothem = R * math.cos(math.pi / n_vert)
    pts = []
    want_in = set()
    for i in range(500):
        r = rng.uniform(0, 1.5 * R)
        a = rng.uniform(0, 2 * math.pi)
        x, y = cx + r * math.cos(a), cy + r * math.sin(a)
        if abs(r - R) < 1e-3:  # skip the boundary sliver
            continue
        pts.append((f"p{i}", float(y), float(x)))
        if r < apothem:
            want_in.add(f"p{i}")
        elif r < R:
            continue  # between apothem and circumradius: either is fine
    points = spark.createDataFrame(pts, "image_id string, best_lat double, best_long double")
    got = {
        r["pt_id"]
        for r in PIP.pip_join(points, polys, res=3).select("pt_id").collect()
    }
    # every analytic-inside point found; no analytic-outside point kept
    outside = {p for (p, y, x) in pts} - want_in - {
        f"p{i}" for i in range(500)
    }.union(set())
    assert want_in <= got
    definite_out = {
        p for (p, y, x) in pts
        if (x - cx) ** 2 + (y - cy) ** 2 > (R * 1.0001) ** 2
    }
    assert not (got & definite_out)
