import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from batch_geocode_spark.functions import cells

lat_st = st.floats(min_value=-90.0, max_value=89.999, allow_nan=False)
lng_st = st.floats(min_value=-180.0, max_value=179.999, allow_nan=False)
res_st = st.integers(min_value=0, max_value=29)


@settings(max_examples=200, deadline=None)
@given(lat_st, lng_st, res_st)
def test_roundtrip_containment(lat, lng, res):
    cid = int(cells.np_cell_encode(lat, lng, res))
    r, x, y = (int(v) for v in cells.np_cell_decode(cid))
    w, e = x / 2**r * 360.0 - 180.0, (x + 1) / 2**r * 360.0 - 180.0
    s, n = y / 2**r * 180.0 - 90.0, (y + 1) / 2**r * 180.0 - 90.0
    # containment up to float rounding at cell edges: (lng+180)/360*2^r can
    # round exactly onto a boundary, putting the point one cell over
    assert (w <= lng < e) or np.isclose(lng, w, atol=1e-7) or np.isclose(lng, e, atol=1e-7)
    assert (s <= lat < n) or np.isclose(lat, s, atol=1e-7) or np.isclose(lat, n, atol=1e-7)
    assert r == res


def test_neighbors():
    cid = int(cells.np_cell_encode(10.0, 20.0, 5))
    nbrs = cells.np_cell_neighbors(cid)
    assert len(nbrs) == 8 and cid not in nbrs


def test_polyfill_bbox_covers_points():
    cover = set(cells.np_polyfill_bbox(-10.0, -5.0, 12.0, 7.0, 6).tolist())
    rng = np.random.default_rng(0)
    lats = rng.uniform(-5.0, 7.0, 200)
    lngs = rng.uniform(-10.0, 12.0, 200)
    pts = cells.np_cell_encode(lats, lngs, 6)
    assert set(pts.tolist()) <= cover


def test_column_and_sql_match_numpy(spark):
    rng = np.random.default_rng(1)
    lats = rng.uniform(-90, 90, 50)
    lngs = rng.uniform(-180, 180, 50)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    for res in (0, 7, 12, 29):
        want = cells.np_cell_encode(lats, lngs, res)
        got = df.select(cells.cell_encode(F.col("lat"), F.col("lng"), res).alias("c")).collect()
        assert [r["c"] for r in got] == want.tolist()
        got_sql = df.select(
            F.expr(cells.cell_encode_sql("lat", "lng", res)).alias("c")
        ).collect()
        assert [r["c"] for r in got_sql] == want.tolist()
        duck = duckdb.sql(
            "SELECT "
            + cells.cell_encode_sql("lat", "lng", res)
            + " AS c FROM (SELECT unnest($lats) AS lat, unnest($lngs) AS lng)",
            params={"lats": lats.tolist(), "lngs": lngs.tolist()},
        ).df()
        assert duck["c"].tolist() == want.tolist()


def test_cell_parent_column(spark):
    rng = np.random.default_rng(2)
    lats = rng.uniform(-90, 90, 30)
    lngs = rng.uniform(-180, 180, 30)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    got = df.select(
        cells.cell_parent(cells.cell_encode(F.col("lat"), F.col("lng"), 12), 12, 5).alias("p")
    ).collect()
    want = cells.np_cell_encode(lats, lngs, 5)
    assert [r["p"] for r in got] == want.tolist()


def test_cell_ring_batch_matches_scalar():
    """np_cell_ring_batch (round 4, vectorized kNN ring) must reproduce
    np_cell_neighbors + center for every cell — including poles (lat
    clamp drops rows) and the antimeridian (lng wrap)."""
    rng = np.random.default_rng(7)
    for res in (2, 5, 7, 12):
        lats = np.concatenate([rng.uniform(-90, 90, 40), [-89.99, 89.99, 0.0]])
        lngs = np.concatenate([rng.uniform(-180, 180, 40), [-179.99, 179.99, 0.0]])
        base = cells.np_cell_encode(lats, lngs, res)
        mat = cells.np_cell_ring_batch(base, res)
        assert mat.shape == (len(base), 9)
        for i, c in enumerate(base):
            want = sorted(set(cells.np_cell_neighbors(int(c)).tolist()) | {int(c)})
            got = sorted(v for v in mat[i].tolist() if v >= 0)
            assert got == want, f"res={res} cell={c}"


def test_cell_ring_batch_degenerate_grid():
    """res 0/1 grids: wrap collisions must be deduped, not duplicated."""
    for res in (0, 1):
        base = cells.np_cell_encode(np.array([10.0, -40.0]), np.array([5.0, 170.0]), res)
        mat = cells.np_cell_ring_batch(base, res)
        for i, c in enumerate(base):
            want = sorted(set(cells.np_cell_neighbors(int(c)).tolist()) | {int(c)})
            got = sorted(v for v in mat[i].tolist() if v >= 0)
            assert got == want


def test_quadkey_roundtrip_and_prefix(spark):
    """quadkey: decode(qk) inverts encode, and a parent cell's quadkey
    is the child's string prefix (the property hierarchical pruning
    relies on). Cross-checked Column expr vs SQL generator."""
    import duckdb

    from batch_geocode_spark.functions.cells import (
        cell_encode,
        cell_parent,
        np_cell_decode,
        np_quadkey_decode,
        quadkey,
        quadkey_sql,
    )

    pts = [(0, 51.5, -0.1), (1, -33.9, 151.2), (2, 89.9, 179.9),
           (3, -89.9, -179.9), (4, 0.0, 0.0)]
    df = spark.createDataFrame(pts, "pt long, lat double, lng double")
    res, pres = 9, 6
    out = df.select(
        "pt",
        cell_encode(F.col("lat"), F.col("lng"), res).alias("cell"),
        quadkey(cell_encode(F.col("lat"), F.col("lng"), res), res).alias("qk"),
        quadkey(
            cell_parent(cell_encode(F.col("lat"), F.col("lng"), res), res, pres),
            pres,
        ).alias("pqk"),
    ).toPandas()
    for r in out.itertuples():
        dres, dy, dx = np_quadkey_decode(r.qk)
        cres, cx, cy = np_cell_decode(r.cell)
        assert (dres, dy, dx) == (cres, cy, cx)
        assert r.qk.startswith(r.pqk) and len(r.pqk) == pres
    # SQL generator emits the identical strings
    con = duckdb.connect()
    for r in out.itertuples():
        got = con.execute(
            f"SELECT {quadkey_sql(str(r.cell), res)}"
        ).fetchone()[0]
        assert got == r.qk


def test_cell_ring_cells_column_matches_numpy(spark):
    """cell_ring_cells (r7: Column-expr ring on the kNN/DBSCAN candidate
    paths) must be element-identical to np_cell_ring_batch — same order,
    same -1 sentinels at the lat clamp, same lng wrap."""
    rng = np.random.default_rng(11)
    lats = np.concatenate([rng.uniform(-90, 90, 40), [-89.99, 89.99, 0.0]])
    lngs = np.concatenate([rng.uniform(-180, 180, 40), [-179.99, 179.99, 0.0]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lngs)], "lat double, lng double"
    )
    for res in (2, 3, 7, 12):
        base = cells.np_cell_encode(lats, lngs, res)
        want = cells.np_cell_ring_batch(base, res).tolist()
        got = df.select(
            cells.cell_ring_cells(
                cells.cell_encode(F.col("lat"), F.col("lng"), res), res
            ).alias("ring")
        ).collect()
        assert [r["ring"] for r in got] == want


def test_cell_ring_cells_rejects_degenerate_res():
    import pytest

    with pytest.raises(ValueError):
        cells.cell_ring_cells(F.lit(0), 1)
