"""Weighted-site DBSCAN (operators/cluster.py): hand-built fixture
exercising every role (core / border / noise), singleton-core clusters,
the antimeridian ring wrap and the job count; a seeded adversarial site
set (hot cell, deep chain, duplicates, antimeridian pair) checked
against a brute-force point DBSCAN; the empty-input and guard paths.
The driver-side ``cluster_summary`` and ``cluster_hulls`` are checked
bit for bit against the Spark plans they replaced, kept here as
references."""

import itertools
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from conftest import _jobs_in
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import np_cell_encode
from batch_geocode_spark.functions.geo import EARTH_RADIUS_KM, np_haversine_km
from batch_geocode_spark.operators import cluster as C

# res 4 → lat cell extent ~1250 km, lng cell 22.5°; eps 300 km fits
RES, EPS, MIN_PTS = 4, 300.0, 4


@pytest.fixture(scope="module")
def fixture_points(spark):
    # (pt_id, lat, lng) — co-located points share coordinates exactly
    rows = []

    def site(pt0, n, lat, lng):
        rows.extend((pt0 + i, lat, lng) for i in range(n))

    site(100, 3, 0.0, 0.0)  # a1: w=3, core (mass 5 with a2)
    site(200, 2, 0.0, 1.0)  # a2: w=2, 111 km from a1 → core
    site(10, 1, 0.0, 3.0)  # b1: w=1, 222 km from a2 (334 km from a1,
    #                          outside eps), mass 3 → border
    site(300, 1, 10.0, 10.0)  # n1: isolated, mass 1 → noise
    site(400, 3, 0.0, 179.9)  # c1 ┐ antimeridian pair, 22 km apart,
    site(500, 3, 0.0, -179.9)  # c2 ┘ adjacent only via the x wrap
    site(600, 5, -30.0, -30.0)  # d1: w=5 alone → singleton core
    return spark.createDataFrame(rows, "pt_id long, lat double, lng double")


@pytest.fixture(scope="module")
def assigned(fixture_points):
    return C.spatial_clusters(
        fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES
    ).toPandas()


def test_weighted_sites(fixture_points):
    sites = C.weighted_sites(fixture_points).toPandas()
    assert len(sites) == 7
    by_id = sites.set_index("site_id")
    assert by_id.loc[100, "w"] == 3  # min pt_id at the coordinate
    assert by_id.loc[600, "w"] == 5


def test_roles(assigned):
    by_id = assigned.set_index("site_id")
    assert bool(by_id.loc[100, "is_core"]) and bool(by_id.loc[200, "is_core"])
    assert not bool(by_id.loc[10, "is_core"])  # border: mass 3 < 4
    assert 300 not in by_id.index  # noise dropped
    assert bool(by_id.loc[400, "is_core"]) and bool(by_id.loc[500, "is_core"])
    assert bool(by_id.loc[600, "is_core"])  # singleton core kept


def test_cluster_labels(assigned):
    by_id = assigned.set_index("site_id")["cluster"]
    # label = min CORE site id — the border site's smaller id (10) must
    # NOT become the label
    assert by_id[100] == 100 and by_id[200] == 100 and by_id[10] == 100
    assert by_id[400] == 400 and by_id[500] == 400  # wrap-linked pair
    assert by_id[600] == 600  # singleton


def test_summary(assigned, spark):
    sdf = spark.createDataFrame(assigned)
    summ = C.cluster_summary(sdf).toPandas().set_index("cluster")
    assert summ.loc[100, "n_points"] == 6  # 3 + 2 + 1 border
    assert summ.loc[100, "n_sites"] == 3
    assert summ.loc[100, "n_core_sites"] == 2
    assert summ.loc[400, "n_points"] == 6
    assert summ.loc[600, "n_points"] == 5
    # weighted centroid of cluster 100: lats all 0, lngs (0*3+1*2+2.5)/6
    assert summ.loc[100, "centroid_lat"] == 0.0
    assert summ.loc[100, "centroid_lng"] == round(5.0 / 6, 6)


def test_summary_antimeridian_centroid(assigned, spark):
    """The wrap-spanning cluster {+179.9, -179.9} (equal weights) must
    centre at ±180 via largest-gap rotation, not the misleading ~0 a
    plain longitude mean produces; non-wrap clusters keep the plain
    weighted mean exactly."""
    sdf = spark.createDataFrame(assigned)
    summ = C.cluster_summary(sdf).toPandas().set_index("cluster")
    assert abs(abs(summ.loc[400, "centroid_lng"]) - 180.0) < 1e-6
    assert summ.loc[400, "centroid_lat"] == 0.0
    # singleton cluster: centroid is the site itself
    assert summ.loc[600, "centroid_lng"] == -30.0


def _spark_cluster_summary(assigned):
    """The Spark plan ``cluster_summary`` ran before it moved to the
    driver: a collect_set gap search in array expressions, a broadcast
    join and decimal sums — the bit-equality reference."""
    arr = assigned.groupBy("cluster").agg(F.sort_array(F.collect_set("lng")).alias("ls"))
    ls = F.col("ls")
    n_ls = F.size(ls)
    dec = lambda c: c.cast("decimal(14,8)")  # noqa: E731
    idx = F.when(n_ls >= 2, F.sequence(F.lit(2), n_ls)).otherwise(
        F.array().cast("array<int>")
    )
    internal = F.transform(
        idx,
        lambda i: F.struct(
            (dec(F.element_at(ls, i)) - dec(F.element_at(ls, i - F.lit(1).cast("int")))).alias("gap"),
            (-dec(F.element_at(ls, i))).alias("neg_origin"),
            F.element_at(ls, i).alias("origin"),
        ),
    )
    wrap = F.struct(
        (dec(F.element_at(ls, 1)) - dec(F.element_at(ls, -1)) + F.lit(360)).alias("gap"),
        (-dec(F.element_at(ls, 1))).alias("neg_origin"),
        F.element_at(ls, 1).alias("origin"),
    )
    best = F.array_max(F.concat(internal, F.array(wrap)))
    origins = arr.select("cluster", best["origin"].alias("origin"))

    def dec_wsum(col):
        return F.sum(col * F.col("w").cast("decimal(20,0)")).cast("double")

    lng_dec = F.col("lng").cast("decimal(14,8)")
    origin_dec = F.col("origin").cast("decimal(14,8)")
    rotated = F.when(lng_dec >= origin_dec, lng_dec - origin_dec).otherwise(
        lng_dec - origin_dec + F.lit(360)
    )
    raw_lng = dec_wsum(rotated) / F.sum("w") + F.first("origin")
    norm_lng = F.when(raw_lng > 180, raw_lng - 360).otherwise(raw_lng)
    return (
        assigned.join(F.broadcast(origins), "cluster")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            F.sum(F.when(F.col("is_core"), 1).otherwise(0)).alias("n_core_sites"),
            F.sum("w").alias("n_points"),
            F.round(dec_wsum(F.col("lat").cast("decimal(14,8)")) / F.sum("w"), 6).alias(
                "centroid_lat"
            ),
            F.round(norm_lng, 6).alias("centroid_lng"),
        )
    )


def _spark_cluster_hulls(assigned):
    """The ``applyInPandas`` plan ``cluster_hulls`` ran before it moved
    to the driver — the row-equality reference."""

    def hull(pdf):
        ring = C.hull_ring(list(zip(pdf["lng"].tolist(), pdf["lat"].tolist())))
        return pd.DataFrame(
            {
                "cluster": pdf["cluster"].iloc[0],
                "hull_idx": range(len(ring)),
                "lat": [p[1] for p in ring],
                "lng": [p[0] for p in ring],
                "n_vertices": len(ring),
            }
        )

    ctype = assigned.schema["cluster"].dataType.simpleString()
    return assigned.groupBy("cluster").applyInPandas(
        hull, schema=f"cluster {ctype}, hull_idx int, lat double, lng double, n_vertices int"
    )


def _assert_same_rows(got, want, keys):
    assert got.schema == want.schema
    a = got.toPandas().sort_values(keys).reset_index(drop=True)
    b = want.toPandas().sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted with a job group of its
    own (a group's job ids accumulate over every use of its name)."""
    return _jobs_in(spark, f"cluster-jobs-{next(_GROUPS)}", fn)


def _tie(x: float, places: int) -> float:
    """``x`` cut to ``places`` decimals with a 5 appended: an exact tie
    one decimal past ``places`` in its decimal string."""
    d = Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)
    return float(str(d) + "5")


def _summary_sweep(seed: int = 0) -> pd.DataFrame:
    """(cluster, lat, lng, w, is_core) clusters for the bit-equality
    sweep. Coordinates are full precision, rounded to 0-8 dp, or exact
    ties at the 9th decimal (the ``decimal(14,8)`` cast) and the 7th
    (``round(…, 6)`` of a singleton's centroid), mixed within a
    cluster; some clusters span the antimeridian; weights reach 1e11.
    Hand-made clusters add tied largest gaps and distinct longitudes
    that share one 8-dp decimal (a zero gap)."""
    rng = np.random.default_rng(seed)
    rows = []

    def coord(x):
        kind = rng.integers(0, 12)
        if kind == 9:
            return x
        if kind < 9:
            return round(x, int(kind))
        return _tie(x, 8 if kind == 10 else 6)

    for cid in range(60):
        n = int(rng.choice([1, 2, 3, 8, 40]))
        lat0 = rng.uniform(-80, 80)
        lng0 = 180.0 if cid % 5 == 0 else rng.uniform(-180, 180)  # wrap-spanning
        spread = rng.choice([1e-7, 0.01, 1.0, 20.0])
        wmax = int(rng.choice([10, 10**6, 10**11]))
        for _ in range(n):
            lat = float(np.clip(lat0 + rng.normal(0, spread), -89.9, 89.9))
            lng = float((lng0 + rng.normal(0, spread) + 180) % 360 - 180)
            rows.append(
                (1000 + cid, coord(lat), coord(lng), int(rng.integers(1, wmax + 1)),
                 bool(rng.integers(0, 2)))
            )
    hand = {
        1: [-170.0, -10.0, 10.0, 170.0],  # internal gaps tie at 160
        2: [-180.0, -60.0, 60.0],  # all three gaps tie at 120
        3: [10.000000001, 10.000000002, 10.0000000049, 20.5],  # one decimal
        4: [179.9, -179.9],  # the antimeridian pair
    }
    for cid, lngs in hand.items():
        rows += [(cid, 0.5 * i, x, i + 1, i % 2 == 0) for i, x in enumerate(lngs)]
    # one coordinate under large odd weights: the exact mean is a tie at
    # the 7th decimal, which a float64 weighted sum misses
    rows += [(5, 0.1234565, 10.0000005, w, True) for w in (10**11 + 7, 10**11 + 13, 3 * 10**10 + 1)]
    return pd.DataFrame(rows, columns=["cluster", "lat", "lng", "w", "is_core"])


_SITES_SCHEMA = "cluster long, lat double, lng double, w long, is_core boolean"


@pytest.mark.parametrize("case", ["sweep", "string_ids", "single_site", "empty"])
def test_summary_matches_the_spark_plan(spark, case):
    """Bit-equal to the replaced Spark plan, schema included."""
    pdf = _summary_sweep(seed=0)
    schema = _SITES_SCHEMA
    if case == "string_ids":
        pdf = _summary_sweep(seed=1).assign(cluster=lambda d: d["cluster"].map("img{:09d}".format))
        schema = schema.replace("cluster long", "cluster string")
    elif case == "single_site":
        pdf = pdf.iloc[[7]]
    elif case == "empty":
        pdf = pdf.iloc[:0]
    sdf = spark.createDataFrame(pdf, schema)
    _assert_same_rows(C.cluster_summary(sdf), _spark_cluster_summary(sdf), ["cluster"])


def test_summary_sweep_covers_its_cases():
    """The sweep holds what its docstring claims."""
    pdf = _summary_sweep(seed=0)
    strings = pdf["lat"].map(repr).tolist() + pdf["lng"].map(repr).tolist()
    decimals = {len(s.split(".")[1]) for s in strings}
    assert set(range(1, 10)) <= decimals and max(decimals) >= 14
    assert sum(s.endswith("5") and len(s.split(".")[1]) == 9 for s in strings) >= 20
    assert sum(s.endswith("5") and len(s.split(".")[1]) == 7 for s in strings) >= 20
    assert pdf["w"].max() > 10**10
    spans = pdf.groupby("cluster")["lng"].agg(lambda x: x.max() - x.min())
    assert (spans > 300).sum() >= 5  # wrap-spanning clusters
    assert (pdf.groupby("cluster").size() == 1).sum() >= 5


def test_half_up_follows_the_jvm_string(spark):
    """Spark rounds the JVM's decimal string of a double. JDK 17's
    ``Double.toString`` is not always the shortest round-trip string
    (JDK-4511638, fixed in JDK 19); ``_half_up`` follows the JVM, so it
    matches Spark's cast where ``repr`` would not."""
    x = 2.82879384806159e17
    java = spark._jvm.java.lang.Double.toString(x)
    got = int(C._half_up(spark, np.array([x, -0.0, 1e-5]), 0)[0])
    want = spark.range(1).select(F.lit(x).cast("decimal(38,0)").alias("d")).first()["d"]
    assert got == int(want) == int(Decimal(java))
    if java != "2.82879384806159E17":  # a JDK with a non-shortest toString
        assert got != int(Decimal(repr(x)))
    # ties round half up (away from zero), on either sign
    ties = np.array([0.5, -0.5, 179.123456785, -179.123456785, 0.1234565])
    assert C._half_up(spark, ties, 8).tolist() == [
        50_000_000, -50_000_000, 17_912_345_679, -17_912_345_679, 12_345_650
    ]
    assert C._half_up(spark, ties, 6)[-1] == 123_457


def test_summary_and_clusters_job_count(spark, fixture_points):
    """spatial_clusters + cluster_summary().collect() on the fixture: the
    site collect only (6 jobs with the Spark summary plan). The
    assignment is a local relation, so the summary collects it, and its
    own result is collected, without a job."""

    def run():
        C.cluster_summary(
            C.spatial_clusters(fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES)
        ).collect()

    assert _jobs(spark, run) <= 2
    assigned = C.spatial_clusters(fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES)
    assert _jobs(spark, lambda: C.cluster_summary(assigned).collect()) == 0


def test_spatial_clusters_job_count(spark, fixture_points):
    """The site table is collected once and clustered on the driver: a
    handful of jobs at call time, not a distributed join, checkpoints
    and a connected-components loop (16-17 jobs on this fixture)."""
    n = _jobs(
        spark, lambda: C.spatial_clusters(fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES)
    )
    assert n <= 3


def test_res_guard(fixture_points):
    with pytest.raises(ValueError, match="res must be >= 2"):
        C.spatial_clusters(fixture_points, eps_km=100.0, min_pts=MIN_PTS, res=1)


def test_collect_capped_local_relation(spark, monkeypatch):
    """A small local relation is collected without a job, with the
    values and dtypes of Arrow's ``toPandas`` (int32 stays int32, a
    nullable long with a null is float64, nested structs, timestamps
    and maps convert alike); above ``LOCAL_ROWS`` rows, and for a
    frame that is not local, the Arrow collect runs."""
    import datetime

    import batch_geocode_spark.operators as O

    pdf = pd.DataFrame(
        {
            "i": np.array([1, 2, 3], np.int32),
            "n": pd.array([1, None, 3], dtype="Int64"),
            "s": ["a", None, "c"],
            "rings": [[[{"x": 1.0, "y": 2.0}]], None, [[{"x": 3.0, "y": 4.0}]]],
            "ts": [datetime.datetime(2020, 1, 1, 3), None, datetime.datetime(2021, 2, 3)],
        }
    )
    local = spark.createDataFrame(
        pdf, "i int, n long, s string, rings array<array<struct<x:double,y:double>>>, ts timestamp"
    ).withColumn("m", F.create_map(F.lit("k"), F.col("i")))
    for df in (local, local.filter("i > 1"), local.limit(0)):
        got = []
        assert _jobs(spark, lambda: got.append(O.collect_capped(df, 10, "t", "r"))) == 0
        pd.testing.assert_frame_equal(got[0], df.toPandas(), check_exact=True)
    monkeypatch.setattr(O, "LOCAL_ROWS", 2)
    assert _jobs(spark, lambda: O.collect_capped(local, 10, "t", "r")) == 1
    assert _jobs(spark, lambda: O.collect_capped(spark.range(3), 10, "t", "r")) == 1


def test_site_cap(fixture_points, monkeypatch):
    monkeypatch.setattr(C, "MAX_SITES", 6)  # the fixture has 7 sites
    with pytest.raises(ValueError, match=r"more than 6 rows.*round the coordinates"):
        C.spatial_clusters(fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES)


def test_empty_input(spark, fixture_points):
    want = C.spatial_clusters(fixture_points, eps_km=EPS, min_pts=MIN_PTS, res=RES)
    got = C.spatial_clusters(
        fixture_points.limit(0), eps_km=EPS, min_pts=MIN_PTS, res=RES
    )
    assert got.schema == want.schema
    assert got.count() == 0


# adversarial set: res 6 cells are 2.8125° tall (~313 km) and at least
# 313 km wide below 60° latitude, so eps 40 km makes the ring exact
ADV_RES, ADV_EPS, ADV_MIN_PTS = 6, 40.0, 4


def _east(lat: float, km: float) -> float:
    """Degrees of longitude spanning ``km`` along the ``lat`` parallel."""
    return np.degrees(
        2 * np.arcsin(np.sin(km / (2 * EARTH_RADIUS_KM)) / np.cos(np.radians(lat)))
    )


def _adversarial_points(seed: int = 11) -> pd.DataFrame:
    """(pt_id, lat, lng) at 30-60° latitude: ~10% of the sites in one
    res-6 cell, a 200-site chain spaced at 0.98 eps, a border site
    between two clusters, blobs, sparse background, duplicated
    coordinates and a pair that meets across the antimeridian."""
    rng = np.random.default_rng(seed)
    hot = np.column_stack([rng.uniform(45.5, 46.5, 150), rng.uniform(1.0, 3.0, 150)])
    # chain along the 40th parallel: neighbours 0.98 eps apart, sites
    # two apart 1.96 eps apart, so only the chain links it end to end
    chain = np.column_stack(
        [np.full(200, 40.0), -100.0 + _east(40.0, 0.98 * ADV_EPS) * np.arange(200)]
    )
    # two 4-site clusters 1.6 eps apart, a weight-1 site midway: it
    # reaches one core of each (mass 3), so it is a border site that
    # must take the smaller of the two labels
    sat = [(0.15, 0.4), (-0.15, 0.4), (0.0, 0.6)]  # (dlat, eps fraction)
    lng_x, lng_b = 60.0 + _east(35.0, 0.8 * ADV_EPS), 60.0 + _east(35.0, 1.6 * ADV_EPS)
    bridge = [(35.0, lng_x)]
    for sign, center in ((-1, 60.0), (1, lng_b)):
        bridge.append((35.0, center))
        bridge += [(35.0 + dy, center + sign * _east(35.0, f * ADV_EPS)) for dy, f in sat]
    bridge = np.array(bridge)
    centers = np.column_stack([rng.uniform(32, 58, 20), rng.uniform(-170, 170, 20)])
    blobs = np.repeat(centers, 15, axis=0) + rng.normal(0, 0.25, (300, 2))
    background = np.column_stack([rng.uniform(30, 60, 800), rng.uniform(-180, 180, 800)])
    wrap = np.array([[45.0, 179.95], [45.0, -179.97]])
    sites = np.vstack([hot, chain, bridge, blobs, background, wrap])
    # duplicates: the chain and the wrap pair twice each (weight 2 makes
    # them core), plus 100 random sites of the hot cell, blobs and
    # background again
    loose = np.vstack([hot, blobs, background])
    pts = np.vstack([sites, chain, wrap, loose[rng.choice(len(loose), 100, replace=False)]])
    order = rng.permutation(len(pts))  # point ids unrelated to layout
    return pd.DataFrame({"pt_id": order.astype(np.int64), "lat": pts[:, 0], "lng": pts[:, 1]})


def _brute_force_dbscan(pts: pd.DataFrame) -> set:
    """Classic point DBSCAN over all pairs: core = at least ADV_MIN_PTS
    points within eps (itself included); clusters grow from cores in
    point-id order, so each takes its minimum core id; a border point
    takes the minimum label among its core neighbours. Returned per
    coordinate as (site_id = min point id, cluster, is_core)."""
    ids = pts["pt_id"].to_numpy()
    lat, lng = pts["lat"].to_numpy(), pts["lng"].to_numpy()
    near = np_haversine_km(lat[:, None], lng[:, None], lat[None, :], lng[None, :]) <= ADV_EPS
    core = near.sum(axis=1) >= ADV_MIN_PTS
    label = {}
    for i in sorted(np.flatnonzero(core), key=lambda i: ids[i]):
        if i in label:
            continue
        label[i], todo = ids[i], [i]
        while todo:
            j = todo.pop()
            for k in np.flatnonzero(near[j] & core):
                if k not in label:
                    label[k] = ids[i]
                    todo.append(k)
    for i in np.flatnonzero(~core):
        reach = [label[k] for k in np.flatnonzero(near[i] & core)]
        if reach:
            label[i] = min(reach)
    site_of = pts.groupby(["lat", "lng"])["pt_id"].transform("min").to_numpy()
    return {(int(site_of[i]), int(c), bool(core[i])) for i, c in label.items()}


def test_adversarial_sites_match_brute_force(spark):
    pts = _adversarial_points()
    sites = pts.drop_duplicates(["lat", "lng"])
    in_hot = np_cell_encode(sites["lat"], sites["lng"], ADV_RES) == np_cell_encode(
        46.0, 2.0, ADV_RES
    )
    assert in_hot.mean() >= 0.09
    got = C.spatial_clusters(
        spark.createDataFrame(pts), eps_km=ADV_EPS, min_pts=ADV_MIN_PTS, res=ADV_RES
    ).toPandas()
    assert got["site_id"].is_unique
    want = _brute_force_dbscan(pts)
    assert set(zip(*(got[c].tolist() for c in ("site_id", "cluster", "is_core")))) == want
    # the fixture holds what it claims: the whole chain in one cluster,
    # the wrap pair linked, and border sites and noise both present
    assert got.loc[got["lat"] == 40.0, "cluster"].nunique() == 1
    assert (got["lat"] == 40.0).sum() == 200
    assert got.loc[got["lng"].isin([179.95, -179.97]), "cluster"].nunique() == 1
    # the bridge site is a border site with the smaller of two labels
    bridge = got[got["lat"] == 35.0].set_index("lng")
    lng_x = 60.0 + _east(35.0, 0.8 * ADV_EPS)
    assert bridge["cluster"].nunique() == 2 and not bridge.loc[lng_x, "is_core"]
    assert bridge.loc[lng_x, "cluster"] == bridge["cluster"].min()
    assert not got["is_core"].all() and len(got) < len(sites)


def test_pair_blocks_do_not_change_the_result(monkeypatch):
    """Candidate pairs expanded a few dozen at a time (many blocks, some
    a single hot-cell site) give the same clustering as one block."""
    pts = _adversarial_points()
    sites = (
        pts.groupby(["lat", "lng"], as_index=False)
        .agg(site_id=("pt_id", "min"), w=("pt_id", "size"))
        .sample(frac=1.0, random_state=3)
    )
    whole = C._dbscan(sites, ADV_EPS, ADV_MIN_PTS, ADV_RES)
    monkeypatch.setattr(C, "_PAIR_BUDGET", 37)
    pd.testing.assert_frame_equal(C._dbscan(sites, ADV_EPS, ADV_MIN_PTS, ADV_RES), whole)


def test_cluster_hulls_known_shapes(spark):
    """Square + interior point → 4-vertex CCW ring from the
    lexicographic (lng, lat) minimum; 2-site and 1-site clusters
    degrade to 2- and 1-vertex outlines."""
    rows = [
        # (cluster, lat, lng, w, is_core) — square with center
        (1, 0.0, 0.0), (1, 0.0, 1.0), (1, 1.0, 0.0), (1, 1.0, 1.0),
        (1, 0.5, 0.5),
        (2, 5.0, 5.0), (2, 5.0, 6.0),
        (3, 7.0, -9.0),
    ]
    sdf = spark.createDataFrame(
        pd.DataFrame(
            [(c, lat, lng, 1, True) for (c, lat, lng) in rows],
            columns=["cluster", "lat", "lng", "w", "is_core"],
        ),
        _SITES_SCHEMA,
    )
    # a local assignment is collected without a job
    assert _jobs(spark, lambda: C.cluster_hulls(sdf)) == 0
    _assert_same_rows(C.cluster_hulls(sdf), _spark_cluster_hulls(sdf), ["cluster", "hull_idx"])
    got = (
        C.cluster_hulls(sdf)
        .toPandas()
        .sort_values(["cluster", "hull_idx"])
        .reset_index(drop=True)
    )
    sq = got[got["cluster"] == 1]
    # interior point dropped; CCW from (lng=0, lat=0): east along the
    # lower chain, then back west along the upper chain
    assert list(zip(sq["lng"], sq["lat"])) == [
        (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)
    ]
    assert set(sq["n_vertices"]) == {4}
    pair = got[got["cluster"] == 2]
    assert list(zip(pair["lng"], pair["lat"])) == [(5.0, 5.0), (6.0, 5.0)]
    single = got[got["cluster"] == 3]
    assert list(zip(single["lng"], single["lat"])) == [(-9.0, 7.0)]
    assert list(single["n_vertices"]) == [1]
    empty = C.cluster_hulls(sdf.limit(0))
    assert empty.schema == _spark_cluster_hulls(sdf).schema and empty.count() == 0


def test_adversarial_summary_and_hulls_match_the_spark_plans(spark):
    """On the adversarial assignment (antimeridian pair included) the
    driver-side summary and hulls equal the replaced Spark plans."""
    assigned = C.spatial_clusters(
        spark.createDataFrame(_adversarial_points()),
        eps_km=ADV_EPS, min_pts=ADV_MIN_PTS, res=ADV_RES,
    )
    wrap = assigned.filter(F.col("lng").isin(179.95, -179.97)).select("cluster").distinct()
    assert wrap.count() == 1
    _assert_same_rows(C.cluster_summary(assigned), _spark_cluster_summary(assigned), ["cluster"])
    _assert_same_rows(
        C.cluster_hulls(assigned), _spark_cluster_hulls(assigned), ["cluster", "hull_idx"]
    )


@pytest.mark.parametrize("seed", range(3))
def test_hull_ring_property_vs_reference(seed):
    """Property test (pure Python, no Spark): the monotone-chain ring
    must (a) contain exactly the strict extreme points — every input
    point must be inside-or-on the hull, every ring vertex must NOT be
    expressible as interior to the others — and (b) walk CCW (shoelace
    area > 0 for non-degenerate hulls). Uses hypothesis if available,
    else a seeded random sweep."""
    import random

    from batch_geocode_spark.operators.cluster import hull_ring

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def inside_or_on(ring, p):
        # p is inside-or-on a CCW convex ring iff it is left-of-or-on
        # every directed edge
        m = len(ring)
        return all(
            cross(ring[i], ring[(i + 1) % m], p) >= -1e-9 for i in range(m)
        )

    rng = random.Random(seed)
    for trial in range(60):
        n = rng.randint(1, 25)
        # grid-snapped coordinates generate plenty of collinear and
        # duplicate degeneracies
        pts = [(rng.randint(-5, 5) * 1.0, rng.randint(-5, 5) * 1.0) for _ in range(n)]
        ring = hull_ring(pts)
        distinct = sorted(set(pts))
        assert set(ring) <= set(distinct)
        if len(ring) >= 3:
            # CCW orientation: positive shoelace area
            area = sum(
                ring[i][0] * ring[(i + 1) % len(ring)][1]
                - ring[(i + 1) % len(ring)][0] * ring[i][1]
                for i in range(len(ring))
            )
            assert area > 0, (pts, ring)
            # every input point is inside-or-on
            for p in distinct:
                assert inside_or_on(ring, p), (p, ring)
            # strictness: no three consecutive ring vertices are
            # collinear (edge-interior points must have been dropped)
            for i in range(len(ring)):
                a, b, c = ring[i - 1], ring[i], ring[(i + 1) % len(ring)]
                assert cross(a, b, c) != 0, (pts, ring)
        elif len(ring) == 2:
            a, b = ring
            assert all(cross(a, b, p) == 0 for p in distinct) or len(distinct) == 2
        else:
            assert len(distinct) == 1 and ring == distinct


def test_hull_metrics_known_square(spark, sf_dir):
    """g20 composition on a known unit square: shoelace area 1 deg²,
    perimeter = the four haversine edge lengths."""
    from batch_geocode_spark import entry_queries as EQ
    from batch_geocode_spark.functions.geo import np_haversine_km

    # monkeypatch the g19 stage with a fixed ring: unit square at the
    # equator, CCW from (0, 0)
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]  # (lng, lat)
    hulls = spark.createDataFrame(
        [("c1", i, lat, lng, 4) for i, (lng, lat) in enumerate(ring)],
        "cluster string, hull_idx int, lat double, lng double, n_vertices int",
    )
    orig = EQ.g19_cluster_hulls
    EQ.g19_cluster_hulls = lambda s, d: hulls
    try:
        got = EQ.g20_hull_metrics(spark, sf_dir).toPandas()
    finally:
        EQ.g19_cluster_hulls = orig
    assert len(got) == 1
    row = got.iloc[0]
    assert row["n_vertices"] == 4
    assert abs(row["hull_area_deg2"] - 1.0) < 1e-9
    expect = sum(
        float(np_haversine_km(a[1], a[0], b[1], b[0]))
        for a, b in zip(ring, ring[1:] + ring[:1])
    )
    assert abs(row["perimeter_km"] - round(expect, 6)) < 1e-5
