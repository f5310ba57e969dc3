"""Spatial density clustering (DBSCAN) over geocoded points — the
PostGIS ``ST_ClusterDBSCAN`` analog, built Spark-first.

No counterpart in the reference repo (it geocodes row-by-row and never
groups results spatially; reference: geocode/query_funcs.py geocodes,
vet() only composites per-row). This operator answers the follow-on
question its users ask next: "where are the geocoded images
concentrated, and which concentrations are one region?"

Scale design (the part that matters at 100 TB):

1. **Points collapse to weighted sites first** (groupBy exact
   coordinates): a planet-scale corpus has billions of images but only
   as many DISTINCT geocoded coordinates as the gazetteer has entries.
   Co-located points have identical eps-neighborhoods, so DBSCAN on
   (site, weight) is EXACTLY DBSCAN on the raw points — while shrinking
   the pair graph from points² to sites². The map-side-combined groupBy
   is the only full-data pass; everything after runs on the small site
   table.
2. **The site table clusters, summarises and outlines on the driver.**
   It is gazetteer-scale by construction (point 1), the same size class
   as the gazetteer that ``geocode.build_candidates`` already
   broadcasts, so one capped collect (``MAX_SITES``) brings it to the
   driver and one vectorized numpy kernel runs DBSCAN there; the
   summary and hulls read the local assignment back, without a job up
   to ``operators.LOCAL_ROWS`` sites. A distributed plan here costs
   Spark jobs and JIT-compiled plan code, not compute. A table over
   the cap raises an actionable error, not a driver out of memory.
3. **Candidate pairs come from the cell ring** (same pattern as
   ``knn.knn_spatial``): each site meets only sites in its cell + 8
   neighbors at ``res``, found by ``np.searchsorted`` over the
   cell-sorted sites — never all pairs. Exact whenever ``eps_km`` does
   not exceed one cell extent (choose ``res`` accordingly; the lat
   extent of a cell is ~10,007/2**res km). Core-core components come
   from the driver-local union-find ``dedup.connected_components``
   uses for small graphs.

Semantics (weighted DBSCAN, deterministic):
- a site's neighbor mass = sum of weights of all sites within
  ``eps_km`` (including itself) — i.e. the COUNT OF POINTS in the eps
  ball, matching classic point-DBSCAN's |N_eps(p)|.
- core site: neighbor mass >= ``min_pts``.
- clusters: connected components of the core-core eps graph; the
  cluster label is the minimum ``site_id`` (= min point id at that
  coordinate) among the cluster's core sites, so labels are stable and
  engine-independent.
- border site: non-core within eps of >= 1 core site; assigned the
  MINIMUM label among its reachable cores (classic DBSCAN leaves this
  assignment order-dependent; min is the deterministic refinement).
- noise sites (neither) are dropped.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructType

from batch_geocode_spark.functions.cells import np_cell_encode, np_cell_ring_batch
from batch_geocode_spark.functions.geo import np_haversine_km
from batch_geocode_spark.operators import collect_capped
from batch_geocode_spark.operators.dedup import _union_find_components

MAX_SITES = 1_000_000  # site rows cluster_sites collects to the driver
_PAIR_BUDGET = 4_000_000  # ring-candidate pairs materialized at once


def weighted_sites(points: DataFrame) -> DataFrame:
    """(site_id, lat, lng, w): distinct coordinates of (pt_id, lat, lng)
    points with point counts. site_id = min point id at that coordinate
    (deterministic)."""
    return points.groupBy("lat", "lng").agg(
        F.min("pt_id").alias("site_id"), F.count(F.lit(1)).alias("w")
    )


def spatial_clusters(
    points: DataFrame,
    eps_km: float,
    min_pts: int,
    res: int,
) -> DataFrame:
    """DBSCAN cluster assignment: (site_id, lat, lng, w, cluster,
    is_core) — one row per non-noise SITE (distinct coordinate); every
    point at that coordinate belongs to ``cluster``.

    ``eps_km`` should not exceed one cell's lat extent at ``res``
    (~10,007/2**res km) or ring-bounded candidate generation starts
    missing far pairs (it degrades the same way ``knn.knn_spatial``
    does, and earlier near the poles where cells narrow)."""
    return cluster_sites(weighted_sites(points), eps_km=eps_km, min_pts=min_pts, res=res)


def cluster_sites(sites: DataFrame, eps_km: float, min_pts: int, res: int) -> DataFrame:
    """DBSCAN over a prebuilt weighted-site table (site_id, lat, lng,
    w) — the tail of ``spatial_clusters``, exposed separately so
    incrementally-maintained site weights (``streaming.
    stream_site_weights`` deltas folded at read time) cluster through
    the identical code path as a batch run.

    The site table is collected once (at most ``MAX_SITES`` rows, else
    ``ValueError``) and clustered by :func:`_dbscan` on the driver; the
    result is a local relation, so ``cluster_summary`` and
    ``cluster_hulls`` collect it without recomputing the upstream."""
    if res < 2:
        raise ValueError("res must be >= 2 (ring cells collide below that)")
    sel = sites.select("site_id", "lat", "lng", "w")
    pdf = collect_capped(
        sel,
        MAX_SITES,
        "cluster_sites' site table",
        "round the coordinates before clustering so that nearby points "
        "share a site",
    )
    schema = (
        StructType(list(sel.schema.fields))  # a copy: add() appends in place
        .add("cluster", sel.schema["site_id"].dataType)
        .add("is_core", BooleanType())
    )
    return sites.sparkSession.createDataFrame(
        _dbscan(pdf, eps_km, min_pts, res), schema
    )


def _eps_pairs(lat: np.ndarray, lng: np.ndarray, eps_km: float, res: int):
    """Directed (a, b) index pairs of sites within ``eps_km`` among the
    ring-bounded candidates: b lies in a's cell or one of its 8
    neighbors at ``res``. Self pairs are included, so summing b's
    weights per a gives the eps-ball point count. Candidates are
    expanded for a block of a-sites at a time, about ``_PAIR_BUDGET``
    pairs per block, so a hot cell cannot blow driver memory beyond the
    pairs that survive the distance test."""
    cell = np_cell_encode(lat, lng, res)
    order = np.argsort(cell, kind="stable")
    sorted_cell = cell[order]
    ring = np_cell_ring_batch(cell, res)  # -1 entries match no cell
    lo = np.searchsorted(sorted_cell, ring, "left")
    cnt = np.searchsorted(sorted_cell, ring, "right") - lo
    ends = np.cumsum(cnt.sum(axis=1))
    out_a, out_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    s = 0
    while s < len(cell):
        done = ends[s - 1] if s else 0
        e = max(int(np.searchsorted(ends, done + _PAIR_BUDGET, "right")), s + 1)
        c = cnt[s:e].ravel()
        a = np.repeat(np.arange(s, e), cnt[s:e].sum(axis=1))
        # position of each candidate inside its (site, ring cell) run
        within = np.arange(len(a)) - np.repeat(np.cumsum(c) - c, c)
        b = order[np.repeat(lo[s:e].ravel(), c) + within]
        keep = np_haversine_km(lat[a], lng[a], lat[b], lng[b]) <= eps_km
        out_a.append(a[keep])
        out_b.append(b[keep])
        s = e
    return np.concatenate(out_a), np.concatenate(out_b)


def _dbscan(pdf: pd.DataFrame, eps_km: float, min_pts: int, res: int) -> pd.DataFrame:
    """Weighted DBSCAN (module docstring semantics) over a driver-side
    site table (site_id, lat, lng, w) with unique site ids; returns the
    non-noise sites with their ``cluster`` and ``is_core``, ordered by
    site_id. Sites are sorted by site_id first, so a site's row index
    is its id rank and "minimum id" is "minimum index" throughout."""
    pdf = (
        pdf.dropna(subset=["lat", "lng"])
        .sort_values("site_id", kind="stable")
        .reset_index(drop=True)
    )
    n = len(pdf)
    a, b = _eps_pairs(
        pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64), eps_km, res
    )
    mass = np.bincount(a, weights=pdf["w"].to_numpy(np.float64)[b], minlength=n)
    core = mass >= min_pts
    # label = row index of the cluster's min core site; -1 = noise.
    # Singleton cores label themselves; linked cores take their
    # component's minimum.
    label = np.where(core, np.arange(n), -1)
    linked = core[a] & core[b] & (a > b)
    if linked.any():
        cc = _union_find_components(pd.DataFrame({"a": a[linked], "b": b[linked]}))
        label[cc["node"].to_numpy()] = cc["component"].to_numpy()
    # border sites: the minimum label among the cores they reach
    attach = ~core[a] & core[b]
    border = np.full(n, n)
    np.minimum.at(border, a[attach], label[b[attach]])
    label = np.where(border < n, border, label)
    keep = label >= 0
    out = pdf[keep].copy()
    out["cluster"] = pdf["site_id"].to_numpy()[label[keep]]
    out["is_core"] = core[keep]
    return out


def hull_ring(points: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Convex hull of (x, y) points via Andrew's monotone chain,
    returned in ring order: the lexicographically smallest vertex
    first, lower chain west→east, the east end, upper chain east→west
    (counter-clockwise). Strict vertices only — collinear edge-interior
    points are dropped. ≤2 distinct points return them sorted."""
    pts = sorted(set(points))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    if len(pts) <= 2:
        return pts
    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def cluster_hulls(assigned: DataFrame) -> DataFrame:
    """(cluster, hull_idx, lat, lng, n_vertices): convex-hull outline of
    each cluster's sites — the per-cluster geometry to draw next to
    ``cluster_summary``'s centroid.

    Ring order (deterministic, engine-independent, no transcendentals):
    hull_idx 0 is the lexicographically smallest vertex by (lng, lat);
    the ring then walks the LOWER chain west→east, the east end, and
    the UPPER chain east→west — i.e. counter-clockwise. Strict hull
    vertices only (collinear edge-interior points are dropped; exact
    ties are measure-zero on float coordinates).

    Eager, like ``cluster_sites``: the assignment is collected once
    (:func:`_collect_sites`) and :func:`hull_ring` runs per cluster on
    the driver, O(n log n) in the cluster's sites; the rings come back
    as a local relation."""
    pdf = _collect_sites(assigned)
    lat, lng = pdf["lat"].tolist(), pdf["lng"].tolist()
    rows = []
    for cluster, idx in pdf.groupby("cluster").indices.items():
        ring = hull_ring([(lng[i], lat[i]) for i in idx.tolist()])
        rows += [(cluster, i, y, x, len(ring)) for i, (x, y) in enumerate(ring)]
    out = pd.DataFrame(rows, columns=["cluster", "hull_idx", "lat", "lng", "n_vertices"])
    out = out.astype({"hull_idx": "int32", "lat": float, "lng": float, "n_vertices": "int32"})
    ctype = assigned.schema["cluster"].dataType.simpleString()
    return assigned.sparkSession.createDataFrame(
        out, f"cluster {ctype}, hull_idx int, lat double, lng double, n_vertices int"
    )


def cluster_summary(assigned: DataFrame) -> DataFrame:
    """Per-cluster rollup (cluster, n_sites, n_core_sites, n_points,
    centroid_lat, centroid_lng): site/point counts and the
    point-weighted centroid. Centroid sums accumulate coordinates as
    exact decimals (coordinate rounded to 8 dp, ~1 mm) so the result is
    independent of summation order — the invariant every cross-engine
    oracle in this repo relies on.

    ``centroid_lng`` is antimeridian-aware via largest-gap rotation
    (the exact method for circular data, no transcendentals — so the
    decimal order-independence invariant survives): per cluster, find
    the largest circular gap between distinct site longitudes and
    rotate that gap's eastern edge to the origin; the weighted mean of
    the rotated longitudes plus the origin, normalized to (-180, 180],
    is the centroid. For any cluster whose largest gap is the
    wrap-around gap (every cluster that does not span ±180) this is
    ALGEBRAICALLY the plain weighted mean; a wrap-spanning pair like
    {+179.9, -179.9} lands at ±180 instead of the misleading ~0 a
    plain mean gives. The gap search is :func:`_largest_gap_origins`
    over the longitudes in 1e-8 units.

    Eager, like ``cluster_sites``: the assignment is collected once
    (:func:`_collect_sites`) and summarised on the driver in Spark SQL's
    arithmetic, bit for bit: coordinates cast to ``decimal(14,8)`` and
    centroids ``round(…, 6)``-ed as Spark does (:func:`_half_up`),
    weighted sums as Python ints of 1e-8 units (exact at any point
    count), then the sum as a double divided by the point count. The
    rows come back as a local relation."""
    spark = assigned.sparkSession
    schema = (
        f"cluster {assigned.schema['cluster'].dataType.simpleString()}, n_sites long not null, "
        "n_core_sites long, n_points long, centroid_lat double, centroid_lng double"
    )
    pdf = _collect_sites(assigned)
    if pdf.empty:
        return spark.createDataFrame([], schema)
    keys, code = np.unique(pdf["cluster"].to_numpy(), return_inverse=True)
    lng = pdf["lng"].to_numpy(np.float64)
    # sites sorted by (cluster, lng): each cluster a run, its
    # longitudes ascending
    order = np.lexsort((lng, code))
    code, lng = code[order], lng[order]
    lat = pdf["lat"].to_numpy(np.float64)[order]
    w = pdf["w"].to_numpy(np.int64)[order]
    core = pdf["is_core"].to_numpy(bool)[order]
    lat8, lng8 = _half_up(spark, lat, 8), _half_up(spark, lng, 8)
    starts = np.flatnonzero(np.r_[True, code[1:] != code[:-1]])

    win = _largest_gap_origins(code, lng8, 360 * 10**8)
    origin8 = lng8[win][code]
    rot8 = lng8 - origin8 + np.where(lng8 < origin8, 360 * 10**8, 0)

    n_points = np.add.reduceat(w, starts)
    wo = w.astype(object)
    lat_sum = np.add.reduceat(lat8.astype(object) * wo, starts)
    rot_sum = np.add.reduceat(rot8.astype(object) * wo, starts)

    def mean(sums8):
        # decimal → double is correctly rounded, as int / int is in Python
        return np.array([s / 10**8 for s in sums8]) / n_points

    raw_lng = mean(rot_sum) + lng[win]
    raw_lng = np.where(raw_lng > 180, raw_lng - 360, raw_lng)
    out = pd.DataFrame(
        {
            "cluster": keys,
            "n_sites": np.diff(np.r_[starts, len(code)]),
            "n_core_sites": np.add.reduceat(core.astype(np.int64), starts),
            "n_points": n_points,
            "centroid_lat": _half_up(spark, mean(lat_sum), 6) / 1e6,
            "centroid_lng": _half_up(spark, raw_lng, 6) / 1e6,
        }
    )
    return spark.createDataFrame(out, schema)


def _collect_sites(assigned: DataFrame) -> pd.DataFrame:
    """The cluster assignment (``cluster_sites``' output) on the driver:
    the one capped collect ``cluster_summary`` and ``cluster_hulls``
    run. It is no larger than the site table ``cluster_sites``
    collected, so the cap only trips on a foreign frame."""
    return collect_capped(
        assigned.select("cluster", "lat", "lng", "w", "is_core"),
        MAX_SITES,
        "the cluster assignment",
        "round the coordinates before clustering so that nearby points "
        "share a site",
    )


def _largest_gap_origins(group: np.ndarray, v: np.ndarray, period: int) -> np.ndarray:
    """Per group (codes 0..k-1; arrays sorted by (group, v)), the index
    of its rotation origin on a circle of ``period`` integer units: the
    element just east of the largest gap. The candidates are each
    element's gap up from the one before it (zero for a repeat) and,
    for the group's first, the wrap gap from its last; the larger gap
    wins and ties go to the smaller origin."""
    starts = np.flatnonzero(np.r_[True, group[1:] != group[:-1]])
    ends = np.r_[starts[1:], len(v)] - 1
    gap = np.r_[0, np.diff(v)]
    gap[starts] = v[starts] - v[ends] + period
    # each group's last element in (group, gap, -v) order is its winner
    return np.lexsort((-v, gap, group))[ends]


def _half_up(spark, x: np.ndarray, places: int) -> np.ndarray:
    """Each double rounded the way Spark SQL rounds it to ``places``
    decimals (the ``decimal(p, places)`` cast, ``round(x, places)``),
    as an int64 count of 10**-places units: HALF_UP of
    ``java.lang.Double.toString(x)``. The strings come from the
    session's JVM, because Spark rounds the JVM's string and JDK 17's
    is not always the shortest round-trip string Python's ``repr``
    gives. Each distinct value is formatted and parsed once."""
    uniq, inv = np.unique(x, return_inverse=True)
    jvm = spark._jvm
    arr = spark.sparkContext._gateway.new_array(jvm.double, len(uniq))
    jvm.java.nio.ByteBuffer.wrap(bytearray(uniq.astype(">f8").tobytes())).asDoubleBuffer().get(arr)
    strings = jvm.java.util.Arrays.toString(arr)[1:-1].split(", ")
    unit = Decimal(1).scaleb(-places)
    units = [int(Decimal(s).quantize(unit, ROUND_HALF_UP).scaleb(places)) for s in strings]
    return np.array(units, np.int64)[inv]
