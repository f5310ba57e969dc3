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
2. **The site table clusters on the driver.** It is gazetteer-scale by
   construction (point 1), the same size class as the gazetteer that
   ``geocode.build_candidates`` already broadcasts, so one capped
   collect (``MAX_SITES``) brings it to the driver and one vectorized
   numpy kernel runs DBSCAN there. At this size a distributed plan
   (ring join, checkpoints, a connected-components loop) costs Spark
   jobs and JIT-compiled plan code, not compute; the driver path runs
   only the jobs of that one collect. A table over the cap raises an
   actionable error instead of running the driver out of memory.
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from batch_geocode_spark.functions.cells import np_cell_encode, np_cell_ring_batch
from batch_geocode_spark.functions.geo import np_haversine_km
from batch_geocode_spark.operators import collect_capped
from batch_geocode_spark.operators.dedup import _union_find_components

MAX_SITES = 1_000_000  # site rows cluster_sites collects to the driver
_PAIR_BUDGET = 4_000_000  # ring-candidate pairs materialized at once


def weighted_sites(
    points: DataFrame,
    pt_id: str = "pt_id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """(site_id, lat, lng, w): distinct coordinates with point counts.
    site_id = min point id at that coordinate (deterministic)."""
    return points.groupBy(F.col(lat).alias("lat"), F.col(lng).alias("lng")).agg(
        F.min(pt_id).alias("site_id"), F.count(F.lit(1)).alias("w")
    )


def spatial_clusters(
    points: DataFrame,
    eps_km: float,
    min_pts: int,
    res: int,
    pt_id: str = "pt_id",
    lat: str = "lat",
    lng: str = "lng",
) -> DataFrame:
    """DBSCAN cluster assignment: (site_id, lat, lng, w, cluster,
    is_core) — one row per non-noise SITE (distinct coordinate); every
    point at that coordinate belongs to ``cluster``.

    ``eps_km`` should not exceed one cell's lat extent at ``res``
    (~10,007/2**res km) or ring-bounded candidate generation starts
    missing far pairs (it degrades the same way ``knn.knn_spatial``
    does, and earlier near the poles where cells narrow)."""
    return cluster_sites(
        weighted_sites(points, pt_id=pt_id, lat=lat, lng=lng),
        eps_km=eps_km,
        min_pts=min_pts,
        res=res,
    )


def cluster_sites(sites: DataFrame, eps_km: float, min_pts: int, res: int) -> DataFrame:
    """DBSCAN over a prebuilt weighted-site table (site_id, lat, lng,
    w) — the tail of ``spatial_clusters``, exposed separately so
    incrementally-maintained site weights (``streaming.
    stream_site_weights`` deltas folded at read time) cluster through
    the identical code path as a batch run.

    The site table is collected once (at most ``MAX_SITES`` rows, else
    ``ValueError``) and clustered by :func:`_dbscan` on the driver; the
    result is a local relation, so downstream branches
    (``cluster_summary`` reads it three times) never recompute the
    upstream."""
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
    schema = StructType(
        sel.schema.fields
        + [
            StructField("cluster", sel.schema["site_id"].dataType),
            StructField("is_core", BooleanType()),
        ]
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

    Scale shape: Andrew's monotone chain runs per cluster inside
    ``applyInPandas`` — per-group state is the cluster's SITES
    (gazetteer-scale, thousands at most, never the point corpus), so
    the kernel is O(n log n) per group and the only shuffle is the
    groupBy(cluster) of site-width rows."""
    import pandas as pd

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = pdf["cluster"].iloc[0]
        ring = hull_ring(list(zip(pdf["lng"].tolist(), pdf["lat"].tolist())))
        return pd.DataFrame(
            {
                "cluster": cluster,
                "hull_idx": range(len(ring)),
                "lat": [p[1] for p in ring],
                "lng": [p[0] for p in ring],
                "n_vertices": len(ring),
            }
        )

    ctype = assigned.schema["cluster"].dataType.simpleString()
    return assigned.groupBy("cluster").applyInPandas(
        hull,
        schema=f"cluster {ctype}, hull_idx int, lat double, lng double, n_vertices int",
    )


def cluster_summary(assigned: DataFrame) -> DataFrame:
    """Per-cluster rollup: site/point counts and the point-weighted
    centroid. Centroid sums accumulate coordinates as exact decimals
    (coordinate rounded to 8 dp, ~1 mm) so the result is independent of
    summation order — the invariant every cross-engine oracle in this
    repo relies on.

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
    plain mean gives.

    The gap search runs per cluster over DISTINCT longitudes — sites
    are gazetteer-scale, so the window is tiny; the only full-site
    shuffles are keyed by ``cluster``, same as the rollup itself.
    """
    # One collect_set aggregate replaces the previous three-branch shape
    # (distinct → lag-window for internal gaps ∪ min/max agg for the
    # wrap gap → row_number pick): per cluster the DISTINCT sorted
    # longitudes are array-scale (sites are gazetteer-scale by this
    # operator's design), so the gap search runs as array expressions —
    # r7, removes ~3 exchanges + 2 windows from the summary plan.
    # Selection semantics identical: candidates = consecutive internal
    # gaps (origin = the eastern edge) plus the wrap gap (origin = min
    # lng), winner by (gap DESC, origin ASC) via array_max over
    # (gap, -origin, origin) structs; decimal(14,8) arithmetic as
    # before, so the exact-compare invariant is unchanged.
    arr = assigned.groupBy("cluster").agg(
        F.sort_array(F.collect_set("lng")).alias("ls")
    )
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

    def dec_wsum(col: F.Column) -> F.Column:
        return F.sum(col * F.col("w").cast("decimal(20,0)")).cast("double")

    lng_dec = F.col("lng").cast("decimal(14,8)")
    origin_dec = F.col("origin").cast("decimal(14,8)")
    rotated = F.when(lng_dec >= origin_dec, lng_dec - origin_dec).otherwise(
        lng_dec - origin_dec + F.lit(360)
    )
    raw_lng = (
        dec_wsum(rotated) / F.sum("w") + F.first("origin")
    )
    norm_lng = F.when(raw_lng > 180, raw_lng - 360).otherwise(raw_lng)
    return (
        assigned.join(F.broadcast(origins), "cluster")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            F.sum(F.when(F.col("is_core"), 1).otherwise(0)).alias(
                "n_core_sites"
            ),
            F.sum("w").alias("n_points"),
            F.round(
                dec_wsum(F.col("lat").cast("decimal(14,8)")) / F.sum("w"), 6
            ).alias("centroid_lat"),
            F.round(norm_lng, 6).alias("centroid_lng"),
        )
    )
