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
2. **Candidate pairs come from the cell-ring equi-join** (same pattern
   as ``knn.knn_spatial``): each site meets only sites in its cell + 8
   neighbors at ``res`` — never a cross join. Exact whenever ``eps_km``
   does not exceed one cell extent (choose ``res`` accordingly; the
   lat extent of a cell is ~10,007/2**res km).
3. **Clusters come from the alternating-star connected components**
   (``dedup.connected_components``) — O(log n) rounds regardless of
   cluster diameter, the same depth-robust kernel the dedup family
   uses.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import cell_encode, cell_ring_cells
from batch_geocode_spark.functions.geo import haversine_km


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


def eps_site_pairs(sites: DataFrame, eps_km: float, res: int) -> DataFrame:
    """Directed candidate pairs (a_id, b_id, a/b coords+weights,
    dist_km) for sites within ``eps_km``, via the cell-ring equi-join.
    Includes the self pair (a_id == b_id, dist 0) so that aggregating
    b-weights per a_id yields the DBSCAN eps-ball point count directly.
    """
    if res < 2:
        raise ValueError("res must be >= 2 (ring cells collide below that)")

    # encode + ring are pure Column exprs (r7: replaced two pandas_udfs
    # — same integer math, no JVM->Python round trip, no ArrowEvalPython
    # stage in the plan)
    b = sites.select(
        F.col("site_id").alias("b_id"),
        F.col("lat").alias("b_lat"),
        F.col("lng").alias("b_lng"),
        F.col("w").alias("b_w"),
        cell_encode(F.col("lat"), F.col("lng"), res).alias("cell"),
    )
    a = sites.select(
        F.col("site_id").alias("a_id"),
        F.col("lat").alias("a_lat"),
        F.col("lng").alias("a_lng"),
        F.col("w").alias("a_w"),
        F.explode(
            cell_ring_cells(cell_encode(F.col("lat"), F.col("lng"), res), res)
        ).alias("cell"),
    ).filter(F.col("cell") >= 0)
    return (
        a.join(b, "cell", "inner")
        .withColumn(
            "dist_km",
            haversine_km(
                F.col("a_lat"), F.col("a_lng"), F.col("b_lat"), F.col("b_lng")
            ),
        )
        .filter(F.col("dist_km") <= eps_km)
    )


def spatial_clusters(
    points: DataFrame,
    eps_km: float,
    min_pts: int,
    res: int,
    pt_id: str = "pt_id",
    lat: str = "lat",
    lng: str = "lng",
    eager: bool = True,
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
        eager=eager,
    )


def cluster_sites(
    sites: DataFrame, eps_km: float, min_pts: int, res: int,
    eager: bool = True,
) -> DataFrame:
    """DBSCAN over a prebuilt weighted-site table (site_id, lat, lng,
    w) — the tail of ``spatial_clusters``, exposed separately so
    incrementally-maintained site weights (``streaming.
    stream_site_weights`` deltas folded at read time) cluster through
    the identical code path as a batch run.

    The plan references ``sites`` and the candidate-pair table three
    times each (eps-ball mass, core-core edges, border attachment) —
    pure lineage would recompute the whole upstream (at worst a full
    corpus geocode) once per branch. Both tables are SMALL by this
    operator's own scale design (sites are gazetteer-scale, pairs are
    ring-bounded candidates), so ``eager=True`` (default)
    localCheckpoints them at call time: one upstream computation,
    branches read the materialized tables. Same contract note as
    ``dedup.minhash_lsh_pairs``: construction runs Spark jobs and
    checkpointed partitions are not fault-tolerant — long-lived
    cluster jobs that must survive executor loss pass ``eager=False``
    for a pure-lineage plan."""
    from batch_geocode_spark.operators.dedup import connected_components

    if eager:
        # lazy checkpoints: the checkpointed partitions are written
        # by the FIRST downstream action (the connected-components size
        # probe), and every later branch (ring-join a/b sides,
        # eps-mass, core edges, border attach, final attach) reads the
        # cached copies. Under adaptive execution each call still runs
        # jobs: it builds the adaptive plan's RDD, which executes any
        # shuffle and broadcast stages of the plan there and then. What
        # it saves over an eager checkpoint is the extra pass that
        # writes the partitions before the CC probe.
        sites = sites.localCheckpoint(eager=False)
    nbr = eps_site_pairs(sites, eps_km, res)
    if eager:
        nbr = nbr.localCheckpoint(eager=False)

    mass = nbr.groupBy("a_id").agg(F.sum("b_w").alias("eps_mass"))
    cores = mass.filter(F.col("eps_mass") >= min_pts).select(
        F.col("a_id").alias("site_id")
    )

    core_edges = (
        nbr.filter(F.col("a_id") != F.col("b_id"))
        .join(cores.select(F.col("site_id").alias("a_id")), "a_id", "left_semi")
        .join(cores.select(F.col("site_id").alias("b_id")), "b_id", "left_semi")
        .select("a_id", "b_id")
    )
    cc = connected_components(core_edges, id_a="a_id", id_b="b_id")
    linked = cc.select(F.col("node").alias("site_id"), "component")
    # singleton cores: no core neighbor, their own cluster
    singles = cores.join(linked, "site_id", "left_anti").select(
        "site_id", F.col("site_id").alias("component")
    )
    core_assign = linked.unionByName(singles).withColumn("is_core", F.lit(True))

    border_assign = (
        nbr.filter(F.col("a_id") != F.col("b_id"))
        .join(cores.select(F.col("site_id").alias("a_id")), "a_id", "left_anti")
        .join(
            core_assign.select(
                F.col("site_id").alias("b_id"), F.col("component").alias("b_comp")
            ),
            "b_id",
            "inner",
        )
        .groupBy(F.col("a_id").alias("site_id"))
        .agg(F.min("b_comp").alias("component"))
        .withColumn("is_core", F.lit(False))
    )

    assigned = core_assign.unionByName(border_assign)
    out = sites.join(assigned, "site_id", "inner").select(
        "site_id",
        "lat",
        "lng",
        "w",
        F.col("component").alias("cluster"),
        "is_core",
    )
    # cluster_summary references this table three times (distinct-lng
    # gap search x2, the rollup itself); a lazy checkpoint on the eager
    # path computes the assignment joins once at the first downstream
    # action (r7) — site-scale rows, trivially materializable
    return out.localCheckpoint(eager=False) if eager else out


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
