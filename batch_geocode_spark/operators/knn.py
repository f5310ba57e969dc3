"""kNN candidate matching across gazetteer sources (north_rule J6).

Reference analog: vet() composites all sources' points per row and
accepts if mutually close (reference: geocode/query_funcs.py:193-219).
Two operators:

1. knn_within_image — per image, rank that image's multi-source
   candidates by haversine distance to the composite-best point and
   keep the k nearest. Pure window function over the candidates join
   output — no extra shuffle beyond the groupBy key already in place.

2. knn_spatial — approximate spatial kNN between two point sets via
   cell bucketing: points joined to neighbors through their cell at a
   chosen resolution plus the 8-neighbor ring, then window top-k. This
   is the scale path (equi-join on cell, never a cross join); exact
   within the ring radius.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import cell_encode, cell_ring_cells
from batch_geocode_spark.functions.geo import haversine_km
from batch_geocode_spark.operators.geocode import DEFAULT_MAX_BUFFER_KM


def knn_within_image(vetted: DataFrame, k: int = 3) -> DataFrame:
    """k nearest candidates (across sources) to each image's composite-best
    point, for images whose candidate bbox diagonal is within
    ``DEFAULT_MAX_BUFFER_KM``.

    Single-pass plan: the best point is computed with window aggregates
    over the same image_id partitioning the rank window needs, so the
    whole operator costs ONE shuffle — no join back to a recomputed
    composite_best DAG.
    """
    w_img = W.partitionBy("image_id")
    diag = haversine_km(
        F.min("min_lat").over(w_img),
        F.min("min_lng").over(w_img),
        F.max("max_lat").over(w_img),
        F.max("max_lng").over(w_img),
    )
    with_best = (
        vetted.withColumn(
            "best_lat", F.sum("sum_lat").over(w_img) / F.sum("n_pts").over(w_img)
        )
        .withColumn(
            "best_long", F.sum("sum_lng").over(w_img) / F.sum("n_pts").over(w_img)
        )
        .withColumn("best_diag", diag)
        .filter(F.col("best_diag") <= F.lit(DEFAULT_MAX_BUFFER_KM))
        .withColumn(
            "dist_km",
            haversine_km(
                F.col("cand_lat"), F.col("cand_lng"), F.col("best_lat"), F.col("best_long")
            ),
        )
    )
    w = W.partitionBy("image_id").orderBy("dist_km", "source", "rank")
    return (
        with_best.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "image_id", "source", "rank", "cand_lat", "cand_lng", "dist_km", "knn_rank"
        )
    )


def knn_spatial(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
) -> DataFrame:
    """Cell-bucketed kNN join of (image_id, best_lat, best_long) queries
    to (gaz_id, lat, lng) points: each query point meets only points in its
    cell + 8 neighbors at ``res`` (equi-join on cell → shuffle hash /
    broadcast per AQE), then per-query top-k by haversine distance.

    Exact for neighbors within one cell ring (~cell width); choose
    ``res`` so the expected kth-neighbor distance fits the ring.
    """
    if res < 2:
        raise ValueError("res must be >= 2 (ring cells collide below that)")
    pts = points.select(
        F.col("gaz_id").alias("nbr_id"),
        F.col("lat").alias("nbr_lat"),
        F.col("lng").alias("nbr_lng"),
        cell_encode(F.col("lat"), F.col("lng"), res).alias("cell"),
    )
    # encode + ring are pure Column exprs (r7: replaced two pandas_udfs
    # — same integer math, no JVM->Python round trip, no ArrowEvalPython
    # stage in the plan); invalid ring entries (lat clamp) are -1 and
    # filtered after the explode
    qry = queries.select(
        F.col("image_id").alias("query_id"),
        F.col("best_lat").alias("query_lat"),
        F.col("best_long").alias("query_lng"),
        F.explode(
            cell_ring_cells(cell_encode(F.col("best_lat"), F.col("best_long"), res), res)
        ).alias("cell"),
    ).filter(F.col("cell") >= 0)
    joined = qry.join(pts, "cell", "inner").withColumn(
        "dist_km",
        haversine_km(
            F.col("query_lat"), F.col("query_lng"), F.col("nbr_lat"), F.col("nbr_lng")
        ),
    )
    w = W.partitionBy("query_id").orderBy("dist_km", "nbr_id")
    return (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "nbr_id", "nbr_lat", "nbr_lng", "dist_km", "knn_rank")
    )
