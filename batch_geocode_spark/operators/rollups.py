"""Summary statistics (SURVEY.md A6) as plain Spark SQL aggregates.

Reference analog: README.md:2 promises "useful summary statistics";
realized in the vet UI as per-source result presence
(reference: app/templates/vet.html:98-122, 241-262).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_rate_by_source(images: DataFrame, vetted: DataFrame) -> DataFrame:
    """Per source: images with ≥1 surviving candidate / total images.

    The denominator is a 1-row aggregate broadcast-cross-joined into the
    per-source counts — ONE job, not a separate ``.count()`` action
    (which at 100 TB is a full extra scan per invocation)."""
    total = images.agg(F.count(F.lit(1)).alias("n_images"))
    return (
        vetted.groupBy("source")
        .agg(F.countDistinct("image_id").alias("n_matched"))
        .crossJoin(F.broadcast(total))
        .withColumn("match_rate", F.round(F.col("n_matched") / F.col("n_images"), 6))
        .orderBy("source")
    )


def admin_rollup(pip_matches: DataFrame) -> DataFrame:
    """Count of best matches per admin polygon (groupBy rollup over
    (iso2, admin_level, name))."""
    return (
        pip_matches.groupBy("iso2", "admin_level", "name")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("iso2", "admin_level", "name")
    )


def density_rollup(density: DataFrame, res: int, parent_res: int) -> DataFrame:
    """Hierarchical tile rollup: re-aggregate cell counts at a coarser
    resolution (cheap: parent id is arithmetic on the cell id)."""
    from batch_geocode_spark.functions.cells import cell_parent

    return (
        density.withColumn("parent", cell_parent(F.col("cell"), res, parent_res))
        .groupBy("parent")
        .agg(F.sum("n_images").alias("n_images"))
    )


def tile_pyramid(density: DataFrame, levels: tuple[int, ...] = (9, 6, 3)) -> DataFrame:
    """Multi-resolution tile pyramid: the base per-cell density at
    ``levels[0]`` plus CHAINED rollups at each coarser level, unioned
    into one (res, cell, n_images) table — the map-tile serving layout
    (every zoom level pre-aggregated, mass conserved level-to-level).

    Scale shape: the expensive aggregation (points → base cells)
    happens once; each coarser level re-aggregates the PREVIOUS level's
    output (|cells| rows, shrinking 4× per step in the quadtree), never
    the points. The union legs share the base exchange (ReuseExchange);
    per-level frames stay distinct-schema-free (same 3 columns) so the
    result is one partition-friendly long table keyed by (res, cell).
    """
    if not levels or not all(a > b for a, b in zip(levels, levels[1:])):
        # sorted(...) would accept (9, 9, 3): a duplicate level adds an
        # identity rollup leg that double-counts that resolution's mass
        raise ValueError(f"levels must be strictly decreasing, got {levels}")
    base_res = levels[0]
    cur = density.select("cell", "n_images")
    legs = [cur.withColumn("res", F.lit(base_res))]
    prev_res = base_res
    for r in levels[1:]:
        cur = density_rollup(cur, prev_res, r).withColumnsRenamed({"parent": "cell"})
        legs.append(cur.withColumn("res", F.lit(r)))
        prev_res = r
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.select("res", "cell", "n_images")


def zonal_cells(
    density: DataFrame,
    polygons: DataFrame,
    res: int,
    pip_res: int = 4,
) -> DataFrame:
    """Per-cell zone labels: each density cell whose CENTER falls in an
    admin polygon → (cell:string, admin_id, iso2, name, n_images). The
    join stage of :func:`zonal_stats`, exposed separately because
    cell-level rows are the right DELTA granularity for incremental
    maintenance (``streaming.stream_zonal_deltas``): n_images deltas
    sum across batches and n_cells stays exact via countDistinct(cell)
    at read, neither of which a pre-aggregated per-zone row allows.

    Cell centers come from pure id arithmetic (no decode table);
    membership reuses the cell-cover-prefilter PIP join, so the
    polygon side broadcasts and the density never shuffles before the
    caller's keyed aggregation. pip_join's Arrow schema types pt_id as
    string (its natural id is image_id); the cell id rides through as
    a string.

    Cell ids self-describe their resolution (``cell >> 58``); a
    density table built at a different resolution than the caller's
    ``res`` would silently decode wrong centers and zone labels, so
    every row carries a codegen-cheap ``assert_true`` guard that fails
    the job on the first mismatched id instead."""
    from batch_geocode_spark.functions.cells import _RES_SHIFT, _Y_SHIFT
    from batch_geocode_spark.operators.pip import pip_join

    n = 2**res
    res_guard = F.coalesce(
        F.assert_true(
            F.shiftright(F.col("cell").cast("long"), 58) == res,
            F.format_string(
                "zonal_cells: cell id resolution %d != caller res "
                + str(res),
                F.shiftright(F.col("cell").cast("long"), 58),
            ),
        ).cast("double"),
        F.lit(0.0),
    )
    x = (F.col("cell") % F.lit(_Y_SHIFT)).cast("double")
    y = F.floor((F.col("cell") % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("double")
    centers = density.select(
        F.col("cell").cast("string").alias("cell"),
        "n_images",
        ((y + 0.5) / n * 180.0 - 90.0 + res_guard).alias("lat"),
        ((x + 0.5) / n * 360.0 - 180.0).alias("lng"),
    )
    m = pip_join(
        centers, polygons, res=pip_res, id_col="cell", lat_col="lat", lng_col="lng"
    )
    return m.select(F.col("pt_id").alias("cell"), "admin_id", "iso2", "name").join(
        centers.select("cell", "n_images"), "cell"
    )


def zonal_stats(
    density: DataFrame,
    polygons: DataFrame,
    res: int,
    pip_res: int = 4,
) -> DataFrame:
    """Raster zonal statistics: aggregate a per-cell density raster
    inside each admin polygon — (admin_id, iso2, name, n_cells,
    n_images). The raster-side sibling of ``admin_rollup`` (which
    rolls up POINTS): here the PIP test runs over CELL CENTERS, so the
    cost scales with |cells| (≤ 4^res), not with the point corpus —
    the standard trick for repeated per-region reporting once a
    density layer exists."""
    return (
        zonal_cells(density, polygons, res, pip_res=pip_res)
        .groupBy("admin_id", "iso2", "name")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_images").alias("n_images"),
        )
    )
