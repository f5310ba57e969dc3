"""Point-in-polygon join (north_rule J5).

Reference analog: per-point country attribution (reference:
geocode/query_funcs.py:411-427 OSM country filter) and admin-level
result types (geocode/query_funcs.py:464). shapely/STRtree are
unavailable, so the exact test is vectorized numpy even-odd ray
casting; the STRtree role is played by a geocell-cover prefilter:

    polygons --driver numpy--> (cell, admin_id) cover at res R
    points   --cell_encode--> cell at res R
    points ⋈_broadcast cover on cell        -- candidate pairs + admin attrs
    mapInPandas numpy ray-cast              -- exact test per batch

At 10^12 points the big side never shuffles: the one join broadcasts
the (small) admin side; the exact test is Arrow-batched numpy against
ring arrays shipped as a broadcast variable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_geocode_spark.functions.cells import cell_encode, np_polyfill_bbox
from batch_geocode_spark.operators import collect_capped

MAX_POLYGONS = 200_000  # polygon rows pip_join collects to the driver
_EDGE_POINT_BUDGET = 4_000_000  # max edges×points elements materialized at once


def _points_in_edge_arrays(
    px: np.ndarray, py: np.ndarray, rings: list[tuple[np.ndarray, np.ndarray]]
) -> np.ndarray:
    """Even-odd ray casting, vectorized over edges × points.

    The edges×points intermediate is bounded by chunking the POINT axis
    to ``_EDGE_POINT_BUDGET`` elements, so a real coastline (10⁴-10⁶
    vertices) cannot blow a task's memory: peak stays ~budget×3 float64
    regardless of ring size."""
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        n_edges = max(len(xs) - 1, 1)
        chunk = max(_EDGE_POINT_BUDGET // n_edges, 1)
        x1, y1 = xs[:-1, None], ys[:-1, None]
        x2, y2 = xs[1:, None], ys[1:, None]
        for s in range(0, len(px), chunk):
            cpx = px[None, s : s + chunk]
            cpy = py[None, s : s + chunk]
            cond = (y1 > cpy) != (y2 > cpy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (cpy - y1) / (y2 - y1) + x1
            crossings = (cond & (cpx < xint)).sum(axis=0)
            inside[s : s + chunk] ^= (crossings % 2).astype(bool)
    return inside


def _points_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd test on rings in struct form [[{'x':..,'y':..}, ...], ...]."""
    arrays = [
        (
            np.asarray([p["x"] for p in ring], dtype=np.float64),
            np.asarray([p["y"] for p in ring], dtype=np.float64),
        )
        for ring in rings
    ]
    return _points_in_edge_arrays(px, py, arrays)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    id_col: str = "image_id",
    lat_col: str = "best_lat",
    lng_col: str = "best_long",
) -> DataFrame:
    """Exact PIP join → (point id, admin_id, admin attrs).

    The polygon side is small by assumption (it must broadcast either
    way; more than ``MAX_POLYGONS`` rows raise ``ValueError``), so its
    geometry ships to executors inside the UDF closure as
    plain numpy arrays — the candidate rows carry only (point, admin_id)
    and never duplicate ring structs through Arrow.
    """
    spark = points.sparkSession
    # ONE driver collect feeds the cover, its attributes AND the rings;
    # the polygon side is driver-sized by contract, so all are local.
    polys = collect_capped(
        polygons.select(
            "admin_id", "iso2", "admin_level", "name", "bb_w", "bb_s", "bb_e", "bb_n", "rings"
        ),
        MAX_POLYGONS,
        "pip_join's polygon table",
        "filter the polygons to the admin levels and region the points need",
    )
    poly_rows = polys.to_dict("records")
    ids, cells_out = [], []
    for row in poly_rows:
        cc = np_polyfill_bbox(row["bb_w"], row["bb_s"], row["bb_e"], row["bb_n"], res)
        ids.append(np.full(len(cc), row["admin_id"], dtype=np.int64))
        cells_out.append(cc)
    # the cover carries the admin attributes: one broadcast table
    cover = spark.createDataFrame(
        pd.DataFrame(
            {
                "admin_id": np.concatenate(ids) if ids else np.asarray([], dtype=np.int64),
                "cell": np.concatenate(cells_out) if ids else np.asarray([], dtype=np.int64),
            }
        ).merge(polys[["admin_id", "iso2", "admin_level", "name"]], on="admin_id"),
        schema="admin_id long, cell long, iso2 string, admin_level int, name string",
    )
    pts = points.select(
        F.col(id_col).alias("pt_id"),
        F.col(lat_col).alias("pt_lat"),
        F.col(lng_col).alias("pt_lng"),
        cell_encode(F.col(lat_col), F.col(lng_col), res).alias("cell"),
    )
    cand = pts.join(F.broadcast(cover), "cell", "inner")

    # geometry → numpy edge arrays once, on the driver; shipped as an
    # executor broadcast variable (sent once per executor), not UDF
    # closure capture (once per task)
    rings_by_admin: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}
    for row in poly_rows:
        rings_by_admin[int(row["admin_id"])] = [
            (
                np.asarray([p["x"] for p in ring], dtype=np.float64),
                np.asarray([p["y"] for p in ring], dtype=np.float64),
            )
            for ring in row["rings"]
        ]
    bc_rings = spark.sparkContext.broadcast(rings_by_admin)

    out_schema = (
        "pt_id string, pt_lat double, pt_lng double, admin_id long, "
        "iso2 string, admin_level int, name string"
    )

    def exact(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rings = bc_rings.value
        for pdf in it:
            if pdf.empty:
                continue
            pdf = pdf.reset_index(drop=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for admin_id, grp in pdf.groupby("admin_id", sort=False):
                mask = _points_in_edge_arrays(
                    grp["pt_lng"].to_numpy(np.float64),
                    grp["pt_lat"].to_numpy(np.float64),
                    rings[int(admin_id)],
                )
                keep[grp.index.to_numpy()] = mask
            res_pdf = pdf.loc[
                keep, ["pt_id", "pt_lat", "pt_lng", "admin_id", "iso2", "admin_level", "name"]
            ]
            if len(res_pdf):
                yield res_pdf

    return cand.mapInPandas(exact, schema=out_schema)
