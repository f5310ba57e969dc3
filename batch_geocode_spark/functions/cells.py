"""geocell — a vendored hierarchical spatial cell index (pure arithmetic).

h3/s2 packages are unavailable in this environment, so the engine vendors
a quadtree cell index built only from published math (equirectangular
grid, Bing-quadkey-style hierarchy): at resolution ``r`` the world
(lng ∈ [-180,180), lat ∈ [-90,90)) is a 2^r × 2^r grid.

    x = floor((lng + 180) / 360 * 2^r)   clamped to [0, 2^r - 1]
    y = floor((lat +  90) / 180 * 2^r)   clamped to [0, 2^r - 1]
    cell_id = r * 2^58 + y * 2^29 + x    (fits int64 for r ≤ 29)

Key properties:
- encode/decode are pure integer arithmetic → implemented as Spark
  Column expressions (whole-stage codegen, no UDF) AND as portable SQL
  so the DuckDB oracle reproduces identical ids.
- parent/child relations are bit shifts of (x, y) → hierarchical
  rollups are cheap and partition-friendly (cell prefix = parent cell).
- polyfill (cell cover of a bbox/polygon) is vectorized numpy, used
  driver-side or inside pandas UDFs for the PIP prefilter join.

This plays the role H3/S2 plays in the north_star: stable tile ids for
density maps and a spatial-locality partitioning key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 29
_RES_SHIFT = 2**58
_Y_SHIFT = 2**29


# ---------------------------------------------------------------- Column API
def cell_encode(lat: Column, lng: Column, res: int) -> Column:
    """lat/lng → int64 cell id at resolution ``res`` (pure Column expr)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = float(2**res)
    hi = int(2**res - 1)
    x = F.least(F.lit(hi), F.greatest(F.lit(0), F.floor((lng + 180.0) / 360.0 * n))).cast("long")
    y = F.least(F.lit(hi), F.greatest(F.lit(0), F.floor((lat + 90.0) / 180.0 * n))).cast("long")
    return (F.lit(res).cast("long") * F.lit(_RES_SHIFT) + y * F.lit(_Y_SHIFT) + x).alias(
        f"cell_r{res}"
    )


def cell_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Coarsen a cell id from ``res`` to ``parent_res`` (Column expr)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    shift = 2 ** (res - parent_res)
    x = cell % F.lit(_Y_SHIFT)
    y = F.floor((cell % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("long")
    xp = F.floor(x / F.lit(shift)).cast("long")
    yp = F.floor(y / F.lit(shift)).cast("long")
    return (F.lit(parent_res).cast("long") * F.lit(_RES_SHIFT) + yp * F.lit(_Y_SHIFT) + xp).alias(
        f"cell_r{parent_res}"
    )


def quadkey(cell: Column, res: int) -> Column:
    """Cell id → quadkey string (Bing-maps-style tile addressing): one
    base-4 digit per level, MSB first, digit = 2·bit(y) + bit(x). The
    defining property — a parent cell's quadkey is the child's PREFIX —
    makes hierarchical pruning a `startswith`, the interchange format
    map clients expect. Pure integer/concat Column exprs (no UDF), and
    :func:`quadkey_sql` emits the identical string cross-engine."""
    if not 1 <= res <= MAX_RES:
        raise ValueError(f"res must be in [1, {MAX_RES}]")
    x = (cell % F.lit(_Y_SHIFT)).cast("long")
    y = F.floor((cell % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("long")
    parts = [
        (
            (F.floor(y / F.lit(2**i)) % 2) * 2 + (F.floor(x / F.lit(2**i)) % 2)
        )
        .cast("int")
        .cast("string")
        for i in range(res - 1, -1, -1)
    ]
    return F.concat(*parts).alias(f"quadkey_r{res}")


def cell_ring_cells(cell: Column, res: int) -> Column:
    """9-cell neighborhood (8-ring + center) of a res-level cell id as a
    pure Column expression: array<long> of length 9 in the same
    (dy-major) order as :func:`np_cell_ring_batch`, lng wraps, lat
    clamps — out-of-range entries are -1 (filter them after explode).
    Replaces the pandas_udf ring encoder on the kNN/DBSCAN candidate
    paths (guide §4.1: built-ins over UDFs — no Python boundary, no
    ArrowEvalPython stage). ``res >= 2`` required: below that the lng
    wrap makes ring columns collide and the array is no longer a set
    (np_cell_ring_batch handles that case; every caller here already
    enforces res >= 2)."""
    if not 2 <= res <= MAX_RES:
        raise ValueError(f"res must be in [2, {MAX_RES}]")
    n = 2**res
    x = cell % F.lit(_Y_SHIFT)
    y = F.floor((cell % F.lit(_RES_SHIFT)) / F.lit(_Y_SHIFT)).cast("long")
    entries = []
    for dy in (-1, 0, 1):
        yy = y + F.lit(dy)
        for dx in (-1, 0, 1):
            xx = F.pmod(x + F.lit(dx), F.lit(n))
            entries.append(
                F.when(
                    (yy >= 0) & (yy < n),
                    F.lit(res).cast("long") * F.lit(_RES_SHIFT) + yy * F.lit(_Y_SHIFT) + xx,
                ).otherwise(F.lit(-1).cast("long"))
            )
    return F.array(*entries).alias(f"ring_r{res}")


def np_quadkey_decode(qk: str) -> tuple[int, int, int]:
    """Quadkey string → (res, y, x) — the inverse of :func:`quadkey`
    (tests + client-side tile math)."""
    res, x, y = len(qk), 0, 0
    for ch in qk:
        d = int(ch)
        x = x * 2 + (d & 1)
        y = y * 2 + (d >> 1)
    return res, y, x


# ------------------------------------------------------------ SQL generators
def quadkey_sql(cell: str, res: int) -> str:
    """Portable SQL producing strings identical to :func:`quadkey`."""
    x = f"(({cell}) % {_Y_SHIFT})"
    y = f"((({cell}) % {_RES_SHIFT}) // {_Y_SHIFT})"
    digits = " || ".join(
        f"CAST((({y} // {2**i}) % 2) * 2 + (({x} // {2**i}) % 2) AS VARCHAR)"
        for i in range(res - 1, -1, -1)
    )
    return f"({digits})"


def cell_encode_sql(lat: str, lng: str, res: int) -> str:
    """Portable SQL producing ids identical to :func:`cell_encode`."""
    n = float(2**res)
    hi = 2**res - 1
    x = f"least({hi}, greatest(0, CAST(floor((({lng}) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    y = f"least({hi}, greatest(0, CAST(floor((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT)))"
    return f"(CAST({res} AS BIGINT) * {_RES_SHIFT} + {y} * {_Y_SHIFT} + {x})"


# ----------------------------------------------------------------- numpy API
def np_cell_encode(lat, lng, res: int):
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = 2**res
    x = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return res * _RES_SHIFT + y * _Y_SHIFT + x


def np_cell_decode(cell):
    """cell id → (res, x, y) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell // _RES_SHIFT
    rem = cell % _RES_SHIFT
    y = rem // _Y_SHIFT
    x = rem % _Y_SHIFT
    return res.astype(np.int64), x, y


def np_cell_neighbors(cell_id: int):
    """8-neighborhood at the same resolution (lng wraps, lat clamps)."""
    res, x, y = np_cell_decode(np.asarray([cell_id]))
    r, x0, y0 = int(res[0]), int(x[0]), int(y[0])
    n = 2**r
    out = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            yy = y0 + dy
            if not 0 <= yy < n:
                continue
            xx = (x0 + dx) % n
            out.append(r * _RES_SHIFT + yy * _Y_SHIFT + xx)
    return np.asarray(sorted(set(out)), dtype=np.int64)


def np_cell_ring_batch(cells, res: int) -> np.ndarray:
    """Vectorized 9-cell neighborhood (8-ring + center) for a WHOLE batch
    of same-resolution cell ids: returns an (n_cells, 9) int64 matrix,
    lng wraps, lat clamps — out-of-range entries are -1 (filter them
    after explode). The ring of a quadtree cell is pure arithmetic, so
    the batch version is 9 shifted copies of the (x, y) arrays — no
    Python-level per-cell work (this replaces a per-row
    ``np_cell_neighbors`` loop inside a pandas_udf, VERDICT r3)."""
    cells = np.asarray(cells, dtype=np.int64)
    _, x, y = np_cell_decode(cells)
    n = 2**res
    dy = np.array([-1, -1, -1, 0, 0, 0, 1, 1, 1], dtype=np.int64)
    dx = np.array([-1, 0, 1, -1, 0, 1, -1, 0, 1], dtype=np.int64)
    yy = y[:, None] + dy[None, :]
    xx = (x[:, None] + dx[None, :]) % n
    out = res * _RES_SHIFT + yy * _Y_SHIFT + xx
    out[(yy < 0) | (yy >= n)] = -1
    if n < 3:
        # degenerate grids (res < 2): lng wrap makes columns collide;
        # sort each row and blank exact repeats so explode stays a set
        out.sort(axis=1)
        out[:, 1:][out[:, 1:] == out[:, :-1]] = -1
    return out


def np_polyfill_bbox(w: float, s: float, e: float, n: float, res: int):
    """All cells at ``res`` intersecting the bbox (vectorized meshgrid)."""
    w, s, e, n = float(w), float(s), float(e), float(n)
    grid = 2**res
    x0 = int(np.clip(np.floor((w + 180.0) / 360.0 * grid), 0, grid - 1))
    x1 = int(np.clip(np.floor((e + 180.0) / 360.0 * grid), 0, grid - 1))
    y0 = int(np.clip(np.floor((s + 90.0) / 180.0 * grid), 0, grid - 1))
    y1 = int(np.clip(np.floor((n + 90.0) / 180.0 * grid), 0, grid - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    xx, yy = np.meshgrid(xs, ys)
    return (res * _RES_SHIFT + yy.ravel() * _Y_SHIFT + xx.ravel()).astype(np.int64)

