"""Deterministic 64-bit geo cell index (F10 in SURVEY.md §2.7).

The ``h3`` wheel is not installed in this environment, so the engine
ships its own cell scheme with the same API shape (encode / disk /
boundary / polygon cover). The scheme is an equirectangular power-of-2
grid:

    res r in [0, 29]
    cx = clamp(floor((lon + 180) / 360 * 2^r), 0, 2^r - 1)
    cy = clamp(floor((lat +  90) / 180 * 2^r), 0, 2^r - 1)
    cell = (r << 58) | (cx << 29) | cy        (fits in a signed int64)

Chosen over Morton/H3 interleaving because it is (a) exactly
expressible as a plain arithmetic SQL expression — so every cell-based
operator has a DuckDB oracle — and (b) trivially NumPy-vectorizable.
Equi-join keys don't need space-filling locality; range-locality
consumers (IVF buckets) can sort on (cx, cy) directly.

At 100 TB scale the cell id is the bucketing/partitioning key: tables
are written bucketed by ``cell`` so the big spatial joins co-locate
without a shuffle.
"""

from __future__ import annotations

import numpy as np

from .rings import rects_intersect_polygon

__all__ = [
    "MAX_RES", "latlng_to_cell", "cell_to_res_xy", "cell_bounds",
    "cell_center", "grid_disk", "cover_bbox", "polygon_cover",
    "cell_sql_expr",
]

MAX_RES = 29
_RES_SHIFT = 58
_CX_SHIFT = 29


def latlng_to_cell(lat, lng, res: int):
    """Vectorized encode. Accepts scalars or arrays; returns int64."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    n = np.int64(1) << res
    cx = np.clip(np.floor((lng + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    cy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    cell = (np.int64(res) << _RES_SHIFT) | (cx << _CX_SHIFT) | cy
    if cell.ndim == 0:
        return int(cell)
    return cell


def cell_sql_expr(lng_expr: str, lat_expr: str, res: int) -> str:
    """ANSI-SQL fragment computing the identical cell id (DuckDB oracle
    parity; also valid Spark SQL). Uses only floor + int64 arithmetic so
    both engines produce bit-identical results."""
    n = 1 << res
    return (
        f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT}"
        f" + LEAST(GREATEST(CAST(FLOOR(({lng_expr} + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1}) * {1 << _CX_SHIFT}"
        f" + LEAST(GREATEST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}) AS BIGINT), 0), {n - 1}))"
    )


def cell_to_res_xy(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    cx = (cell >> _CX_SHIFT) & np.int64((1 << _CX_SHIFT) - 1)
    cy = cell & np.int64((1 << _CX_SHIFT) - 1)
    return res, cx, cy


def cell_bounds(cell):
    """(lng_min, lat_min, lng_max, lat_max) of a cell (vectorized)."""
    res, cx, cy = cell_to_res_xy(cell)
    n = np.exp2(res)
    w, h = 360.0 / n, 180.0 / n
    lng0 = cx * w - 180.0
    lat0 = cy * h - 90.0
    return lng0, lat0, lng0 + w, lat0 + h


def cell_center(cell):
    x0, y0, x1, y1 = cell_bounds(cell)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def grid_disk(cell: int, k: int = 1) -> list:
    """All cells within Chebyshev distance k (clamped at grid edges)."""
    res, cx, cy = cell_to_res_xy(np.int64(cell))
    res, cx, cy = int(res), int(cx), int(cy)
    n = 1 << res
    out = []
    for dx in range(-k, k + 1):
        x = cx + dx
        if not 0 <= x < n:
            continue
        for dy in range(-k, k + 1):
            y = cy + dy
            if not 0 <= y < n:
                continue
            out.append((res << _RES_SHIFT) | (x << _CX_SHIFT) | y)
    return out


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float,
               res: int) -> np.ndarray:
    """All cells whose rectangle intersects the envelope (int64 array)."""
    n = 1 << res
    cx0 = int(np.clip(np.floor((xmin + 180.0) / 360.0 * n), 0, n - 1))
    cx1 = int(np.clip(np.floor((xmax + 180.0) / 360.0 * n), 0, n - 1))
    cy0 = int(np.clip(np.floor((ymin + 90.0) / 180.0 * n), 0, n - 1))
    cy1 = int(np.clip(np.floor((ymax + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(cx0, cx1 + 1, dtype=np.int64)
    ys = np.arange(cy0, cy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return ((np.int64(res) << _RES_SHIFT) | (gx << _CX_SHIFT) | gy).ravel()


def polygon_cover(rings, res: int, exact: bool = True) -> np.ndarray:
    """Cells intersecting a multi-ring polygon (coarse index for J2).

    Starts from the bbox cover, then (``exact=True``) keeps only cells
    whose rectangle genuinely intersects the polygon: a cell corner or
    center inside the polygon (even-odd), a polygon vertex inside the
    cell, or a cell-boundary/ring edge crossing. A superset of the true
    cover is always acceptable (the ray-cast refine is exact); the
    pruning just shrinks the broadcast side.

    The test is ``rings.rects_intersect_polygon``, a scanline: the
    probes are ray-cast once per distinct grid row, not once per cell,
    and a ring edge is tested only against cells within one cell width
    and height of its bounding box (no computed crossing lies farther
    out). Its result equals the per-cell evaluation bit for bit.
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    allpts = np.vstack(rings)
    cells = cover_bbox(allpts[:, 0].min(), allpts[:, 1].min(),
                       allpts[:, 0].max(), allpts[:, 1].max(), res)
    if not exact or cells.size <= 4:
        return cells

    x0, y0, x1, y1 = cell_bounds(cells)
    keep = rects_intersect_polygon(rings, x0, y0, x1, y1)
    return cells[keep]
