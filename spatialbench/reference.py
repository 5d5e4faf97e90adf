"""Independent output references and seeded inputs for the benchmark.

Nothing here imports the package under test. The point-in-polygon
reference is the reference ray-cast predicate written out again:
for edge (j -> i) a point crosses iff ``yi <= py < yj`` or
``yj <= py < yi``, and ``px < (xj - xi) * (py - yi) / (yj - yi) + xi``;
even-odd over every ring. It is evaluated by a y-sorted sweep (each
edge tests only the points in its half-open y-span), a different
evaluation order from the engine's per-point-block kernel, so a
shared bug is unlikely to hide. Tile ids follow the slippy
Web-Mercator formula the engine's SQL spells.
"""

from __future__ import annotations

import json
import math

import numpy as np

# DEFAULT_EXTENT of the synthetic sources: the reference test-suite
# envelope; the parcel grid spans it
EXTENT = (-97.0189932385465, 20.52053000026018,
          -88.57449931419137, 29.116263085773653)
_Z_SHIFT, _X_SHIFT = 58, 29
_MERC_LAT = 85.05112878


def points_in_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd containment of points in a polygon given as a list of
    (n, 2) rings; a ring's closing edge is taken from its last vertex
    back to its first."""
    inside = np.zeros(px.shape[0], dtype=bool)
    order = np.argsort(py, kind="stable")
    ys = py[order]
    xs = px[order]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        prev = np.roll(ring, 1, axis=0)
        for (xi, yi), (xj, yj) in zip(ring, prev):
            if yi == yj:
                continue
            lo, hi = (yi, yj) if yi < yj else (yj, yi)
            s = np.searchsorted(ys, lo, side="left")
            e = np.searchsorted(ys, hi, side="left")
            if s == e:
                continue
            x_cross = (xj - xi) * (ys[s:e] - yi) / (yj - yi) + xi
            inside_sorted = xs[s:e] < x_cross
            inside[order[s:e]] ^= inside_sorted
    return inside


def tile_ids(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Packed slippy tile id ``z << 58 | x << 29 | y``."""
    n = 1 << z
    latc = np.clip(lat, -_MERC_LAT, _MERC_LAT)
    xt = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1)
    rad = np.radians(latc)
    merc = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0
    yt = np.clip(np.floor(merc * n), 0, n - 1)
    return (np.int64(z) << _Z_SHIFT) + (xt.astype(np.int64) << _X_SHIFT) \
        + yt.astype(np.int64)


def pip_tile_counts(lon, lat, polygons, z: int):
    """(poly_id, tile_id, n) of every matched point, sorted by
    (poly_id, tile_id). ``polygons`` is a list of (poly_id, rings)."""
    pids, tids = [], []
    for pid, rings in polygons:
        allv = np.vstack([np.asarray(r, np.float64) for r in rings])
        box = ((lon >= allv[:, 0].min()) & (lon <= allv[:, 0].max())
               & (lat >= allv[:, 1].min()) & (lat <= allv[:, 1].max()))
        idx = np.nonzero(box)[0]
        hit = idx[points_in_rings(lon[idx], lat[idx], rings)]
        tids.append(tile_ids(lon[hit], lat[hit], z))
        pids.append(np.full(hit.shape[0], pid, dtype=np.int64))
    pid = np.concatenate(pids) if pids else np.zeros(0, np.int64)
    tid = np.concatenate(tids) if tids else np.zeros(0, np.int64)
    keys = np.stack([pid, tid], axis=1)
    uniq, counts = np.unique(keys, axis=0, return_counts=True)
    return uniq[:, 0], uniq[:, 1], counts.astype(np.int64)


def group_checksum(poly_id, tile_id, n) -> int:
    """Order-free checksum of (poly_id, tile_id, n) groups; the Spark
    side computes the same sum with ``observe``."""
    key = (np.asarray(poly_id, np.int64) * 1_000_003
           + np.asarray(tile_id, np.int64)) % 2_147_483_647
    return int(np.sum(key * np.asarray(n, np.int64)))


def parcels(seed: int, nx: int = 50, ny: int = 50, nv: int = 8):
    """Grid of ``nx * ny`` clockwise ``nv``-gons over the extent, one
    per grid cell, each vertex radius jittered by up to 20% from the
    seed. Returns a list of (poly_id, rings_json)."""
    xmin, ymin, xmax, ymax = EXTENT
    dx, dy = (xmax - xmin) / nx, (ymax - ymin) / ny
    rng = np.random.default_rng(seed)
    th = -np.linspace(0.0, 2.0 * np.pi, nv + 1)[:-1]
    out = []
    for i in range(nx):
        for j in range(ny):
            cx, cy = xmin + (i + 0.5) * dx, ymin + (j + 0.5) * dy
            r = 0.45 * min(dx, dy) * (1.0 + 0.2 * rng.uniform(-1, 1, nv))
            ring = np.column_stack([cx + r * np.cos(th), cy + r * np.sin(th)])
            ring = np.round(np.vstack([ring, ring[:1]]), 7)
            out.append((i * ny + j, json.dumps([ring.tolist()])))
    return out


def extract_expected(n_features: int, attribute_only_every: int = 97):
    """Feature ids the paged extraction must emit, and how many rings
    each one's polygon has: the synthetic layer drops geometry on
    every row with ``i % 97 == 5`` and punches a hole in every 10th
    feature (oid = i + 1)."""
    i = np.arange(n_features, dtype=np.int64)
    keep = (i % attribute_only_every) != 5
    ids = i[keep] + 1
    rings = np.where(i[keep] % 10 == 0, 2, 1)
    return ids, rings
