"""Property tests (hypothesis): the cache-blocked ray cast must equal
a literal transcription of the reference predicate on arbitrary rings
and points, ring assembly invariants must hold for arbitrary ring
soups, and the scanline cell-cover kernel must equal the plain
per-rect three-stage test bit for bit.
"""

from __future__ import annotations

import math
from unittest import mock

import numpy as np
from hypothesis import given, settings, strategies as st

from esri_dump_spark.kernels import cells as C
from esri_dump_spark.kernels.rings import (close_ring, edges_intersect,
                                           points_in_polygon, points_in_ring,
                                           rects_intersect_polygon,
                                           ring_is_clockwise,
                                           rings_to_geojson)
from esri_dump_spark.operators import tiles as T

coord = st.floats(min_value=-180.0, max_value=180.0,
                  allow_nan=False, allow_infinity=False, width=64)


def _reference_raycast(points: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Direct transcription of lib/rings2geojson.ts:54-64."""
    px, py = points[:, 0], points[:, 1]
    inside = np.zeros(points.shape[0], dtype=bool)
    n = ring.shape[0]
    for i in range(n):
        j = i - 1 if i > 0 else n - 1
        xi, yi = ring[i]
        xj, yj = ring[j]
        yc = ((yi <= py) & (py < yj)) | ((yj <= py) & (py < yi))
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = px < (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= yc & xc
    return inside


@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=40),
       st.lists(st.tuples(coord, coord), min_size=1, max_size=300))
@settings(max_examples=60, deadline=None)
def test_raycast_matches_reference_transcription(ring_pts, query_pts):
    ring = close_ring(np.array(ring_pts, dtype=np.float64))
    pts = np.array(query_pts, dtype=np.float64)
    got = points_in_ring(pts, ring)
    exp = _reference_raycast(pts, ring)
    assert np.array_equal(got, exp)


@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=40),
       st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=40, deadline=None)
def test_blocked_path_equals_broadcast_path(ring_pts, seed):
    ring = close_ring(np.array(ring_pts, dtype=np.float64))
    rng = np.random.default_rng(seed)
    pts = rng.uniform(-180, 180, size=(70000, 2))
    # large call takes the cache-blocked path; chunked small calls take
    # the broadcast path — results must be identical
    big = points_in_ring(pts, ring)
    small = np.concatenate([points_in_ring(pts[i:i + 997], ring)
                            for i in range(0, len(pts), 997)])
    assert np.array_equal(big, small)


@given(st.lists(st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
                min_size=1, max_size=6))
@settings(max_examples=60, deadline=None)
def test_assembly_invariants(raw_rings):
    geo = rings_to_geojson([np.array(r, dtype=np.float64)
                            for r in raw_rings])
    assert geo["type"] in ("Polygon", "MultiPolygon")
    polys = [geo["coordinates"]] if geo["type"] == "Polygon" \
        else geo["coordinates"]
    for poly in polys:
        for ring in poly:
            # every emitted ring is closed with >= 4 points
            assert len(ring) >= 4
            assert ring[0] == ring[-1]


# ---- polygons_intersect vs an exact analytic oracle ------------------

def _rect_ring(x0, y0, x1, y1):
    # CW in y-up, like ESRI shells
    return [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40),
                          st.integers(1, 12), st.integers(1, 12)),
                min_size=1, max_size=3),
       st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40),
                          st.integers(1, 12), st.integers(1, 12)),
                min_size=1, max_size=3))
def test_polygons_intersect_matches_rect_oracle(rects_a, rects_b):
    """Two-sided exact oracle: for multipolygons made of axis-aligned
    rectangle components, intersection is plain interval overlap per
    component pair. The two sides draw coordinates from offset grids
    (+0.25 vs +0.5) so no edges ever coincide — open/closed boundary
    distinctions never engage and the analytic answer is unambiguous.
    This is the property that catches containment-probe bugs (e.g.
    probing only the first component) independently of the kernel.

    Same-side components are banded into disjoint x-ranges (idx * 60):
    under even-odd semantics two OVERLAPPING same-side components
    cancel into a hole, which a union-style oracle cannot model — the
    banding keeps even-odd == union while same-index cross-side pairs
    still exercise every relation, including containment of a NON-
    first component."""
    from esri_dump_spark.kernels.rings import polygons_intersect

    def build(rects, off):
        boxes, rings = [], []
        for idx, (gx, gy, w, h) in enumerate(rects):
            x0, y0 = gx + off + idx * 60, gy + off
            boxes.append((x0, y0, x0 + w, y0 + h))
            rings.append(_rect_ring(x0, y0, x0 + w, y0 + h))
        return boxes, rings

    boxes_a, rings_a = build(rects_a, 0.25)
    boxes_b, rings_b = build(rects_b, 0.5)
    expected = any(ax0 < bx1 and bx0 < ax1 and ay0 < by1 and by0 < ay1
                   for (ax0, ay0, ax1, ay1) in boxes_a
                   for (bx0, by0, bx1, by1) in boxes_b)
    assert polygons_intersect(rings_a, rings_b) == expected


# ---- scanline cover kernel vs the plain per-rect three-stage test -----

def _reference_rects_intersect_polygon(rings, x0, y0, x1, y1):
    """The plain path: ray-cast five probes per rect, then test every
    rect they reject against every vertex and, one rect at a time, every
    ring edge with ``edges_intersect``."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    allpts = np.vstack(rings)
    keep = np.zeros(x0.shape[0], dtype=bool)
    for px, py in ((x0, y0), (x0, y1), (x1, y0), (x1, y1),
                   ((x0 + x1) / 2, (y0 + y1) / 2)):
        keep |= points_in_polygon(np.column_stack([px, py]), rings)
    vx, vy = allpts[:, 0], allpts[:, 1]
    for i in np.where(~keep)[0]:
        if np.any((vx >= x0[i]) & (vx <= x1[i])
                  & (vy >= y0[i]) & (vy <= y1[i])):
            keep[i] = True
            continue
        rect = np.array([[x0[i], y0[i]], [x1[i], y0[i]],
                         [x1[i], y1[i]], [x0[i], y1[i]],
                         [x0[i], y0[i]]], dtype=np.float64)
        for ring in rings:
            if edges_intersect(rect, ring):
                keep[i] = True
                break
    return keep


def _axis(c, part, frac, span, origin):
    """A coordinate of grid column/row ``c``, spelled like
    ``cells.cell_bounds``: its low edge, high edge, centre (all probe
    lines), or a free point inside."""
    lo = c * span - origin
    hi = lo + span
    return (lo, hi, (lo + hi) / 2, lo + frac * span)[part]


@st.composite
def _lattice_rings(draw, n, span):
    """1-4 rings on a ``span``-cell window of an n x n grid, in grid
    units: a vertex is (x, y, dy), x and y each a (column, part, frac)
    triple for ``_axis`` and dy an offset in cell heights (slivers):
    free rings whose vertices snap to cell corners, edges and centres
    and may repeat the previous y (horizontal edges on probe rows);
    lattice boxes (nested boxes are holes, disjoint ones multi-shell);
    thin slivers crossing whole cells with no probe or vertex inside;
    and single-point rings."""
    c0 = draw(st.integers(0, n - 1 - span)), draw(st.integers(0, n - 1 - span))
    part = st.integers(0, 3)
    frac = st.floats(0.0, 1.0, exclude_max=True)

    def coord(axis):
        return (c0[axis] + draw(st.integers(0, span)), draw(part),
                draw(frac))

    rings = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["free", "box", "sliver", "point"]))
        if kind == "free":
            ring = [(coord(0), coord(1), 0.0)]
            for _ in range(draw(st.integers(1, 11))):
                y = ring[-1][1] if draw(st.booleans()) else coord(1)
                ring.append((coord(0), y, 0.0))
            if draw(st.booleans()):
                ring.append(ring[0])
        elif kind == "box":
            xa, xb, ya, yb = coord(0), coord(0), coord(1), coord(1)
            ring = [(xa, ya, 0.0), (xa, yb, 0.0), (xb, yb, 0.0),
                    (xb, ya, 0.0), (xa, ya, 0.0)]
        elif kind == "sliver":
            xa = (c0[0], 3, draw(frac))
            xb = (c0[0] + span, 3, draw(frac))
            ya = (c0[1] + draw(st.integers(0, span)), 3,
                  draw(st.floats(0.05, 0.45)))
            yb = ya if draw(st.booleans()) else coord(1)
            t = draw(st.floats(1e-9, 1e-2))
            ring = [(xa, ya, 0.0), (xb, yb, 0.0), (xb, yb, t),
                    (xa, ya, t), (xa, ya, 0.0)]
        else:
            ring = [(coord(0), coord(1), 0.0)]
        if draw(st.booleans()):
            ring = ring[::-1]
        rings.append(ring)
    return rings


def _to_lnglat(rings, res):
    w, h = 360.0 / 2.0 ** res, 180.0 / 2.0 ** res
    out = []
    for ring in rings:
        pts = [(_axis(*x, w, 180.0), _axis(*y, h, 90.0) + dy * h)
               for x, y, dy in ring]
        out.append(np.array(pts, dtype=np.float64))
    return out


@settings(max_examples=300, deadline=None)
@given(st.integers(4, 20).flatmap(
    lambda res: st.tuples(st.just(res), _lattice_rings(1 << res, 6))))
def test_polygon_cover_scanline_matches_per_rect_reference(case):
    res, raw = case
    rings = _to_lnglat(raw, res)
    closed = [close_ring(r) for r in rings]
    # the kernel on every cell of the bbox grown by one cell, outside
    # cells included, for raw and closed rings alike
    allpts = np.vstack(rings)
    pad = 360.0 / 2.0 ** res
    cells = C.cover_bbox(allpts[:, 0].min() - pad, allpts[:, 1].min() - pad,
                         allpts[:, 0].max() + pad, allpts[:, 1].max() + pad,
                         res)
    bounds = C.cell_bounds(cells)
    for rs in (rings, closed):
        got = rects_intersect_polygon(rs, *bounds)
        assert np.array_equal(got, _reference_rects_intersect_polygon(
            rs, *bounds))
    # and the public cover
    got = C.polygon_cover(closed, res)
    with mock.patch.object(C, "rects_intersect_polygon",
                           _reference_rects_intersect_polygon):
        want = C.polygon_cover(closed, res)
    assert np.array_equal(got, want)


@settings(max_examples=100, deadline=None)
@given(st.sampled_from([3, 8, 13, 18]).flatmap(
    lambda z: st.tuples(st.just(z), _lattice_rings(1 << z, 5))))
def test_tile_cover_scanline_matches_per_rect_reference(case):
    """Lattice rings laid out in tile space, mapped back to lon/lat
    through the inverse of ``tiles._to_tile_space``."""
    z, raw = case
    n = 2.0 ** z
    rings = []
    for ring in raw:
        pts = []
        for x, y, dy in ring:
            tx = _axis(*x, 1.0, 0.0)
            ty = _axis(*y, 1.0, 0.0) + dy
            lat = math.degrees(math.atan(math.sinh(math.pi
                                                   * (1 - 2 * ty / n))))
            pts.append((tx / n * 360.0 - 180.0, lat))
        rings.append(np.array(pts, dtype=np.float64))
    got = T.tile_cover(rings, z)
    with mock.patch.object(T, "rects_intersect_polygon",
                           _reference_rects_intersect_polygon):
        want = T.tile_cover(rings, z)
    assert np.array_equal(got, want)
