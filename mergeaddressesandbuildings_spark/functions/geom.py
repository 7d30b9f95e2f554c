"""Vectorized numpy geometry kernels (SURVEY.md §2.8 F1–F4, §8.1).

No geo libraries exist in this sandbox (SURVEY.md §9), so the ray-cast
point-in-polygon, point-to-segment distance, ring area/centroid/bbox and
ring-overlap tests are implemented here from scratch as numpy kernels.
These run inside Arrow-batched pandas UDFs on the executors — never
row-at-a-time Python (BASELINE.json:15).

Conventions (§8.1): WGS84 doubles; haversine distance with
R = 6371008.8 m; point-on-edge counts as INSIDE; the ray is cast along
+lat. Metric point↔segment distances use a local equirectangular
projection centered at the query point (county-scale inputs; exactness
pinned by the pure-Python oracle in tests/oracle.py which uses the same
formulae per the §8 spec).
"""

from __future__ import annotations

import numpy as np

from mergeaddressesandbuildings_spark import config

_EDGE_EPS = 1e-12  # degrees^2 tolerance for the on-edge collinearity test


def haversine_m(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters (F1), elementwise."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * config.EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def _edge_tests(px, py, x1, y1, x2, y2):
    """Elementwise (point, edge x1,y1 → x2,y2) → (crossing, on_edge):
    does the +lat ray from the point cross the edge (half-open on lon,
    ``<=``/``>``, so a vertex counts once), and does the point lie on
    the edge (collinear within ``_EDGE_EPS`` and inside its bbox)?"""
    straddles = ((x1 <= px) & (x2 > px)) | ((x2 <= px) & (x1 > px))
    dx = np.where(x2 - x1 == 0.0, 1.0, x2 - x1)  # guarded; unused when not straddling
    t = (px - x1) / dx
    y_int = y1 + t * (y2 - y1)
    cross = (px - x1) * (y2 - y1) - (py - y1) * (x2 - x1)
    in_box = (
        (px >= np.minimum(x1, x2) - _EDGE_EPS)
        & (px <= np.maximum(x1, x2) + _EDGE_EPS)
        & (py >= np.minimum(y1, y2) - _EDGE_EPS)
        & (py <= np.maximum(y1, y2) + _EDGE_EPS)
    )
    return straddles & (y_int > py), (np.abs(cross) <= _EDGE_EPS) & in_box


def _edge_dist2(px, py, x1, y1, x2, y2):
    """Elementwise squared distance (m²) from a point to an edge, on the
    local equirectangular plane at the point: 1° lat = DEG_TO_M meters,
    1° lon = DEG_TO_M * cos(point lat) meters."""
    kx = config.DEG_TO_M * np.cos(np.radians(py))
    ky = config.DEG_TO_M
    ax = (x1 - px) * kx
    ay = (y1 - py) * ky
    bx = (x2 - px) * kx
    by = (y2 - py) * ky
    dx, dy = bx - ax, by - ay
    seg_len2 = dx * dx + dy * dy
    t = np.clip(
        np.where(seg_len2 > 0.0, -(ax * dx + ay * dy) / np.where(seg_len2 == 0.0, 1.0, seg_len2), 0.0),
        0.0,
        1.0,
    )
    cx = ax + t * dx
    cy = ay + t * dy
    return cx * cx + cy * cy


def _ring_edges(ring_lat, ring_lon):
    """A closed ring's edges as (1, n_edges) rows: x1, y1, x2, y2."""
    lon = np.asarray(ring_lon, dtype=np.float64)[None, :]
    lat = np.asarray(ring_lat, dtype=np.float64)[None, :]
    return lon[:, :-1], lat[:, :-1], lon[:, 1:], lat[:, 1:]


def points_in_ring(
    plat: np.ndarray, plon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray
) -> np.ndarray:
    """Even-odd ray-cast PIP of n points against one closed ring (F2).

    ``ring_*`` must be closed (first == last vertex). Ray direction is
    +lat (§8.1); the crossing test is half-open on lon (``<=``/``>``) so
    vertices are counted once; points exactly on an edge or vertex are
    detected separately and forced inside. Fully vectorized: one
    (n_points × n_edges) broadcast.
    """
    crossing, on_edge = _edge_tests(
        np.asarray(plon, dtype=np.float64)[:, None],
        np.asarray(plat, dtype=np.float64)[:, None],
        *_ring_edges(ring_lat, ring_lon),
    )
    return ((crossing.sum(axis=1) % 2) == 1) | on_edge.any(axis=1)


def point_to_ring_dist_m(
    plat: np.ndarray, plon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray
) -> np.ndarray:
    """Min distance (meters) from each of n points to a ring's edges (F1).

    Local equirectangular projection per point (:func:`_edge_dist2`),
    then exact Euclidean point→segment distance. Error is negligible at
    the ≤100 m cutoff scale (§8.4).
    """
    d2 = _edge_dist2(
        np.asarray(plon, dtype=np.float64)[:, None],
        np.asarray(plat, dtype=np.float64)[:, None],
        *_ring_edges(ring_lat, ring_lon),
    )
    return np.sqrt(d2.min(axis=1))


def flatten_rings(ring_lats, ring_lons) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged ring set → (flat_lat, flat_lon, offsets). Ring j's closed
    vertex run is ``flat[offsets[j]:offsets[j+1]]``. This is the vertex
    layout under :func:`flatten_polys`, which the pair kernels consume —
    it removes every per-ring Python loop from the hot path (SURVEY.md
    §7 M0 "edge-list flattening")."""
    m = len(ring_lats)
    lens = np.fromiter((len(r) for r in ring_lats), dtype=np.int64, count=m)
    offsets = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if m == 0:
        return np.empty(0), np.empty(0), offsets
    flat_lat = np.concatenate([np.asarray(r, dtype=np.float64) for r in ring_lats])
    flat_lon = np.concatenate([np.asarray(r, dtype=np.float64) for r in ring_lons])
    return flat_lat, flat_lon, offsets


def _ragged(starts: np.ndarray, counts: np.ndarray):
    """Per item i, the index run ``starts[i] .. starts[i]+counts[i]-1``
    → flat arrays (item, index), each item's run contiguous and in item
    order."""
    item = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    first = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    local = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(first, counts)
    return item, np.repeat(starts, counts) + local


# ---------- polygons with holes (multipolygon buildings, §8.1 ext) ----
#
# A polygon = one outer ring + 0..n hole rings. Semantics:
#   PIP: even-odd parity of ray crossings over ALL rings (inside outer
#        and not inside a hole); a point on ANY ring edge counts inside.
#   distance: min point→edge distance over all rings (a point in a
#        courtyard is outside the polygon; its distance is to the hole).
#   area: outer shoelace − Σ hole shoelaces (each at its own mean lat).
#   overlap (J3): any edge of any ring of A intersects any edge of any
#        ring of B, or A's outer first vertex is inside B (with holes),
#        or vice versa — so a building fully inside another's courtyard
#        does NOT overlap it.
# The pair kernels below vectorize the scalar single-ring kernels over
# ALL candidate pairs and ragged polygons in one numpy pass — no Python
# loop per building. For hole-free inputs each one is bit-identical to
# its scalar kernel (points_in_ring, point_to_ring_dist_m,
# rings_overlap) — asserted in tests/test_pair_kernels_prop.py and by
# the golden fingerprints.


def flatten_polys(ring_lats, ring_lons, hole_lats, hole_lons):
    """Ragged polygon set → (flat_lat, flat_lon, ring_offsets,
    poly_ring_offsets). Polygon j's rings are ring indices
    ``poly_ring_offsets[j]:poly_ring_offsets[j+1]`` (outer first, then
    its holes), laid out contiguously in the flat vertex arrays.
    ``hole_lats[j]`` may be None or a list of hole rings."""
    all_lats: list = []
    all_lons: list = []
    poly_off = np.zeros(len(ring_lats) + 1, dtype=np.int64)
    for j, (rla, rlo) in enumerate(zip(ring_lats, ring_lons)):
        all_lats.append(rla)
        all_lons.append(rlo)
        n_rings = 1
        hla = hole_lats[j] if hole_lats is not None else None
        hlo = hole_lons[j] if hole_lons is not None else None
        if hla is not None and len(hla):
            for hr_la, hr_lo in zip(hla, hlo):
                all_lats.append(hr_la)
                all_lons.append(hr_lo)
                n_rings += 1
        poly_off[j + 1] = poly_off[j] + n_rings
    flat_lat, flat_lon, ring_off = flatten_rings(all_lats, all_lons)
    return flat_lat, flat_lon, ring_off, poly_off


def _cross_expand(na: np.ndarray, nb: np.ndarray):
    """Per pair p, every (i, j) with i < na[p] and j < nb[p], as flat
    arrays (pair, i, j) with each pair's combinations contiguous and in
    pair order."""
    pair, k = _ragged(np.zeros(len(na), dtype=np.int64), na * nb)
    i = k // nb[pair]
    return pair, i, k - i * nb[pair]


def _pair_poly_edges(plat, plon, pair_pt, pair_poly, ring_offsets,
                     poly_offsets):
    """Expand (point, polygon) pairs to one row per (pair, edge of any
    of its rings) → (pair index, point lon, point lat, flat index of the
    edge's first vertex); each pair's edges are contiguous, in pair
    order."""
    orig, rings = _ragged(poly_offsets[pair_poly],
                          poly_offsets[pair_poly + 1] - poly_offsets[pair_poly])
    # edges per ring: vertices − 1 (rings are closed)
    ring_edge, ei = _ragged(ring_offsets[rings],
                            ring_offsets[rings + 1] - ring_offsets[rings] - 1)
    opair = orig[ring_edge]
    px = np.asarray(plon, dtype=np.float64)[pair_pt][opair]
    py = np.asarray(plat, dtype=np.float64)[pair_pt][opair]
    return opair, px, py, ei


def pairs_points_in_polys(
    plat: np.ndarray, plon: np.ndarray,
    pair_pt: np.ndarray, pair_poly: np.ndarray,
    flat_lat: np.ndarray, flat_lon: np.ndarray,
    ring_offsets: np.ndarray, poly_offsets: np.ndarray,
) -> np.ndarray:
    """PIP with holes for candidate pairs: is point ``pair_pt[p]``
    inside polygon ``pair_poly[p]``? Even-odd crossings summed over ALL
    rings of the polygon; on-edge of any ring → inside. For 1-ring
    polygons this is bit-identical to :func:`points_in_ring`."""
    if len(pair_pt) == 0:
        return np.zeros(0, dtype=bool)
    opair, px, py, ei = _pair_poly_edges(plat, plon, pair_pt, pair_poly,
                                         ring_offsets, poly_offsets)
    crossing, on_edge = _edge_tests(px, py, flat_lon[ei], flat_lat[ei],
                                    flat_lon[ei + 1], flat_lat[ei + 1])
    ncross = np.bincount(opair, weights=crossing, minlength=len(pair_pt))
    inside = (ncross.astype(np.int64) % 2) == 1
    on_any = np.bincount(opair, weights=on_edge, minlength=len(pair_pt)) > 0
    return inside | on_any


def pairs_point_to_polys_dist_m(
    plat: np.ndarray, plon: np.ndarray,
    pair_pt: np.ndarray, pair_poly: np.ndarray,
    flat_lat: np.ndarray, flat_lon: np.ndarray,
    ring_offsets: np.ndarray, poly_offsets: np.ndarray,
) -> np.ndarray:
    """Min point→edge distance (meters) over ALL rings of the polygon
    per pair, with the equirectangular formulae of
    :func:`point_to_ring_dist_m` (bit-identical to it for 1-ring
    polygons)."""
    if len(pair_pt) == 0:
        return np.zeros(0, dtype=np.float64)
    opair, px, py, ei = _pair_poly_edges(plat, plon, pair_pt, pair_poly,
                                         ring_offsets, poly_offsets)
    d2 = _edge_dist2(px, py, flat_lon[ei], flat_lat[ei],
                     flat_lon[ei + 1], flat_lat[ei + 1])
    # edges of one ORIGINAL pair are contiguous (rings of a poly are
    # expanded adjacently): reduceat at the per-pair boundaries
    seg_starts = np.zeros(len(pair_pt), dtype=np.int64)
    counts = np.bincount(opair, minlength=len(pair_pt)).astype(np.int64)
    np.cumsum(counts[:-1], out=seg_starts[1:])
    return np.sqrt(np.minimum.reduceat(d2, seg_starts))


def pairs_polys_overlap(
    pair_a: np.ndarray, pair_b: np.ndarray,
    a_flat_lat: np.ndarray, a_flat_lon: np.ndarray,
    a_ring_off: np.ndarray, a_poly_off: np.ndarray,
    b_flat_lat: np.ndarray, b_flat_lon: np.ndarray,
    b_ring_off: np.ndarray, b_poly_off: np.ndarray,
) -> np.ndarray:
    """Polygon-with-holes overlap per candidate pair: any cross-ring
    edge intersection, or either outer's first vertex inside the other
    polygon (with holes). The J3 building-dedupe refine; bit-identical
    to :func:`rings_overlap` for 1-ring polygons."""
    n_pairs = len(pair_a)
    if n_pairs == 0:
        return np.zeros(0, dtype=bool)
    # ring-granularity cross product: (ring of A poly) × (ring of B poly)
    combo_pair, ra, rb = _cross_expand(
        (a_poly_off[pair_a + 1] - a_poly_off[pair_a]).astype(np.int64),
        (b_poly_off[pair_b + 1] - b_poly_off[pair_b]).astype(np.int64))
    ring_a = a_poly_off[pair_a][combo_pair] + ra
    ring_b = b_poly_off[pair_b][combo_pair] + rb
    ring_hit = _pairs_rings_edge_hit(
        ring_a, ring_b, a_flat_lat, a_flat_lon, a_ring_off,
        b_flat_lat, b_flat_lon, b_ring_off,
    )
    edge_hit = np.bincount(combo_pair, weights=ring_hit, minlength=n_pairs) > 0

    pidx = np.arange(n_pairs, dtype=np.int64)
    a_outer = a_ring_off[a_poly_off[pair_a]]  # first vertex of A's outer
    b_outer = b_ring_off[b_poly_off[pair_b]]
    a0_in_b = pairs_points_in_polys(
        a_flat_lat[a_outer], a_flat_lon[a_outer], pidx, pair_b,
        b_flat_lat, b_flat_lon, b_ring_off, b_poly_off,
    )
    b0_in_a = pairs_points_in_polys(
        b_flat_lat[b_outer], b_flat_lon[b_outer], pidx, pair_a,
        a_flat_lat, a_flat_lon, a_ring_off, a_poly_off,
    )
    return edge_hit | a0_in_b | b0_in_a


def ring_bbox(ring_lat: np.ndarray, ring_lon: np.ndarray) -> tuple[float, float, float, float]:
    """(min_lat, min_lon, max_lat, max_lon) of one ring (F3)."""
    return (
        float(np.min(ring_lat)),
        float(np.min(ring_lon)),
        float(np.max(ring_lat)),
        float(np.max(ring_lon)),
    )


def ring_centroid(ring_lat: np.ndarray, ring_lon: np.ndarray) -> tuple[float, float]:
    """Vertex-mean centroid of one ring, excluding the closing vertex (F3).

    §8.7 tile membership uses this; the vertex mean (not the area
    centroid) is chosen for exact reproducibility across engines.
    """
    return float(np.mean(ring_lat[:-1])), float(np.mean(ring_lon[:-1]))


def ring_area_m2(ring_lat: np.ndarray, ring_lon: np.ndarray) -> float:
    """Shoelace area (m²) on a local equirectangular plane at the ring's
    mean latitude — the §8.4 smallest-area tie-break metric."""
    lat0 = float(np.mean(ring_lat[:-1]))
    kx = config.DEG_TO_M * np.cos(np.radians(lat0))
    ky = config.DEG_TO_M
    x = np.asarray(ring_lon, dtype=np.float64) * kx
    y = np.asarray(ring_lat, dtype=np.float64) * ky
    return float(abs(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])) / 2.0)


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on(d, px, py, qx, qy, rx, ry):
    """Collinear touch: orientation ``d`` is 0 and r lies in segment
    p→q's bbox."""
    return (d == 0) & (
        (np.minimum(px, qx) <= rx) & (rx <= np.maximum(px, qx))
        & (np.minimum(py, qy) <= ry) & (ry <= np.maximum(py, qy))
    )


def _segs_hit(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Elementwise: does segment a intersect segment b, properly or by
    collinear touch? Cross-product orientation test."""
    d1 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (
        ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    )
    touch = (
        _on(d1, bx1, by1, bx2, by2, ax1, ay1)
        | _on(d2, bx1, by1, bx2, by2, ax2, ay2)
        | _on(d3, ax1, ay1, ax2, ay2, bx1, by1)
        | _on(d4, ax1, ay1, ax2, ay2, bx2, by2)
    )
    return proper | touch


def segments_intersect(
    a1: tuple, a2: tuple, b1x: np.ndarray, b1y: np.ndarray, b2x: np.ndarray, b2y: np.ndarray
) -> np.ndarray:
    """Does segment a1→a2 properly/improperly intersect each segment in b (F4)?

    Cross-product orientation test, vectorized over the b segments.
    Collinear-touching counts as intersecting (conservative for the J3
    building-overlap anti-join).
    """
    return _segs_hit(*a1, *a2, b1x, b1y, b2x, b2y)


def _pairs_rings_edge_hit(
    pair_a: np.ndarray, pair_b: np.ndarray,
    a_flat_lat: np.ndarray, a_flat_lon: np.ndarray, a_offsets: np.ndarray,
    b_flat_lat: np.ndarray, b_flat_lon: np.ndarray, b_offsets: np.ndarray,
) -> np.ndarray:
    """Per ring-pair: does ANY edge of ring ``pair_a[p]`` intersect any
    edge of ring ``pair_b[p]`` (proper or collinear-touch)? The edge
    half of :func:`rings_overlap`, vectorized over all pairs: every
    (edge_a × edge_b) combination expands into flat index arrays,
    tested by the same orientation test as :func:`segments_intersect`;
    per-pair ``any`` is a bincount."""
    n_pairs = len(pair_a)
    if n_pairs == 0:
        return np.zeros(0, dtype=bool)
    # edges per ring: vertices − 1 (rings are closed)
    combo_pair, ai, bi = _cross_expand(
        a_offsets[pair_a + 1] - a_offsets[pair_a] - 1,
        b_offsets[pair_b + 1] - b_offsets[pair_b] - 1)
    ea = a_offsets[pair_a][combo_pair] + ai
    eb = b_offsets[pair_b][combo_pair] + bi

    hit = _segs_hit(a_flat_lon[ea], a_flat_lat[ea],
                    a_flat_lon[ea + 1], a_flat_lat[ea + 1],
                    b_flat_lon[eb], b_flat_lat[eb],
                    b_flat_lon[eb + 1], b_flat_lat[eb + 1])
    return np.bincount(combo_pair, weights=hit, minlength=n_pairs) > 0


def rings_overlap(
    a_lat: np.ndarray, a_lon: np.ndarray, b_lat: np.ndarray, b_lon: np.ndarray
) -> bool:
    """Do two closed rings overlap (F4, J3 semantics)?

    True if any edges intersect, or either ring's first vertex lies
    inside the other (containment without edge crossing).
    """
    for i in range(len(a_lat) - 1):
        if segments_intersect(
            (a_lon[i], a_lat[i]),
            (a_lon[i + 1], a_lat[i + 1]),
            np.asarray(b_lon[:-1]),
            np.asarray(b_lat[:-1]),
            np.asarray(b_lon[1:]),
            np.asarray(b_lat[1:]),
        ).any():
            return True
    if points_in_ring(np.array([a_lat[0]]), np.array([a_lon[0]]), b_lat, b_lon)[0]:
        return True
    if points_in_ring(np.array([b_lat[0]]), np.array([b_lon[0]]), a_lat, a_lon)[0]:
        return True
    return False
