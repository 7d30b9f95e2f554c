"""Property-based differential tests (hypothesis, seeded): the
flattened-edge polygon PAIR kernels the spatial join and the J3 dedupe
run must agree bit-for-bit with the scalar single-ring kernels on
1-ring polygons — for arbitrary ragged ring sets, point clouds, and
candidate pair subsets."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from mergeaddressesandbuildings_spark.functions import geom


@st.composite
def ring_set(draw):
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    n_rings = draw(st.integers(1, 8))
    rings = []
    for _ in range(n_rings):
        n_vert = rng.randint(3, 12)
        clat = rng.uniform(-60, 60)
        clon = rng.uniform(-170, 170)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
        rad = rng.uniform(0.001, 0.05, n_vert)
        rlat = clat + rad * np.sin(ang)
        rlon = clon + rad * np.cos(ang)
        rlat = np.append(rlat, rlat[0])
        rlon = np.append(rlon, rlon[0])
        rings.append((rlat, rlon))
    n_pts = draw(st.integers(1, 40))
    plat = rng.uniform(-61, 61, n_pts)
    plon = rng.uniform(-171, 171, n_pts)
    # bias half the points into ring bboxes so hits actually occur
    for i in range(0, n_pts, 2):
        j = rng.randint(n_rings)
        rlat, rlon = rings[j]
        plat[i] = rng.uniform(rlat.min(), rlat.max())
        plon[i] = rng.uniform(rlon.min(), rlon.max())
    n_pairs = draw(st.integers(1, 60))
    pair_pt = rng.randint(0, n_pts, n_pairs).astype(np.int64)
    pair_ring = rng.randint(0, n_rings, n_pairs).astype(np.int64)
    return rings, plat, plon, pair_pt, pair_ring


def _polys(rings):
    """1-ring polygons: (flat_lat, flat_lon, ring_off, poly_off)."""
    return geom.flatten_polys(
        [r[0] for r in rings], [r[1] for r in rings], None, None
    )


@given(ring_set())
@settings(max_examples=60, deadline=None)
def test_pair_pip_matches_single_ring(case):
    rings, plat, plon, pair_pt, pair_ring = case
    got = geom.pairs_points_in_polys(
        plat, plon, pair_pt, pair_ring, *_polys(rings)
    )
    for k in range(len(pair_pt)):
        rlat, rlon = rings[pair_ring[k]]
        want = geom.points_in_ring(
            plat[pair_pt[k]:pair_pt[k] + 1], plon[pair_pt[k]:pair_pt[k] + 1],
            rlat, rlon,
        )[0]
        assert got[k] == want, f"pair {k}: {got[k]} != {want}"


@given(ring_set())
@settings(max_examples=60, deadline=None)
def test_pair_rings_overlap_matches_single(case):
    rings, _, _, _, _ = case
    # second ring set: shifted copies so overlaps and misses both occur
    rng = np.random.RandomState(7)
    other = []
    for rlat, rlon in rings:
        dl = rng.uniform(-0.03, 0.03)
        dn = rng.uniform(-0.03, 0.03)
        other.append((rlat + dl, rlon + dn))
    n = len(rings)
    pair_a = np.repeat(np.arange(n, dtype=np.int64), n)
    pair_b = np.tile(np.arange(n, dtype=np.int64), n)
    got = geom.pairs_polys_overlap(
        pair_a, pair_b, *_polys(rings), *_polys(other)
    )
    for k in range(len(pair_a)):
        ra = rings[pair_a[k]]
        rb = other[pair_b[k]]
        want = geom.rings_overlap(ra[0], ra[1], rb[0], rb[1])
        assert got[k] == want, f"pair {k}: {got[k]} != {want}"


@given(ring_set())
@settings(max_examples=60, deadline=None)
def test_pair_dist_matches_single_ring(case):
    rings, plat, plon, pair_pt, pair_ring = case
    got = geom.pairs_point_to_polys_dist_m(
        plat, plon, pair_pt, pair_ring, *_polys(rings)
    )
    for k in range(len(pair_pt)):
        rlat, rlon = rings[pair_ring[k]]
        want = geom.point_to_ring_dist_m(
            plat[pair_pt[k]:pair_pt[k] + 1], plon[pair_pt[k]:pair_pt[k] + 1],
            rlat, rlon,
        )[0]
        assert got[k] == want, f"pair {k}: {got[k]} != {want} (bit-exact contract)"
