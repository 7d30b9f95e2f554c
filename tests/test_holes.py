"""§8.1 ext golden suite: polygons with holes / multipolygon buildings.

A dedicated deterministic holed fixture (separate from the main
generator so the hole-free golden fingerprints stay frozen) runs
through the FULL engine pipeline and must match the independent
pure-Python oracle — courtyard addresses, hole-aware area tie-breaks,
and J3 building-in-courtyard semantics included. Plus direct kernel
checks and the distributed multipolygon resolver.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from mergeaddressesandbuildings_spark import config, schemas
from mergeaddressesandbuildings_spark.functions import geom, textx
from mergeaddressesandbuildings_spark.plans.merge import run_merge
from mergeaddressesandbuildings_spark.sources import pages as pg

from tests import oracle as orc

_TS = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


def _donut(clat, clon, outer_m, hole_m):
    outer = pg._rect_ring(clat, clon, outer_m, outer_m)
    hole = pg._rect_ring(clat, clon, hole_m, hole_m)
    return outer, hole


@pytest.fixture(scope="module")
def rows():
    return pg.holed_fixture_rows()


@pytest.fixture(scope="module")
def golden(rows):
    return orc.run_oracle(rows[0], rows[1])


def _engine_frames(spark, rows):
    del rows  # same deterministic fixture
    return pg.holed_frames(spark)


@pytest.fixture(scope="module")
def engine(spark, rows):
    pages, existing = _engine_frames(spark, rows)
    return run_merge(spark, pages, existing)


def test_holed_scenarios_cover_semantics(golden):
    methods = {r["method"] for r in golden["assignments"].values()}
    assert methods == {"PIP", "KNN", "NONE"}


def test_holed_assignments_match_oracle(engine, golden):
    got = {
        r["addr_id"]: (r["building_id"], r["method"], r["decision"])
        for r in engine.assignments.collect()
    }
    want = {
        aid: (r["building_id"], r["method"], r["decision"])
        for aid, r in golden["assignments"].items()
    }
    assert got == want


def test_holed_assignments_match_oracle_pairjoin(spark, rows, golden):
    pages, existing = _engine_frames(spark, rows)
    res = run_merge(spark, pages, existing, broadcast_max=0)
    got = {
        r["addr_id"]: (r["building_id"], r["method"], r["decision"])
        for r in res.assignments.collect()
    }
    want = {
        aid: (r["building_id"], r["method"], r["decision"])
        for aid, r in golden["assignments"].items()
    }
    assert got == want


def test_courtyard_semantics(engine, golden):
    """The intended per-scenario outcomes, stated explicitly."""
    by_url = {}
    for r in engine.assignments.collect():
        by_url.setdefault(r["url"].rsplit("/", 1)[-1], r)
    # 1: courtyard address → KNN (to the hole edge, ~30 m)
    assert by_url["0001"]["method"] == "KNN"
    assert 25.0 <= by_url["0001"]["dist_m"] <= 35.0
    # 2: solid-part address → PIP
    assert by_url["0002"]["method"] == "PIP"
    # 6: huge courtyard → STANDALONE
    assert by_url["0006"]["method"] == "NONE"
    assert by_url["0006"]["decision"] == "STANDALONE"


def test_hole_aware_area_tiebreak(engine):
    """Scenario 3: with holes subtracted the donut (2700 m²) beats the
    solid 55 m building (3025 m²)."""
    rows = [r for r in engine.assignments.collect() if r["url"].endswith("0003")]
    assert len(rows) == 1
    r = rows[0]
    assert r["method"] == "PIP"
    blds = {
        b["building_id"]: b["area_m2"]
        for b in engine.buildings.collect() if b["url"].endswith("0003")
    }
    assert blds[r["building_id"]] == min(blds.values())
    assert min(blds.values()) < 3000 < max(blds.values())


def test_building_inside_courtyard_survives_j3(engine, golden):
    """Scenario 4 vs 5: inside-the-hole building kept, hole-crossing
    building dropped."""
    urls = {b["url"].rsplit("/", 1)[-1] for b in engine.buildings.collect()
            if not b["existing"]}
    assert "0004" in urls
    assert "0005" not in urls


def test_poly_kernels_direct():
    """pairs_points_in_polys / dist on a donut: courtyard is outside,
    hole edge counts inside, distance from courtyard = dist to hole."""
    outer, hole = _donut(34.8, -82.4, 120.0, 60.0)
    o = np.asarray(outer, dtype=np.float64)
    h = np.asarray(hole, dtype=np.float64)
    flat_lat, flat_lon, ring_off, poly_off = geom.flatten_polys(
        [o[:, 0]], [o[:, 1]], [[h[:, 0]]], [[h[:, 1]]]
    )
    # point 0: courtyard center; point 1: solid part midway between
    # hole and outer east edges; point 2: exactly on the hole corner
    plat = np.array([34.8, 34.8, h[0][0]])
    plon = np.array([-82.4, (o[1][1] + h[1][1]) / 2.0, h[0][1]])
    pts = np.arange(3, dtype=np.int64)
    polys = np.zeros(3, dtype=np.int64)
    inside = geom.pairs_points_in_polys(
        plat, plon, pts, polys, flat_lat, flat_lon, ring_off, poly_off)
    assert list(inside) == [False, True, True]
    d = geom.pairs_point_to_polys_dist_m(
        plat, plon, pts, polys, flat_lat, flat_lon, ring_off, poly_off)
    assert 25.0 <= d[0] <= 35.0  # courtyard center → hole edge ≈ 30 m
    assert d[2] == 0.0


def test_multipolygon_resolver(spark):
    """resolve_multipolygons: closed outer + inner ways → holed polygon."""
    from mergeaddressesandbuildings_spark.operators import ways as W

    outer, hole = _donut(34.8, -82.4, 100.0, 40.0)
    nodes = [
        {"id": 100 + k, "lat": p[0], "lon": p[1], "tags": {}}
        for k, p in enumerate(outer[:-1])
    ] + [
        {"id": 200 + k, "lat": p[0], "lon": p[1], "tags": {}}
        for k, p in enumerate(hole[:-1])
    ]
    ways = [
        {"id": 1, "node_refs": [100, 101, 102, 103, 100], "tags": {}},
        {"id": 2, "node_refs": [200, 201, 202, 203, 200], "tags": {}},
    ]
    rels = [
        {"id": 7, "member_refs": [1, 2], "member_roles": ["outer", "inner"],
         "member_types": ["way", "way"],
         "tags": {"type": "multipolygon", "building": "yes"}},
        # boundary relations also use outer/inner roles — must NOT
        # resolve into a phantom polygon (would blow MAX_COVER_CELLS on
        # a real county boundary)
        {"id": 8, "member_refs": [1], "member_roles": ["outer"],
         "member_types": ["way"],
         "tags": {"type": "boundary", "admin_level": "6"}},
        # node-typed member whose id collides with way 1 — must be
        # ignored (OSM node/way id spaces overlap)
        {"id": 9, "member_refs": [1, 2], "member_roles": ["outer", "inner"],
         "member_types": ["node", "way"],
         "tags": {"type": "multipolygon"}},
    ]
    from mergeaddressesandbuildings_spark.sources.osm_xml import (
        NODES_SCHEMA, RELATIONS_SCHEMA, WAYS_SCHEMA,
    )
    ndf = spark.createDataFrame(nodes, schema=NODES_SCHEMA)
    wdf = spark.createDataFrame(ways, schema=WAYS_SCHEMA)
    rdf = spark.createDataFrame(rels, schema=RELATIONS_SCHEMA)
    out = W.resolve_multipolygons(ndf, wdf, rdf).collect()
    assert len(out) == 1
    row = out[0]
    assert row["id"] == 7
    assert len(row["ring_lats"]) == 5
    assert len(row["hole_lats"]) == 1 and len(row["hole_lats"][0]) == 5
    # and it reaches the buildings schema with hole-subtracted area
    from mergeaddressesandbuildings_spark.operators import extract
    from mergeaddressesandbuildings_spark.sources import osm_xml

    existing = osm_xml.to_existing_table(ndf, wdf, rdf)
    blds = extract.existing_to_tables(existing)[1].collect()
    assert len(blds) == 1
    outer_area = orc.ring_area_m2([(p[0], p[1]) for p in outer])
    hole_area = orc.ring_area_m2([(p[0], p[1]) for p in hole])
    assert abs(blds[0]["area_m2"] - (outer_area - hole_area)) < 1e-6
