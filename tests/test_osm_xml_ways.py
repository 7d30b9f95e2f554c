"""S2 OSM XML reader + J7 way→node resolution: a small .osm file flows
into the engine's buildings schema with the same derived values the
extraction kernels produce."""

from __future__ import annotations

import numpy as np

from mergeaddressesandbuildings_spark.functions import geom
from mergeaddressesandbuildings_spark.operators import ways as W
from mergeaddressesandbuildings_spark.sources import osm_xml

OSM = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="test">
  <node id="1" lat="34.800" lon="-82.400"><tag k="addr:housenumber" v="12"/><tag k="addr:street" v="Main St"/></node>
  <node id="2" lat="34.800" lon="-82.399"/>
  <node id="3" lat="34.801" lon="-82.399"/>
  <node id="4" lat="34.801" lon="-82.400"/>
  <node id="5" lat="34.800" lon="-82.400"/>
  <way id="100">
    <nd ref="2"/><nd ref="3"/><nd ref="4"/><nd ref="5"/><nd ref="2"/>
    <tag k="building" v="house"/>
  </way>
  <way id="101">
    <nd ref="2"/><nd ref="999"/><nd ref="4"/><nd ref="2"/>
    <tag k="building" v="shed"/>
  </way>
  <relation id="200">
    <member type="way" ref="100" role="outer"/>
    <tag k="type" v="multipolygon"/>
  </relation>
</osm>
"""


def _write(tmp_path):
    p = tmp_path / "county.osm"
    p.write_text(OSM)
    return str(p)


def test_read_tables(spark, tmp_path):
    path = _write(tmp_path)
    nodes = osm_xml.read_nodes(spark, path)
    assert nodes.count() == 5
    n1 = nodes.filter("id = 1").collect()[0]
    assert n1["tags"]["addr:housenumber"] == "12"
    w = osm_xml.read_ways(spark, path).filter("id = 100").collect()[0]
    assert w["node_refs"] == [2, 3, 4, 5, 2]
    assert w["tags"]["building"] == "house"
    r = osm_xml.read_relations(spark, path).collect()[0]
    assert r["member_refs"] == [100] and r["member_roles"] == ["outer"]


def test_resolve_rings_orders_and_drops_partial(spark, tmp_path):
    path = _write(tmp_path)
    nodes = osm_xml.read_nodes(spark, path)
    ways = osm_xml.read_ways(spark, path)
    rings = {r["id"]: r for r in W.resolve_rings(nodes, ways).collect()}
    # way 101 references missing node 999 -> dropped
    assert set(rings) == {100}
    r = rings[100]
    assert r["ring_lats"] == [34.800, 34.801, 34.801, 34.800, 34.800]
    assert r["ring_lons"] == [-82.399, -82.399, -82.400, -82.400, -82.399]


def test_existing_ways_match_kernels(spark, tmp_path):
    """A .osm way's derived building columns (through to_existing_table
    and existing_to_tables) equal the extraction kernels' values."""
    from mergeaddressesandbuildings_spark.operators import extract

    path = _write(tmp_path)
    existing = osm_xml.to_existing_table(
        osm_xml.read_nodes(spark, path), osm_xml.read_ways(spark, path))
    b = extract.existing_to_tables(existing)[1].collect()[0]
    rlat = np.asarray(b["ring_lats"])
    rlon = np.asarray(b["ring_lons"])
    assert (b["min_lat"], b["min_lon"], b["max_lat"], b["max_lon"]) == geom.ring_bbox(rlat, rlon)
    clat, clon = geom.ring_centroid(rlat, rlon)
    assert (b["centroid_lat"], b["centroid_lon"]) == (clat, clon)
    assert b["area_m2"] == geom.ring_area_m2(rlat, rlon)
    assert len(b["cells"]) >= 1


BOUNDARY_OSM = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="10" lat="34.0" lon="-82.0"/>
  <node id="11" lat="34.0" lon="-81.0"/>
  <node id="12" lat="35.0" lon="-81.0"/>
  <node id="13" lat="35.0" lon="-82.0"/>
  <way id="301"><nd ref="10"/><nd ref="11"/><nd ref="12"/></way>
  <way id="302"><nd ref="13"/><nd ref="12"/></way>
  <way id="303"><nd ref="13"/><nd ref="10"/></way>
  <relation id="400">
    <member type="way" ref="301" role="outer"/>
    <member type="way" ref="302" role="outer"/>
    <member type="way" ref="303" role="outer"/>
    <tag k="type" v="boundary"/>
  </relation>
</osm>
"""


def test_assemble_boundary_ring(spark, tmp_path):
    import numpy as np
    from mergeaddressesandbuildings_spark.operators import boundary

    p = tmp_path / "county_boundary.osm"
    p.write_text(BOUNDARY_OSM)
    nodes = osm_xml.read_nodes(spark, str(p))
    ways_df = osm_xml.read_ways(spark, str(p))
    rels = osm_xml.read_relations(spark, str(p))
    rlat, rlon = W.assemble_boundary_ring(nodes, ways_df, rels, 400)
    # closed square: way 302 joined reversed, 5 vertices total
    assert (rlat[0], rlon[0]) == (rlat[-1], rlon[-1])
    assert len(rlat) == 5
    # PIP through the boundary filter: inside point kept, outside dropped
    pts = spark.createDataFrame(
        [(1, 34.5, -81.5), (2, 36.0, -81.5)], "id long, lat double, lon double"
    )
    kept = [r["id"] for r in boundary.filter_in_boundary(pts, rlat, rlon).collect()]
    assert kept == [1]


def test_to_existing_table_feeds_merge(spark, tmp_path):
    """.osm existing state flows through existing_to_tables into the
    merge universe (node→address, way→building with materialized ring)."""
    from mergeaddressesandbuildings_spark.operators import extract

    p = tmp_path / "existing.osm"
    p.write_text(OSM)
    existing = osm_xml.to_existing_table(
        osm_xml.read_nodes(spark, str(p)), osm_xml.read_ways(spark, str(p))
    )
    assert existing.filter("kind = 'node'").count() == 5
    assert existing.filter("kind = 'way'").count() == 1  # way 101 dropped
    ex_nodes, ex_ways = extract.existing_to_tables(existing)
    assert ex_nodes.count() == 1  # only node 1 carries addr:housenumber
    w = ex_ways.collect()[0]
    assert w["building_id"] == 100
    assert len(w["ring_lats"]) == 5
    assert w["area_m2"] > 0 and len(w["cells"]) >= 1
