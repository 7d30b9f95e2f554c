"""J7: way → node resolution join (SURVEY.md §2.3 J7) — materialize
building rings from OSM (nodes, ways) tables so real `.osm` input
flows into the same merge pipeline as extracted web-page records.

Spark shape: ``posexplode(node_refs)`` keeps each ref's position, an
equi-join on node id attaches coordinates, and an ordered
``array_agg`` (sorted by position inside the group) rebuilds the ring —
all shuffles are on the node-id / way-id keys, no per-row Python.
``sources/osm_xml.to_existing_table`` shapes the rings as existing-OSM
rows, and ``extract.existing_to_tables`` derives the buildings schema
from them (bbox, centroid, area, cell cover), as for every other
existing-state source.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def resolve_rings(nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """ways(id, node_refs, tags) + nodes(id, lat, lon) →
    (id, tags, ring_lats, ring_lons) with vertices in ref order.

    Ways referencing a missing node are DROPPED (count them upstream if
    needed) — a partial ring is not a polygon.
    """
    refs = ways.select(
        F.col("id").alias("way_id"), "tags",
        F.posexplode("node_refs").alias("pos", "node_id"),
        F.size("node_refs").alias("n_refs"),
    )
    # a node id defined in several input files (shared border nodes in
    # a multi-county .osm glob) would otherwise duplicate ref rows and
    # make size(_ordered) exceed n_refs, silently discarding a fully
    # resolvable way — dedupe the nodes side first
    joined = refs.join(
        nodes.select(F.col("id").alias("node_id"), "lat", "lon")
        .dropDuplicates(["node_id"]),
        "node_id",
    )
    return (
        joined.groupBy("way_id", "n_refs")
        .agg(
            F.first("tags").alias("tags"),
            F.sort_array(
                F.collect_list(F.struct("pos", "lat", "lon"))
            ).alias("_ordered"),
        )
        .filter(F.size("_ordered") == F.col("n_refs"))  # drop partial rings
        .select(
            F.col("way_id").alias("id"),
            "tags",
            F.transform("_ordered", lambda s: s["lat"]).alias("ring_lats"),
            F.transform("_ordered", lambda s: s["lon"]).alias("ring_lons"),
        )
    )


def resolve_multipolygons(nodes: DataFrame, ways: DataFrame,
                          relations: DataFrame) -> DataFrame:
    """OSM multipolygon relations → polygon rows (id, tags, ring_lats,
    ring_lons, hole_lats, hole_lons) — the §8.1 ext model (one closed
    outer way + n closed inner ways; relations whose outer is split
    across several ways are out of scope and dropped — count upstream).

    Fully distributed: members are exploded with their roles, joined to
    the resolved ring table on way id (J7), and regrouped per relation.
    The shuffle keys are way ids / relation ids — no driver collection,
    unlike the county-boundary assembler below (which stitches ONE
    small object and may chain split ways).

    Only ``type=multipolygon`` relations qualify: boundary relations
    also use outer/inner roles, and resolving one here would turn a
    county boundary into a giant phantom building (whose bbox cover
    then trips MAX_COVER_CELLS and aborts the merge). Members are
    restricted to way-typed refs when the relations table carries
    ``member_types`` (node/way id spaces overlap in OSM)."""
    rings = resolve_rings(nodes, ways)
    mp_rels = relations.filter(F.col("tags")["type"] == "multipolygon")
    zip_cols = ["member_refs", "member_roles"]
    has_types = "member_types" in relations.columns
    if has_types:
        zip_cols.append("member_types")
    members = mp_rels.select(
        F.col("id").alias("rel_id"),
        F.col("tags").alias("rel_tags"),
        F.explode(F.arrays_zip(*zip_cols)).alias("m"),
    ).select(
        "rel_id", "rel_tags",
        F.col("m.member_refs").alias("way_id"),
        F.col("m.member_roles").alias("role"),
        *([F.col("m.member_types").alias("mtype")] if has_types else []),
    ).filter(F.col("role").isin("outer", "inner"))
    if has_types:
        members = members.filter(F.col("mtype") == "way").drop("mtype")
    joined = members.join(
        rings.select(
            F.col("id").alias("way_id"),
            "ring_lats", "ring_lons",
        ),
        "way_id",
    ).filter(
        # closed rings only: first vertex == last vertex
        (F.size("ring_lats") >= 4)
        & (F.element_at("ring_lats", 1) == F.element_at("ring_lats", -1))
        & (F.element_at("ring_lons", 1) == F.element_at("ring_lons", -1))
    )
    grouped = joined.groupBy("rel_id").agg(
        F.first("rel_tags").alias("tags"),
        F.sort_array(F.collect_list(F.when(F.col("role") == "outer", F.struct(
            "way_id", "ring_lats", "ring_lons")))).alias("_outers"),
        F.sort_array(F.collect_list(F.when(F.col("role") == "inner", F.struct(
            "way_id", "ring_lats", "ring_lons")))).alias("_inners"),
    )
    return (
        grouped.filter(F.size("_outers") == 1)  # single closed outer
        .select(
            F.col("rel_id").alias("id"),
            "tags",
            F.element_at("_outers", 1)["ring_lats"].alias("ring_lats"),
            F.element_at("_outers", 1)["ring_lons"].alias("ring_lons"),
            F.when(
                F.size("_inners") > 0,
                F.transform("_inners", lambda s: s["ring_lats"]),
            ).alias("hole_lats"),
            F.when(
                F.size("_inners") > 0,
                F.transform("_inners", lambda s: s["ring_lons"]),
            ).alias("hole_lons"),
        )
    )


def assemble_boundary_ring(nodes: DataFrame, ways: DataFrame,
                           relations: DataFrame, rel_id: int,
                           role: str = "outer"):
    """Assemble a boundary relation's member ways into one closed ring
    (reference behavior: the county boundary arrives as a relation of
    ordered-or-not way segments).

    A boundary is ONE small object, so the member polylines are
    collected to the driver and stitched there by endpoint matching
    (each segment joined forward or reversed); the result feeds
    operators/boundary.filter_in_boundary as plain numpy arrays.
    Raises if the members do not close into a single ring.
    """
    rel = relations.filter(F.col("id") == rel_id).collect()
    if not rel:
        raise ValueError(f"relation {rel_id} not found")
    members = [
        m for m, r in zip(rel[0]["member_refs"], rel[0]["member_roles"])
        if r == role
    ]
    if not members:
        raise ValueError(f"relation {rel_id} has no '{role}' members")

    segs = {}
    rows = resolve_rings(
        nodes, ways.filter(F.col("id").isin([int(m) for m in members]))
    ).collect()
    for r in rows:
        segs[int(r["id"])] = (
            np.asarray(r["ring_lats"], dtype=np.float64),
            np.asarray(r["ring_lons"], dtype=np.float64),
        )
    missing = [m for m in members if int(m) not in segs]
    if missing:
        raise ValueError(f"member ways unresolved (missing nodes?): {missing}")

    first = segs.pop(int(members[0]))
    chain_lat, chain_lon = list(first[0]), list(first[1])
    while segs:
        end = (chain_lat[-1], chain_lon[-1])
        for wid, (sla, slo) in list(segs.items()):
            if (sla[0], slo[0]) == end:
                chain_lat.extend(sla[1:]); chain_lon.extend(slo[1:])
            elif (sla[-1], slo[-1]) == end:
                chain_lat.extend(sla[-2::-1]); chain_lon.extend(slo[-2::-1])
            else:
                continue
            del segs[wid]
            break
        else:
            raise ValueError(
                f"boundary does not chain: open end {end}, remaining {sorted(segs)}"
            )
    if (chain_lat[0], chain_lon[0]) != (chain_lat[-1], chain_lon[-1]):
        raise ValueError("assembled boundary is not closed")
    return np.asarray(chain_lat), np.asarray(chain_lon)
