"""J3/J4: dedupe of new elements against existing OSM state
(SURVEY.md §2.3 J3, J4).

- J3 (buildings): a new footprint overlapping an existing way is
  dropped. Cell-cover equi-join + bbox prefilter + exact
  ring-overlap kernel → left_anti on the hit list.
- J4 (addresses): a new address with the same normalized
  (street, housenumber) within ε meters of an existing address node is
  dropped. Exact part is a plain equi-join on the normalized key — the
  existing side is tiny relative to the corpus, so it is broadcast; the
  ε-proximity refine is a column expression (haversine on builtins —
  stays in whole-stage codegen, no Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.functions import cells_sql, geom


def street_norm_col(c: F.Column) -> F.Column:
    """§8.3 street normalization as a pure column expression (F5)."""
    s = F.upper(F.trim(F.regexp_replace(c, r"\s+", " ")))
    parts = F.split(s, " ")
    n = F.size(parts)
    last = F.element_at(parts, -1)
    expanded = last
    for abbr, full in config.STREET_SUFFIX_EXPANSION.items():
        expanded = F.when(last == abbr, F.lit(full)).otherwise(expanded)
    head = F.array_join(F.slice(parts, F.lit(1), n - 1), " ")
    return F.when(n > 1, F.concat(head, F.lit(" "), expanded)).otherwise(expanded)


def hn_norm_col(c: F.Column) -> F.Column:
    return F.upper(F.trim(c))


def haversine_m_col(lat1, lon1, lat2, lon2) -> F.Column:
    """F1 as a builtin-function column expression (JVM-side, codegen)."""
    rad = 3.141592653589793 / 180.0
    dphi = (lat2 - lat1) * rad / 2.0
    dlmb = (lon2 - lon1) * rad / 2.0
    a = F.pow(F.sin(dphi), 2) + F.cos(lat1 * rad) * F.cos(lat2 * rad) * F.pow(F.sin(dlmb), 2)
    return 2.0 * config.EARTH_RADIUS_M * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def dedupe_addresses(addresses: DataFrame, existing_nodes: DataFrame) -> DataFrame:
    """J4: drop new addresses duplicating an existing OSM address node."""
    a = addresses.withColumn("_st", street_norm_col(F.col("street"))) \
                 .withColumn("_hn", hn_norm_col(F.col("housenumber")))
    e = existing_nodes.select(
        street_norm_col(F.col("street")).alias("_st"),
        hn_norm_col(F.col("housenumber")).alias("_hn"),
        F.col("lat").alias("_elat"),
        F.col("lon").alias("_elon"),
    )
    hits = (
        a.join(F.broadcast(e), ["_st", "_hn"], "inner")
        .filter(haversine_m_col(F.col("lat"), F.col("lon"), F.col("_elat"), F.col("_elon"))
                <= config.ADDR_DEDUPE_EPS_M)
        .select("addr_id")
        .distinct()
    )
    return a.join(hits, "addr_id", "left_anti").drop("_st", "_hn")


def _overlap_pairs_kernel(batches):
    """Exact ring-overlap refine over candidate pairs — ONE flattened
    numpy pass per Arrow batch (geom.pairs_polys_overlap), no Python
    loop per pair. Candidates arrive already bbox-filtered and
    fine-cell co-located (JVM side), so the heavy O(new × existing)
    candidate generation never reaches Python."""
    for pdf in batches:
        if pdf.empty:
            continue
        a_lat, a_lon, a_roff, a_poff = geom.flatten_polys(
            pdf["ring_lats"].to_numpy(), pdf["ring_lons"].to_numpy(),
            pdf["hole_lats"].to_numpy(), pdf["hole_lons"].to_numpy(),
        )
        b_lat, b_lon, b_roff, b_poff = geom.flatten_polys(
            pdf["e_ring_lats"].to_numpy(), pdf["e_ring_lons"].to_numpy(),
            pdf["e_hole_lats"].to_numpy(), pdf["e_hole_lons"].to_numpy(),
        )
        idx = np.arange(len(pdf), dtype=np.int64)
        hit = geom.pairs_polys_overlap(
            idx, idx, a_lat, a_lon, a_roff, a_poff,
            b_lat, b_lon, b_roff, b_poff,
        )
        if hit.any():
            ids = np.unique(pdf["building_id"].to_numpy(dtype=np.int64)[hit])
            yield pd.DataFrame({"building_id": ids})


def dedupe_buildings(new_buildings: DataFrame, existing_ways: DataFrame) -> DataFrame:
    """J3: drop new buildings overlapping an existing way footprint.

    Candidate generation is a plain Catalyst equi-join on a FINE-level
    (~300 m) bbox-cover cell plus a bbox-overlap column predicate — all
    JVM/codegen, fully parallel, skew-free (building covers are 1–4
    cells regardless of how urban the area is). Only the surviving
    candidate pairs cross into Python for the exact ring-overlap test.
    A coarse cogroup variant (whole level-12 cells into one kernel call)
    was 10× slower on urban data: one ~10 km cell holds the entire
    corpus slice, serializing the work into a handful of groups."""
    def cover(df: DataFrame, prefix: str = "") -> DataFrame:
        p = (lambda c: f"{prefix}{c}") if prefix else (lambda c: c)
        return df.withColumn(
            "cell",
            F.explode(
                cells_sql.bbox_cover_cells_expr(
                    F.col(p("min_lat")), F.col(p("min_lon")),
                    F.col(p("max_lat")), F.col(p("max_lon")),
                    config.DEDUPE_JOIN_LEVEL,
                )
            ),
        )

    n_exp = cover(new_buildings.select(
        "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
        "min_lat", "min_lon", "max_lat", "max_lon",
    ))
    e_exp = cover(existing_ways.select(
        F.col("building_id").alias("e_id"),
        F.col("ring_lats").alias("e_ring_lats"),
        F.col("ring_lons").alias("e_ring_lons"),
        F.col("hole_lats").alias("e_hole_lats"),
        F.col("hole_lons").alias("e_hole_lons"),
        F.col("min_lat").alias("e_min_lat"),
        F.col("min_lon").alias("e_min_lon"),
        F.col("max_lat").alias("e_max_lat"),
        F.col("max_lon").alias("e_max_lon"),
    ), prefix="e_")

    cand = (
        n_exp.join(e_exp, "cell")
        .filter(
            (F.col("min_lat") <= F.col("e_max_lat"))
            & (F.col("max_lat") >= F.col("e_min_lat"))
            & (F.col("min_lon") <= F.col("e_max_lon"))
            & (F.col("max_lon") >= F.col("e_min_lon"))
        )
        .dropDuplicates(["building_id", "e_id"])
        .select("building_id", "ring_lats", "ring_lons",
                "hole_lats", "hole_lons",
                "e_ring_lats", "e_ring_lons", "e_hole_lats", "e_hole_lons")
    )
    hits = cand.mapInPandas(_overlap_pairs_kernel, schema="building_id long").distinct()
    return new_buildings.join(hits, "building_id", "left_anti")
