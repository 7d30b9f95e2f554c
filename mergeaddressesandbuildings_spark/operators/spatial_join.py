"""J1/J2: the distributed spatial join (SURVEY.md §2.3; BASELINE.json:6).

Two physical paths with bit-identical winners
(tests/test_join_strategies.py). :func:`broadcast_index_for` picks one
from what it can observe, the building count against ``broadcast_max``:

- **broadcast index** (J6, small building side): the buildings become a
  numpy index (flattened rings, bboxes, a sorted fine-cell bbox cover)
  shipped once per executor as a Spark broadcast variable. Addresses
  are never shuffled; a mapInPandas kernel finds each address's
  candidates by binary search on the cover and runs the exact PIP /
  distance test.
- **fine-cell pair-join** (the shuffle path, corpus scale): the
  partition-based spatial merge join (PAPERS.md, EDBT 2020). Addresses
  are keyed by their fine (``REFINE_INDEX_LEVEL``) Morton cell — for
  kNN, the 3×3 neighborhood pruned to the cutoff — and buildings are
  exploded to their bbox-cover cells. Catalyst sees a plain equi-join
  plus a bbox predicate in the JVM; the exact geometry test runs per
  candidate pair in a mapInPandas Arrow kernel.
- **skew**: the pair-join has no per-cell group, so nothing can outgrow
  an executor. A hot urban cell is ordinary join skew, and AQE's
  skew-join split divides it at the level of candidate pairs — the
  balancing the EDBT paper argues for.
- kNN candidate expansion covers the 3×3 fine-cell neighborhood, valid
  while cutoff ≤ one fine-cell width (§8.5; asserted at plan build).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.functions import cells, cells_sql, geom

CAND_SCHEMA = T.StructType(
    [
        T.StructField("addr_id", T.LongType(), False),
        T.StructField("building_id", T.LongType(), False),
        T.StructField("dist_m", T.DoubleType(), False),
        T.StructField("area_m2", T.DoubleType(), False),
    ]
)

_ADDR_KERNEL_COLS = ["addr_id", "lat", "lon"]
_BLD_INDEX_COLS = [
    "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
    "min_lat", "min_lon", "max_lat", "max_lon", "area_m2",
]


class BldIndex:
    """Broadcast building index (J6): plain numpy buffers — flattened
    rings, bboxes, and a sorted fine-cell cover for searchsorted
    candidate lookup. Pickles as raw buffers (fast to ship per task,
    unlike a pandas frame holding Python-list rings, whose per-task
    unpickle dominated the old broadcast path). The cover is at
    ``REFINE_INDEX_LEVEL``, the pair-join's level."""

    def __init__(self, buildings_pdf: pd.DataFrame):
        self.ids = buildings_pdf["building_id"].to_numpy(dtype=np.int64)
        self.areas = buildings_pdf["area_m2"].to_numpy(dtype=np.float64)
        self.min_lat = buildings_pdf["min_lat"].to_numpy(dtype=np.float64)
        self.min_lon = buildings_pdf["min_lon"].to_numpy(dtype=np.float64)
        self.max_lat = buildings_pdf["max_lat"].to_numpy(dtype=np.float64)
        self.max_lon = buildings_pdf["max_lon"].to_numpy(dtype=np.float64)
        self.flat_lat, self.flat_lon, self.ring_off, self.poly_off = (
            geom.flatten_polys(
                buildings_pdf["ring_lats"].to_numpy(),
                buildings_pdf["ring_lons"].to_numpy(),
                buildings_pdf["hole_lats"].to_numpy(),
                buildings_pdf["hole_lons"].to_numpy(),
            )
        )
        covers = cells.cover_bbox(
            self.min_lat, self.min_lon, self.max_lat, self.max_lon,
            config.REFINE_INDEX_LEVEL,
        )
        lens = np.fromiter((len(c) for c in covers), dtype=np.int64,
                           count=len(covers))
        cover_cells = (np.concatenate(covers) if len(covers)
                       else np.empty(0, dtype=np.int64))
        cover_rows = np.repeat(np.arange(len(covers), dtype=np.int64), lens)
        order = np.argsort(cover_cells, kind="stable")
        self.cover_cells = cover_cells[order]
        self.cover_rows = cover_rows[order]

    def candidates(self, qcells: np.ndarray, qpt: np.ndarray):
        """(query cell, query point) → candidate (point, building) pair
        arrays, via binary search on the sorted cover."""
        lo = np.searchsorted(self.cover_cells, qcells, "left")
        hi = np.searchsorted(self.cover_cells, qcells, "right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total == 0:
            e = np.empty(0, dtype=np.int64)
            return e, e
        excl = np.zeros(len(qcells), dtype=np.int64)
        np.cumsum(cnt[:-1], out=excl[1:])
        local = np.arange(total, dtype=np.int64) - np.repeat(excl, cnt)
        pos = np.repeat(lo, cnt) + local
        return np.repeat(qpt, cnt), self.cover_rows[pos]


def build_broadcast_index(buildings_pdf: pd.DataFrame) -> BldIndex:
    return BldIndex(buildings_pdf)


def broadcast_index_for(buildings: DataFrame,
                        broadcast_max: int) -> BldIndex | None:
    """The J6 decision: a building side of at most ``broadcast_max``
    rows becomes a broadcast index (no shuffle at all); a larger one
    gives None, and J1/J2 take the fine-cell pair-join."""
    if buildings.count() > broadcast_max:
        return None
    return build_broadcast_index(buildings.select(*_BLD_INDEX_COLS).toPandas())


def _broadcast_refine(addresses: DataFrame, index: BldIndex,
                      pair_fn) -> DataFrame:
    """Broadcast path (J6): the numpy index ships as a Spark broadcast
    variable (once per executor, torrent protocol on a cluster — never
    re-pickled per task in the closure); the address side is never
    shuffled. ``pair_fn(plat, plon, addr_ids, index)`` returns the
    candidate-pair output frame."""
    bc = addresses.sparkSession.sparkContext.broadcast(index)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for adf in batches:
            if adf.empty:
                continue
            out = pair_fn(
                adf["lat"].to_numpy(dtype=np.float64),
                adf["lon"].to_numpy(dtype=np.float64),
                adf["addr_id"].to_numpy(dtype=np.int64),
                idx,
            )
            if out is not None and not out.empty:
                yield out

    return addresses.select(*_ADDR_KERNEL_COLS).mapInPandas(run, schema=CAND_SCHEMA)


def _cand_frame(addr_ids: np.ndarray, building_ids: np.ndarray,
                areas: np.ndarray, dists: np.ndarray | None = None) -> pd.DataFrame:
    """Refine-kernel output rows (CAND_SCHEMA); ``dists`` None → PIP
    pairs at distance 0."""
    return pd.DataFrame(
        {
            "addr_id": addr_ids,
            "building_id": building_ids,
            "dist_m": (np.zeros(len(addr_ids), dtype=np.float64)
                       if dists is None else dists),
            "area_m2": areas,
        }
    )


def _probe_cells(plat: np.ndarray, plon: np.ndarray,
                 cutoff_m: float) -> tuple[np.ndarray, np.ndarray]:
    """kNN probe cells → (point index, fine cell): each point's 3×3
    fine-cell neighborhood (valid while cutoff ≤ one fine-cell width —
    asserted at plan build), pruned to the cells within ``cutoff_m``
    (conservative rect lower bound under the refine's own metric):
    typically 1–4 of the 9 survive, shrinking the candidate lookup
    proportionally."""
    fine = cells.encode(plat, plon, config.REFINE_INDEX_LEVEL)
    nb = cells.neighbors(fine).reshape(-1)  # (n*9,)
    qpt = np.repeat(np.arange(len(plat), dtype=np.int64), 9)
    b0, b1, b2, b3 = cells.cell_bounds(nb)
    near = cells.rect_dist_m(plat[qpt], plon[qpt], b0, b1, b2, b3) <= cutoff_m
    return qpt[near], nb[near]


def _pip_pairs(plat, plon, addr_ids, index: BldIndex) -> pd.DataFrame:
    """PIP over broadcast index: fine-cell lookup → bbox filter → one
    flattened-edge pair-PIP pass."""
    fine = cells.encode(plat, plon, config.REFINE_INDEX_LEVEL)
    pair_pt, pair_bld = index.candidates(fine, np.arange(len(plat), dtype=np.int64))
    keep = (
        (plat[pair_pt] >= index.min_lat[pair_bld])
        & (plat[pair_pt] <= index.max_lat[pair_bld])
        & (plon[pair_pt] >= index.min_lon[pair_bld])
        & (plon[pair_pt] <= index.max_lon[pair_bld])
    )
    pair_pt, pair_bld = pair_pt[keep], pair_bld[keep]
    hit = geom.pairs_points_in_polys(
        plat, plon, pair_pt, pair_bld,
        index.flat_lat, index.flat_lon, index.ring_off, index.poly_off,
    )
    pi, bi = pair_pt[hit], pair_bld[hit]
    return _cand_frame(addr_ids[pi], index.ids[bi], index.areas[bi])


def _knn_pairs(plat, plon, addr_ids, index: BldIndex, cutoff_m: float) -> pd.DataFrame:
    """kNN over broadcast index: pruned 3×3 fine-neighborhood lookup
    (:func:`_probe_cells`) → padded-bbox filter → one flattened-edge
    pair-distance pass."""
    qpt, qcells = _probe_cells(plat, plon, cutoff_m)
    pair_pt, pair_bld = index.candidates(qcells, qpt)
    # a building cover spanning several neighbor cells yields duplicate
    # pairs — dedupe with one sort so the distance pass runs once per pair
    key = pair_pt * np.int64(len(index.ids)) + pair_bld
    _, uidx = np.unique(key, return_index=True)
    pair_pt, pair_bld = pair_pt[uidx], pair_bld[uidx]

    pad_lat = cutoff_m / config.DEG_TO_M
    pad_lon = cutoff_m / (config.DEG_TO_M * np.cos(np.radians(plat[pair_pt])))
    keep = (
        (plat[pair_pt] >= index.min_lat[pair_bld] - pad_lat)
        & (plat[pair_pt] <= index.max_lat[pair_bld] + pad_lat)
        & (plon[pair_pt] >= index.min_lon[pair_bld] - pad_lon)
        & (plon[pair_pt] <= index.max_lon[pair_bld] + pad_lon)
    )
    pair_pt, pair_bld = pair_pt[keep], pair_bld[keep]
    d = geom.pairs_point_to_polys_dist_m(
        plat, plon, pair_pt, pair_bld,
        index.flat_lat, index.flat_lon, index.ring_off, index.poly_off,
    )
    ok = d <= cutoff_m
    pi, bi = pair_pt[ok], pair_bld[ok]
    return _cand_frame(addr_ids[pi], index.ids[bi], index.areas[bi], d[ok])


def _pair_join_candidates(addresses: DataFrame, buildings: DataFrame,
                          knn_cutoff_m: float | None) -> DataFrame:
    """Shuffle path for J1/J2 at corpus scale: a Catalyst equi-join
    on FINE-level cells (addresses at their cell — or its 3×3
    neighborhood for kNN — against exploded building bbox-cover cells),
    a bbox predicate in the JVM, then a per-PAIR Arrow refine via
    mapInPandas. No per-cell group exists, so there is no group
    that can outgrow an executor: skewed hot cells are ordinary join
    skew, which AQE's skew-join split handles. Shuffle volume carries
    each candidate pair's ring once; candidate counts stay near-linear
    because the fine cell (~1 km) bounds the match radius."""
    level = config.REFINE_INDEX_LEVEL
    a = addresses.select("addr_id", "lat", "lon")
    if knn_cutoff_m is None:
        a = a.withColumn(
            "fcell", cells_sql.cell_expr(F.col("lat"), F.col("lon"), level)
        )
        bbox_pred = (
            (F.col("lat") >= F.col("b_min_lat")) & (F.col("lat") <= F.col("b_max_lat"))
            & (F.col("lon") >= F.col("b_min_lon")) & (F.col("lon") <= F.col("b_max_lon"))
        )
    else:
        # the pruned 3×3 fine-neighborhood (:func:`_probe_cells`) as
        # the join's probe side. Arrow kernel, not an all-expression
        # explode (janino method-size limit).
        def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                if b.empty:
                    continue
                qpt, qcells = _probe_cells(b["lat"].to_numpy(np.float64),
                                           b["lon"].to_numpy(np.float64),
                                           knn_cutoff_m)
                rep = b.iloc[qpt].reset_index(drop=True)
                rep["fcell"] = qcells
                yield rep

        a = a.mapInPandas(
            expand, schema="addr_id long, lat double, lon double, fcell long"
        )
        pad_lat = F.lit(knn_cutoff_m / config.DEG_TO_M)
        pad_lon = F.lit(knn_cutoff_m) / (
            F.lit(config.DEG_TO_M) * F.cos(F.radians(F.col("lat")))
        )
        bbox_pred = (
            (F.col("lat") >= F.col("b_min_lat") - pad_lat)
            & (F.col("lat") <= F.col("b_max_lat") + pad_lat)
            & (F.col("lon") >= F.col("b_min_lon") - pad_lon)
            & (F.col("lon") <= F.col("b_max_lon") + pad_lon)
        )

    b = buildings.select(
        "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
        "area_m2",
        F.col("min_lat").alias("b_min_lat"), F.col("min_lon").alias("b_min_lon"),
        F.col("max_lat").alias("b_max_lat"), F.col("max_lon").alias("b_max_lon"),
    ).withColumn(
        "fcell",
        F.explode(
            cells_sql.bbox_cover_cells_expr(
                F.col("b_min_lat"), F.col("b_min_lon"),
                F.col("b_max_lat"), F.col("b_max_lon"), level,
            )
        ),
    )

    # a building cover spanning several (neighbor) cells can duplicate a
    # pair; identical rows are harmless for the top-1 window, so no
    # dedup shuffle here
    cand = a.join(b, "fcell").filter(bbox_pred).select(
        "addr_id", "lat", "lon",
        "building_id", "ring_lats", "ring_lons", "hole_lats", "hole_lons",
        "area_m2",
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            flat_lat, flat_lon, ring_off, poly_off = geom.flatten_polys(
                pdf["ring_lats"].to_numpy(), pdf["ring_lons"].to_numpy(),
                pdf["hole_lats"].to_numpy(), pdf["hole_lons"].to_numpy(),
            )
            idx = np.arange(len(pdf), dtype=np.int64)
            plat = pdf["lat"].to_numpy(dtype=np.float64)
            plon = pdf["lon"].to_numpy(dtype=np.float64)
            if knn_cutoff_m is None:
                d = None
                sel = np.flatnonzero(geom.pairs_points_in_polys(
                    plat, plon, idx, idx, flat_lat, flat_lon, ring_off, poly_off
                ))
            else:
                d = geom.pairs_point_to_polys_dist_m(
                    plat, plon, idx, idx, flat_lat, flat_lon, ring_off, poly_off
                )
                sel = np.flatnonzero(d <= knn_cutoff_m)
                d = d[sel]
            if len(sel):
                yield _cand_frame(
                    pdf["addr_id"].to_numpy(dtype=np.int64)[sel],
                    pdf["building_id"].to_numpy(dtype=np.int64)[sel],
                    pdf["area_m2"].to_numpy(dtype=np.float64)[sel], d,
                )

    return cand.mapInPandas(refine, schema=CAND_SCHEMA)


def pip_candidates(addresses: DataFrame, buildings: DataFrame,
                   broadcast_index: BldIndex | None = None) -> DataFrame:
    """J1: (addr, containing-building) candidate pairs — over the
    broadcast index when one is given (:func:`broadcast_index_for`),
    else by the fine-cell pair-join."""
    if broadcast_index is not None:
        return _broadcast_refine(addresses, broadcast_index, _pip_pairs)
    return _pair_join_candidates(addresses, buildings, knn_cutoff_m=None)


def knn_candidates(addresses: DataFrame, buildings: DataFrame,
                   cutoff_m: float = config.KNN_CUTOFF_M,
                   level: int = config.CELL_LEVEL,
                   broadcast_index: BldIndex | None = None) -> DataFrame:
    """J2: (addr, building, dist) candidate pairs within ``cutoff_m``
    over each address's 3×3 fine-cell neighborhood (T3); same path
    choice as :func:`pip_candidates`. Both paths search at
    ``REFINE_INDEX_LEVEL``, so ``level`` is not read; it is still
    accepted so existing keyword callers keep working. A pair can
    surface more than once (a building cover spanning several neighbor
    cells) with identical rows — harmless for the top-1 window; callers
    needing distinct pairs dedupe."""
    assert cells.min_cell_width_m(config.REFINE_INDEX_LEVEL, 80.0) >= cutoff_m, (
        "kNN cutoff exceeds one fine-cell width — neighborhood incomplete (§8.5)"
    )
    if broadcast_index is not None:
        pair_fn = lambda plat, plon, ids, idx: _knn_pairs(plat, plon, ids, idx, cutoff_m)
        return _broadcast_refine(addresses, broadcast_index, pair_fn)
    return _pair_join_candidates(addresses, buildings, knn_cutoff_m=cutoff_m)


def _pick_winner(cands: DataFrame, order_col: str, method: str) -> DataFrame:
    """Top-1 candidate per address by ``order_col``, tie → lowest
    building_id."""
    w = Window.partitionBy("addr_id").orderBy(F.asc(order_col), F.asc("building_id"))
    return (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("addr_id", "building_id", F.lit(method).alias("method"),
                F.col("dist_m"))
    )


def pick_pip_winner(cands: DataFrame) -> DataFrame:
    """§8.4(1): smallest area, tie → lowest building_id."""
    return _pick_winner(cands, "area_m2", config.METHOD_PIP)


def pick_knn_winner(cands: DataFrame) -> DataFrame:
    """§8.4(2): nearest, tie → lowest building_id."""
    return _pick_winner(cands, "dist_m", config.METHOD_KNN)


def pick_knn_topk(cands: DataFrame, k: int,
                  unique_pairs: bool = False) -> DataFrame:
    """Generic k-nearest (k ≥ 1) with the §8.4 deterministic tie order —
    the reference needs only k=1 (pick_knn_winner), but the candidate
    generation is k-agnostic (every building within the cutoff surfaces
    as a candidate), so top-k is just a wider window. Candidates can
    arrive duplicated (a cover spanning several neighbor cells), so
    they are deduped per (addr, building) first — row_number over
    identical rows would otherwise consume ranks.

    ``unique_pairs=True`` is the caller's promise that each
    (addr_id, building_id) appears at most once — true by construction
    for ``flat_grid_candidates`` output (the probe side carries exactly
    one grid cell, the neighbor copies live on the build side, so every
    pair joins exactly once). The promise removes the dedup groupBy,
    which on unique input is a no-op that still costs a full shuffle +
    hash aggregate of the candidate mass BEFORE the window's own
    shuffle — one exchange instead of two on the operator's dominant
    data volume (measured on knn_topk_suppliers, BENCH/BASELINE.md r5).
    Results are identical on unique input (asserted in
    tests/test_spatial_join.py)."""
    w = Window.partitionBy("addr_id").orderBy(F.asc("dist_m"), F.asc("building_id"))
    dedup = cands if unique_pairs else cands.groupBy(
        "addr_id", "building_id").agg(
        F.min("dist_m").alias("dist_m"), F.first("area_m2").alias("area_m2")
    )
    return (
        dedup.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("addr_id", "building_id", "knn_rank", "dist_m")
    )


def flat_grid_candidates(a: DataFrame, b: DataFrame,
                         cutoff_m: float, cos_lat0: float,
                         a_lat: str = "a_lat", a_lon: str = "a_lon",
                         b_lat: str = "b_lat", b_lon: str = "b_lon",
                         broadcast_b: bool = False) -> DataFrame:
    """Point↔point candidate pairs within ``cutoff_m`` as a pure
    EQUI-JOIN (J2 family, point-point specialization): bucket both
    sides on a flat-projection grid whose cell size equals the cutoff,
    explode the (smaller) ``b`` side to its 3×3 neighborhood, and join
    on the grid key. Any pair within the cutoff differs by at most one
    cell per axis, so the neighborhood is complete; the exact
    ``dist_m <= cutoff_m`` refine keeps results identical to the
    brute-force formulation while the plan stays a shuffle/broadcast
    HASH join — no nested loop, no cartesian, scales to both sides
    being large.

    ``cos_lat0`` is the flat-projection latitude factor (small-area
    assumption, same contract as geom_sql.flat_dist_m_expr — the
    distance is bit-exact cross-engine)."""
    from mergeaddressesandbuildings_spark.functions import geom_sql

    dlat = cutoff_m / config.DEG_TO_M
    dlon = cutoff_m / (config.DEG_TO_M * cos_lat0)
    offsets = F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
        for i in (-1, 0, 1) for j in (-1, 0, 1)
    ])
    b9 = (
        b.withColumn("_o", F.explode(offsets))
        .withColumn("_gx", F.floor(F.col(b_lat) / F.lit(dlat)) + F.col("_o.i"))
        .withColumn("_gy", F.floor(F.col(b_lon) / F.lit(dlon)) + F.col("_o.j"))
        .drop("_o")
    )
    a_g = (
        a.withColumn("_gx", F.floor(F.col(a_lat) / F.lit(dlat)))
        .withColumn("_gy", F.floor(F.col(a_lon) / F.lit(dlon)))
    )
    d = geom_sql.flat_dist_m_expr(
        F.col(a_lat), F.col(a_lon), F.col(b_lat), F.col(b_lon),
        F.lit(cos_lat0),
    )
    if broadcast_b:
        # small b side: broadcast the exploded buckets — the join stays
        # a HASH join (one probe per a-row) and the big side never
        # shuffles; with broadcast_b=False both sides shuffle on the
        # grid key (the both-sides-large path).
        b9 = F.broadcast(b9)
    return (
        a_g.join(b9, ["_gx", "_gy"])
        .withColumn("dist_m", d)
        .filter(F.col("dist_m") <= F.lit(cutoff_m))
        .drop("_gx", "_gy")
    )
