"""The flagship plan: full address↔building merge pipeline
(SURVEY.md §3.2 E3; BASELINE.json:6 north_star).

    pages ──F9──► extract (S3) ──► addresses ──J4 dedupe──┐
                              └──► new buildings ──J3─────┤
    existing_osm ─────────────► existing tables ──────────┤
                                                          ▼
                      buildings universe = survivors ∪ existing ways
                                                          │
        J1 PIP fine-cell join ───► winners ──┐            │
        J2 kNN on the unmatched remainder ───┤◄───────────┘
                                             ▼
              decisions (A1/J5) ──► assignments + output sets
                                             ▼
                    tiling (T4/T5) ──► tile column, budgeted

Every stage is a DataFrame; the only Python crossings are the Arrow
kernels (J3 ring-overlap refine, PIP/kNN refine and, on the shuffle
path, the kNN probe-cell expansion): extraction and the tile encode are
JVM column expressions. Each stage is defined once here —
:func:`fan_out`, :func:`element_stage` (its split/P3/dedupe part is
:func:`new_elements`), :func:`winner_stage`, :func:`output_stage` and
the pinned :data:`FINGERPRINT` — and :func:`run_merge` and
plans/incremental.py compose the same functions, so the incremental
path cannot drift from the full merge.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark import StorageLevel

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.operators import (
    decisions as dec,
    dedupe,
    extract,
    spatial_join as sj,
    tiling,
)

# order-independent, so parallelism-invariant and comparable across jobs
FINGERPRINT = ("bit_xor(xxhash64(addr_id, coalesce(building_id, -1), "
               "method, decision, tile))")


@dataclass
class MergeResult:
    addresses: DataFrame
    buildings: DataFrame
    assignments: DataFrame
    sets: DataFrame
    tiles: DataFrame  # assignments+buildings with tile column
    tile_map: DataFrame  # distinct fine-cell → tile map (computed ONCE
    # and cached — the caller unpersists it; consumers that know a
    # row's coordinates join this small map directly — jobs/merge.py)


def _lineage_barrier(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to scratch parquet and re-read it — truncating plan
    lineage. The merge DAG fans each intermediate table into several
    consumers; without a barrier every downstream action re-analyzes the
    FULL upstream logical plan (hundreds of operators), and on this
    pipeline the driver-side planning cost dominates small-scale runs
    (~4-8 s per action measured at 20k pages even with every input
    cached). The barriered tables (addresses, buildings, assignments)
    are orders of magnitude smaller than the raw pages input, so at
    cluster scale the extra write is modest and buys O(1) plan size for
    the whole downstream DAG plus restartability. (`localCheckpoint`
    would do the same but materializes via the non-AQE `.rdd` path,
    measured ~7x slower — parquet round-trip is the fast barrier.)"""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df`` spread over 2× the session's parallelism when it has fewer
    partitions than cores. Parquet splitting is SIZE-based: a compact
    page scan, or a semi-join that inherits a small table's file count,
    yields far fewer partitions than cores, and the CPU-heavy Arrow
    kernels downstream would run almost serial. The small shuffle is
    repaid by the first kernel stage."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par * 2)
    return df


def new_elements(records: DataFrame, ex_nodes: DataFrame | None,
                 ex_ways: DataFrame | None,
                 county_ring: tuple | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Extracted records → (addresses, new buildings) that survive the
    P3 county filter and the J4/J3 dedupe against the existing tables
    (no dedupe when ``ex_nodes`` is None)."""
    addresses, new_buildings = extract.split_records(records)

    if county_ring is not None:
        # P3: drop elements outside the county polygon (reference
        # behavior) — bbox pushdown + exact PIP refine
        from mergeaddressesandbuildings_spark.operators import boundary
        rlat, rlon = county_ring
        addresses = boundary.filter_in_boundary(addresses, rlat, rlon)
        new_buildings = boundary.filter_in_boundary(
            new_buildings, rlat, rlon,
            lat_col="centroid_lat", lon_col="centroid_lon",
        )

    if ex_nodes is not None:
        addresses = dedupe.dedupe_addresses(addresses, ex_nodes)
        new_buildings = dedupe.dedupe_buildings(new_buildings, ex_ways)
    return addresses, new_buildings


def element_stage(records: DataFrame, existing_osm: DataFrame | None,
                  level: int, county_ring: tuple | None = None
                  ) -> tuple[DataFrame, DataFrame, DataFrame | None,
                             DataFrame | None]:
    """Extracted records (+ existing OSM state) → (addresses, buildings
    universe = new-building survivors ∪ existing ways, existing address
    nodes or None, the persisted existing ways or None — the caller
    unpersists them once the buildings are written)."""
    ex_nodes = ex_ways = None
    if existing_osm is not None:
        ex_nodes, ex_ways = extract.existing_to_tables(existing_osm, level=level)
        ex_ways = ex_ways.persist(StorageLevel.MEMORY_AND_DISK)
    addresses, buildings = new_elements(records, ex_nodes, ex_ways, county_ring)
    if ex_ways is not None:
        buildings = buildings.unionByName(ex_ways)
    return addresses, buildings, ex_nodes, ex_ways


def winner_stage(addresses: DataFrame, buildings: DataFrame,
                 knn_cutoff_m: float, broadcast_max: int
                 ) -> tuple[DataFrame, DataFrame]:
    """J1→J2 over (addresses, buildings) → (PIP winners, kNN winners),
    both persisted and materialized."""
    # J6: small building side → broadcast index, no shuffle at all.
    # (On a cluster this is the per-region fast path.)
    broadcast_idx = sj.broadcast_index_for(buildings, broadcast_max)

    pip = sj.pip_candidates(addresses, buildings, broadcast_index=broadcast_idx)
    # winners feed three consumers (unmatched anti-join, decisions,
    # output sets) — persist AND materialize eagerly: a lazily-persisted
    # frame referenced from several branches of one downstream job gets
    # recomputed per branch (parallel stage submission races the cache),
    # so each hot frame is counted once right after persist. The counts
    # are the materialization passes, not extra work.
    pip_winners = sj.pick_pip_winner(pip).persist(StorageLevel.MEMORY_AND_DISK)
    pip_winners.count()

    unmatched = addresses.join(pip_winners.select("addr_id"), "addr_id", "left_anti")
    knn = sj.knn_candidates(unmatched, buildings, cutoff_m=knn_cutoff_m,
                            broadcast_index=broadcast_idx)
    knn_winners = sj.pick_knn_winner(knn).persist(StorageLevel.MEMORY_AND_DISK)
    knn_winners.count()
    return pip_winners, knn_winners


def output_stage(assignments: DataFrame, buildings: DataFrame,
                 budget: int, level: int
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialized assignments → (output sets, cached fine-cell → tile
    map, tiles)."""
    sets = dec.output_sets(assignments, buildings)
    points = tiling.tile_points(assignments, buildings)
    tm = tiling.tile_map(points, budget=budget, level=level)
    return sets, tm, tiling.assign_tiles(points, tm)


def fingerprint(tiled: DataFrame) -> tuple[int, int, int]:
    """(:data:`FINGERPRINT`, rows, distinct tiles) of tiled assignments,
    in one action."""
    row = tiled.groupBy().agg(
        F.expr(FINGERPRINT).alias("fp"),
        F.count("*").alias("n"),
        F.countDistinct("tile").alias("nt"),
    ).collect()[0]
    return int(row["fp"]), int(row["n"]), int(row["nt"])


def run_merge(
    spark: SparkSession,
    pages: DataFrame,
    existing_osm: DataFrame | None = None,
    level: int = config.CELL_LEVEL,
    budget: int = config.TILE_MAX_ELEMS,
    broadcast_max: int = config.BROADCAST_BUILDINGS_MAX,
    county_ring: tuple | None = None,
    barrier_dir: str = "auto",
) -> MergeResult:
    """See module docstring. ``barrier_dir``: scratch directory for
    lineage barriers (parquet write + re-read of the small intermediate
    tables). On a multi-node cluster it MUST be a shared filesystem
    path; ``"auto"`` creates a local temp dir, valid in local
    mode only and removed at interpreter exit."""
    pages = fan_out(spark, pages)
    if existing_osm is not None:
        existing_osm = fan_out(spark, existing_osm)

    if barrier_dir == "auto":
        barrier_dir = tempfile.mkdtemp(prefix="merge_barrier_")
        atexit.register(shutil.rmtree, barrier_dir, ignore_errors=True)

    records = extract.extract_records(pages, level=level)
    # materialize the extraction once: addresses & buildings both branch
    # from it, and persisting here keeps `html` out of every later scan.
    # NOT a parquet barrier: records still carries the page-sized
    # payload columns, and writing them to scratch parquet costs more
    # than the planning time the barrier saves (measured round 4 at
    # 20k pages/local[32]: parquet-barriered records pushed the merge
    # median from ~18 s to ~30 s). The plan-size cap happens at
    # barrier #1 below, where addresses/buildings are payload-free.
    records = records.persist(StorageLevel.MEMORY_AND_DISK)

    addresses, buildings, _, ex_ways = element_stage(records, existing_osm,
                                                     level, county_ring)

    # lineage barrier #1: addresses/buildings feed four downstream
    # consumers each (PIP, kNN, decisions, tiling) — cap the plan they
    # all inherit. This is also the cache-consistency barrier (parquet
    # is immutable, so the parallel stage submission race that
    # lazily-persisted frames suffer cannot occur).
    addresses = _lineage_barrier(spark, addresses, f"{barrier_dir}/addresses")
    buildings = _lineage_barrier(spark, buildings, f"{barrier_dir}/buildings")
    # everything downstream reads the barriers: release the caches
    # behind them (one session may run many merges)
    records.unpersist()
    if ex_ways is not None:
        ex_ways.unpersist()

    pip_winners, knn_winners = winner_stage(addresses, buildings,
                                            config.KNN_CUTOFF_M, broadcast_max)

    assignments = dec.assign(addresses, pip_winners, knn_winners, buildings)
    # lineage barrier #2: assignments fan into output sets, tiling, and
    # the caller's writes.
    assignments = _lineage_barrier(spark, assignments, f"{barrier_dir}/assignments")
    pip_winners.unpersist()
    knn_winners.unpersist()
    sets, tm, tiles = output_stage(assignments, buildings, budget, level)

    return MergeResult(
        addresses=addresses,
        buildings=buildings,
        assignments=assignments,
        sets=sets,
        tiles=tiles,
        tile_map=tm,
    )
