"""T4/T5: adaptive tile split and tile membership (SURVEY.md §2.7,
§8.5/§8.7).

Tile universe = one point per output element: each address (assignment)
at its coordinates, each building at its ring centroid. Starting at
CELL_LEVEL, any tile whose element count exceeds the budget splits into
its 4 Morton children (prefix-coded ids make child = 4*parent+q);
iterate until no tile exceeds the budget or MAX_CELL_LEVEL.

Scale notes:
- the encode is a pure column expression (cells_sql) — whole-stage
  codegen, no Python round trip;
- the recursive split is computed in ONE plan (see
  :func:`tile_map`): a single data-cardinality shuffle plus small
  aggregations over the distinct-fine-cell counts. No driver loop, no
  collected ``isin`` lists (at 10^12 elements the over-budget set can
  reach ~10^8 ids and must stay distributed), no expression-tree growth
  (an earlier nested-``when``-per-round variant OOMed janino codegen);
- deterministic: the tile of a point is a pure function of global
  counts, so the result is parallelism-invariant (SURVEY.md §5.2-5).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.functions import cells_sql


def assign_tiles(points: DataFrame, tm: DataFrame) -> DataFrame:
    """points(elem_id, lat, lon, ...) → same + ``tile`` column, joined
    through the fine-cell → tile map ``tm`` (:func:`tile_map`)."""
    x, y = cells_sql.xy_expr(F.col("lat"), F.col("lon"), config.MAX_CELL_LEVEL)
    df = points.withColumn("_x", x).withColumn("_y", y)
    return df.join(tm, ["_x", "_y"]).drop("_x", "_y")


def tile_map(points: DataFrame,
             budget: int = config.TILE_MAX_ELEMS,
             level: int = config.CELL_LEVEL) -> DataFrame:
    """The fine-cell → tile mapping ``(_x, _y, tile)`` for the points
    universe, persisted and materialized: the caller owns its one cache
    and unpersists it after its last read. A consumer that already
    knows a row's coordinates joins this distinct-cell map directly
    (:func:`assign_tiles`) instead of joining full point rows back by
    element id.

    Single-pass formulation of the recursive split. Cell counts are
    monotone non-increasing down the hierarchy (a child never holds more
    points than its parent), so the iterative "split over-budget tiles
    one level per round" fixpoint is exactly: *tile(p) = the first
    ancestor of p's MAX_CELL_LEVEL cell — scanning from the base level
    down — whose total count ≤ budget, else the MAX_CELL_LEVEL cell
    itself*. That closed form needs no driver-side loop:

      1. one hash-agg: count per fine cell (the only shuffle that
         touches the data's cardinality);
      2. ancestor counts: explode each fine cell's ancestor chain
         (prefix-coded Morton ⇒ parent = cell >> 2) over the COUNTS
         DataFrame — at most (MAX_CELL_LEVEL−level+1) ×
         distinct-fine-cells rows, tiny relative to the data;
      3. first under-budget ancestor per fine cell (left_anti against
         the over-budget set + min(pos)).

    One action, no collect, no localCheckpoint, no per-round jobs, and
    parallelism-invariant (pure function of global counts). A
    previous per-round driver loop cost ~4 jobs/round and 17 s on a
    19k-row input; this plan runs in the noise.

    The map is KEYED by the raw fine-level (x, y) integer coords, not
    the Morton id: the big side then only evaluates two floor-divisions
    per row, and the 60-op Morton bit-spread runs once per DISTINCT
    cell on the aggregated (small) side — inlining that chain per join
    key per union branch overflowed janino's 64 KB method limit and
    dropped the whole tiling stage to interpreted execution (round-1
    bench tail)."""
    max_level = config.MAX_CELL_LEVEL
    n_lvls = max_level - level + 1
    x, y = cells_sql.xy_expr(F.col("lat"), F.col("lon"), max_level)
    df = points.withColumn("_x", x).withColumn("_y", y)
    chain = F.array(*[
        F.shiftright(F.col("_cmax"), 2 * (max_level - level - k))
        for k in range(n_lvls)
    ])
    counts = (
        df.groupBy("_x", "_y").agg(F.count("*").alias("_n"))
        .withColumn(
            "_cmax",
            cells_sql.cell_from_xy_expr(F.col("_x"), F.col("_y"), max_level),
        )
        .withColumn("_chain", chain)
    )
    # cache the distinct-cell counts: three consumers below (ancestor
    # totals, position scan, final join base) would otherwise each
    # inline the full points-union + aggregation subtree — re-running
    # the only data-cardinality shuffle up to 3× AND fusing ~15k lines
    # of generated code into one processNext(), which overflows
    # janino's 64 KB method limit and silently drops the stage to
    # interpreted execution. The counts table is per-DISTINCT-fine-cell
    # (orders of magnitude smaller than the points), so caching it is
    # cheap. AQE materializes it as its own query stage inside the
    # map's count below, which then releases it.
    counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    anc = (
        counts.select(F.explode("_chain").alias("_anc"), "_n")
        .groupBy("_anc").agg(F.sum("_n").alias("_t"))
    )
    over = anc.filter(F.col("_t") > budget).select("_anc")
    pos = counts.select(
        "_cmax", F.posexplode("_chain").alias("_pos", "_anc")
    )
    first_ok = (
        pos.join(over, "_anc", "left_anti")
        .groupBy("_cmax").agg(F.min("_pos").alias("_p"))
    )
    tm = (
        counts.join(first_ok, "_cmax", "left")
        .select(
            "_x", "_y",
            F.element_at(
                "_chain",
                (F.coalesce(F.col("_p"), F.lit(n_lvls - 1)) + 1).cast("int"),
            ).alias("tile"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tm.count()
    counts.unpersist()
    return tm


def tile_points(assignments: DataFrame, buildings: DataFrame) -> DataFrame:
    """The tile universe (§8.7): addresses at their point, buildings at
    their centroid."""
    a = assignments.select(
        F.col("addr_id").alias("elem_id"), "lat", "lon",
        F.lit("address").alias("elem_kind"),
    )
    b = buildings.select(
        F.col("building_id").alias("elem_id"),
        F.col("centroid_lat").alias("lat"),
        F.col("centroid_lon").alias("lon"),
        F.lit("building").alias("elem_kind"),
    )
    return a.unionByName(b)
