"""Incremental merge: recompute proportional to the page DELTA, not
the corpus (SURVEY.md §3.2 E3 + §2.5 S5 carried to its cluster-scale
conclusion; BASELINE.json north_star "resumable from per-tile
checkpoints" — this is the re-RUN side of resumability).

At 10^12 pages a crawl increment touches a vanishing fraction of
urls; re-running the full pipeline to absorb it wastes O(corpus)
extraction + spatial-join work. This plan keeps the expensive stages'
results in Iceberg tables (sources/iceberg.py) keyed so a url-level
change set can be SPLICED in:

    state tables (all under one state dir)
      addresses    post-J4 address rows, keyed by url     [O(elems)]
      buildings    post-J3 survivors ∪ existing ways,
                   keyed by url ('osm://existing' rows
                   are the static OSM state)              [O(elems)]
      winners      §8.4(1) PIP ∪ §8.4(2) kNN winners (told
                   apart by ``method``) + the address
                   CELL, keyed by cell                    [O(elems)]
      ex_nodes     existing OSM address nodes (static)
      meta.json    the merge parameters the state was built with
                   (level, cutoff, …) — an increment MUST reuse them —
                   and each table's committed snapshot id

so a delta commits three splices (addresses, buildings, winners).
Extracted records are not kept: a changed url's old cells are on its
``addresses`` and ``buildings`` rows.

``meta.json`` is the state's commit point: ``full_build``,
``apply_delta`` and ``maintain`` replace it (temp file + ``os.replace``)
as their last step, and every read of the state is pinned to the
snapshot ids it records. A run that dies between its splices leaves
readers on the previous state, and re-running the same change set is
exact: its old-row reads still see the pre-delta rows, and every
splice is keyed (by url, by cell), so repeating one is a no-op.

A splice is merge-on-read: one `merge_upsert` snapshot per table that
adds an equality-delete file on the splice key plus the key's new
rows, and rewrites no existing file — commit cost is O(delta), not
O(state). A read applies all of a table's deletes in one anti-join
(every delta's equality deletes share the splice key), which each data
row probes once; the data file groups and the delete-key set still grow
by one delta each until `maintain` compacts the deletes away and
expires the superseded snapshots.

Change propagation is bounded by the same invariant the spatial join
already asserts (§8.5: kNN cutoff ≤ one cell width at ``level``), so
Morton-ring expansion gives an EXACT affected closure:

    base   = cells touched by the changed urls' old address and
             building rows ∪ the delta's post-dedupe survivors
             (address cells + full building bbox covers)
    ring1  = base ∪ its 8-neighbors   → every address whose effective
             candidate set (PIP containment or kNN ≤ cutoff) can have
             changed has cell ∈ ring1
    ring2  = ring1 ∪ its 8-neighbors  → every building that can be a
             candidate for a ring1 address has a cover cell ∈ ring2

so the spatial join re-runs ONLY over (addresses in ring1) ×
(buildings covering ring2), and the winner table is spliced BY
CELL: every winner that can change sits in a ring1 cell (sub
addresses by construction; removed urls' addresses because their
cells are in base ⊆ ring1), so "delete ring1 cells, insert the
sub-run's winners" is exact, and the equality delete is ring1 itself
— a few hundred cells — whatever the winner count. Decisions
CANNOT be spliced — §8.4's per-building vote
(conflict/keep-node/merged) aggregates over ALL addresses assigned to
a building, so one spliced winner can flip the decision of an
untouched address — therefore decisions/output-sets/tiling recompute
globally from the spliced winner table. Those stages are
element-scale hash aggs + window passes (no html, no geometry
kernels): at the 10^12-page target they are noise next to the
extraction and PIP/kNN kernels this plan avoids re-running.

Exactness contract (tested: incremental == full rebuild, fingerprint
equal): J4/J3 dedupe are row-local given the static existing state,
so a record dedupe dropped was never in the join universe, and a delta
changes that universe only by the changed urls' old element rows
(removed) and the delta's survivors (added) — exactly the rows ``base``
is taken from. Winner picks are deterministic per candidate set, and
the closure above is a superset of every row whose candidate set
changed. Every stage is plans/merge.py's own function —
``element_stage`` in ``full_build`` and ``new_elements`` for a delta,
``winner_stage`` for the build and for the closure sub-run (this
module only joins the address cell on as the splice key),
``output_stage`` in ``current_outputs`` — so the two paths cannot
drift apart.

The change-set contract: ``page_changes`` carries, per changed url,
the url's FULL new page state (its current latest capture; multiple
captures are latest-capture-reduced exactly like the full pipeline)
plus ``deleted=true`` rows for urls that left the corpus. Partial
deltas (an older capture of a url whose newest row is NOT in the
delta) violate latest-capture-wins and are the caller's bug.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.functions import cells
from mergeaddressesandbuildings_spark.operators import decisions as dec, extract
from mergeaddressesandbuildings_spark.plans import merge
from mergeaddressesandbuildings_spark.sources import iceberg as ice

_TABLES = ("addresses", "buildings", "winners", "ex_nodes")


def _t(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, name)


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, "meta.json")


def _load_meta(state_dir: str) -> dict:
    with open(_meta_path(state_dir)) as f:
        return json.load(f)


def _current_snapshots(state_dir: str) -> dict[str, int]:
    return {name: ice.load_metadata(_t(state_dir, name))["current-snapshot-id"]
            for name in _TABLES}


def _commit_meta(state_dir: str, meta: dict) -> None:
    """Pin every table at its current snapshot in meta.json, atomically
    (the commit point, module docstring)."""
    meta = {**meta, "snapshots": _current_snapshots(state_dir)}
    tmp = _meta_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(state_dir))


def _read(spark: SparkSession, state_dir: str, meta: dict,
          name: str) -> DataFrame:
    """A state table at the snapshot meta.json pins."""
    return ice.read_iceberg(spark, _t(state_dir, name),
                            snapshot_id=meta["snapshots"][name])


_LOCALIZE_CAP = 500_000


def _localize(df: DataFrame, cap: int = _LOCALIZE_CAP) -> DataFrame:
    """Collect a small frame into a driver-local leaf (an ExistingRDD
    scan; falls back to the distributed frame above ``cap`` rows).
    Local key sets broadcast in every downstream join and carry no
    upstream lineage — which immunizes the splice plans against the
    analyzer's attribute-deduplication defeating cache lookup on
    shared subtrees (apply_delta notes)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        return df
    return df.sparkSession.createDataFrame(rows, df.schema)


def _closure_rings(cell_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """distinct base cells → (ring1, ring2): one and two rounds of
    8-neighbor Morton expansion (T3's numpy kernel, same
    pole/antimeridian clamping as the kNN expansion), in ONE pass.
    Expansion is pointwise (neigh(S) = ∪ neigh(s)), so per-partition
    expansion followed by a global distinct is exact; a cell reached
    at ring 1 by any partition lands in ring1 via min(ring)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            c = b["cell"].to_numpy(dtype=np.int64)
            if len(c) == 0:
                continue
            r1 = np.unique(cells.neighbors(c).ravel())
            r2 = np.unique(cells.neighbors(r1).ravel())
            yield pd.DataFrame({
                "cell": np.concatenate([r1, r2]),
                "ring": np.concatenate([
                    np.ones(len(r1), dtype=np.int32),
                    np.full(len(r2), 2, dtype=np.int32)]),
            })

    ringed = (cell_df.select("cell").distinct()
              .mapInPandas(run, "cell long, ring int")
              .groupBy("cell").agg(F.min("ring").alias("ring"))
              .persist())
    try:
        ring2 = _localize(ringed.select("cell"))
        ring1 = _localize(ringed.filter(F.col("ring") == 1)
                          .select("cell"))
    finally:
        ringed.unpersist()
    return ring1, ring2


def _element_cells(addresses: DataFrame, buildings: DataFrame) -> DataFrame:
    """One (cell) row per cell an (addresses, buildings) pair touches:
    address cells plus every building bbox-cover cell (covers are
    frozen into the rows at the level the state was built with)."""
    return addresses.select("cell").unionByName(
        buildings.select(F.explode("cells").alias("cell")))


def _with_cell(winners: tuple[DataFrame, DataFrame],
               addresses: DataFrame) -> DataFrame:
    """(PIP, kNN) winners → one frame carrying each winner's address
    cell, the winner table's splice key."""
    pip_w, knn_w = winners
    return pip_w.unionByName(knn_w).join(
        addresses.select("addr_id", "cell"), "addr_id")


def full_build(spark: SparkSession, pages: DataFrame,
               existing_osm: DataFrame | None, state_dir: str,
               level: int = config.CELL_LEVEL) -> dict:
    """Run the full pipeline once and persist the incremental state
    tables, replacing any state a previous build left in ``state_dir``
    (only this engine's tables and meta.json are removed). Returns
    {table: row count} plus the run parameters."""
    os.makedirs(state_dir, exist_ok=True)
    for name in _TABLES:
        shutil.rmtree(_t(state_dir, name), ignore_errors=True)
    if os.path.exists(_meta_path(state_dir)):
        os.remove(_meta_path(state_dir))

    pages = merge.fan_out(spark, pages)

    # file layout: each table spread over 2× the session's parallelism
    # in files, grouped by its splice key (url hash, or cell range for
    # the winner table), so every later scan runs at full parallelism
    # and each file's manifest bounds on the key stay tight
    nfiles = spark.sparkContext.defaultParallelism * 2

    def write(df: DataFrame, name: str) -> DataFrame:
        ice.write_iceberg(df, _t(state_dir, name))
        return ice.read_iceberg(spark, _t(state_dir, name))

    # persisted: addresses and buildings both branch from it
    records = (extract.extract_records(pages, level=level)
               .persist(StorageLevel.MEMORY_AND_DISK))

    addresses, buildings, ex_nodes, ex_ways = merge.element_stage(
        records, existing_osm, level)
    if ex_nodes is None:
        ex_nodes = spark.createDataFrame(
            [], "addr_id long, lat double, lon double, "
                "housenumber string, street string")
    ice.write_iceberg(ex_nodes, _t(state_dir, "ex_nodes"))

    addresses = write(addresses.repartition(nfiles, "url"), "addresses")
    buildings = write(buildings.repartition(nfiles, "url"), "buildings")
    records.unpersist()
    if ex_ways is not None:
        ex_ways.unpersist()

    winners = merge.winner_stage(addresses, buildings, config.KNN_CUTOFF_M,
                                 config.BROADCAST_BUILDINGS_MAX)
    ice.write_iceberg(_with_cell(winners, addresses)
                      .repartitionByRange(nfiles, "cell"),
                      _t(state_dir, "winners"))
    for w in winners:
        w.unpersist()

    params = {"level": level, "knn_cutoff_m": config.KNN_CUTOFF_M,
              "broadcast_max": config.BROADCAST_BUILDINGS_MAX}
    _commit_meta(state_dir, params)
    return {**{name: ice.record_count(_t(state_dir, name))
               for name in _TABLES}, **params}


def apply_delta(spark: SparkSession, page_changes: DataFrame,
                state_dir: str) -> dict:
    """Splice a url-keyed page change set into the state (module
    docstring: contract, closure math). Returns delta metrics —
    notably ``n_affected_addresses`` / ``n_sub_buildings``, the actual
    recompute scope, vs ``n_addresses_total``."""
    import time as _time

    meta = _load_meta(state_dir)
    level = meta["level"]
    timings: dict[str, float] = {}
    _t0 = _time.monotonic()

    def _lap(stage: str) -> None:
        nonlocal _t0
        now = _time.monotonic()
        timings[stage] = round(now - _t0, 2)
        _t0 = now

    # LOCALIZE the changed-url set (delta-sized): a local frame
    # broadcasts in every downstream join, and — decisive here — its
    # plan shares no subtree with the insert frames' lineage. Shared
    # subtrees across a union/join make Spark's analyzer deduplicate
    # attribute ids, and the rewritten branch no longer matches its
    # cache entry, silently recomputing the whole upstream pipeline
    # (measured: a 0.3 s purge became 36 s). Same treatment for the
    # closure rings below.
    changed_urls = _localize(page_changes.select("url").distinct())
    upserts = page_changes
    if "deleted" in page_changes.columns:
        upserts = upserts.filter(
            ~F.coalesce(F.col("deleted"), F.lit(False))).drop("deleted")
    upserts = merge.fan_out(spark, upserts)

    new_records = extract.extract_records(upserts, level=level)
    new_records = new_records.persist()
    n_new_records = new_records.count()
    _lap("extract_delta")

    # the changed urls' old element rows, read at the committed
    # snapshots: a retry after a crash between splices must not take
    # the crashed attempt's new rows for old ones
    addresses = _read(spark, state_dir, meta, "addresses")
    buildings = _read(spark, state_dir, meta, "buildings")
    old_addr = addresses.join(changed_urls, "url", "left_semi").persist()
    old_bld = buildings.join(changed_urls, "url", "left_semi").persist()
    n_old_elements = old_addr.count() + old_bld.count()
    _lap("old_records")

    # the delta's J4/J3 survivors against the static existing state
    # (existing ways from the PRE-splice buildings snapshot); persisted:
    # the closure reads them, then each splice twice (delete keys, then
    # data)
    ex_nodes = _read(spark, state_dir, meta, "ex_nodes")
    addr_delta, bld_delta = merge.new_elements(
        new_records, ex_nodes, buildings.filter(F.col("existing")))
    addr_delta = addr_delta.persist()
    bld_delta = bld_delta.persist()

    # affected closure (module docstring): base → ring1 → ring2,
    # localized (see changed_urls note; ring sizes are O(25 × base))
    base = _element_cells(old_addr, old_bld).unionByName(
        _element_cells(addr_delta, bld_delta))
    ring1, ring2 = _closure_rings(base)
    old_addr.unpersist()
    old_bld.unpersist()
    _lap("closure_rings")

    # splice the element tables by url: each merge_upsert drops every
    # row of a changed url (deleted urls included) and adds the url's
    # new rows, as one snapshot. The two tables are independent —
    # their commits run concurrently (Spark schedules the jobs side by
    # side; commits are single-writer PER TABLE, which threads here
    # respect).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(ice.merge_upsert, spark, _t(state_dir, name),
                            rows, ["url"], deletes=changed_urls)
                for name, rows in (("addresses", addr_delta),
                                   ("buildings", bld_delta))]
        for f in futs:
            f.result()
    _lap("element_splices")
    for df in (new_records, addr_delta, bld_delta):
        df.unpersist()

    # recompute winners on the closure slice only
    addresses = ice.read_iceberg(spark, _t(state_dir, "addresses"))
    buildings = ice.read_iceberg(spark, _t(state_dir, "buildings"))
    n_addr_total = addresses.count()

    # widen the slices to the session's parallelism BEFORE caching:
    # the semi-join inherits the table scan's partitioning (ring1
    # broadcasts), i.e. the table's FILE count — after maintenance
    # that can be far below the core count, and every map stage of the
    # winner recompute (the fine-cell explode and the pair-join's map
    # side) would then run nearly serial. One bounded shuffle here buys full
    # parallelism for the expensive Arrow kernels downstream.
    sub_addr = merge.fan_out(spark, addresses.join(ring1, "cell", "left_semi"))
    sub_addr = sub_addr.persist()
    n_sub_addr = sub_addr.count()
    sub_bld_ids = (buildings
                   .select("building_id", F.explode("cells").alias("cell"))
                   .join(ring2, "cell", "left_semi")
                   .select("building_id").distinct())
    sub_bld = merge.fan_out(
        spark, buildings.join(sub_bld_ids, "building_id", "left_semi"))
    sub_bld = sub_bld.persist()
    n_sub_bld = sub_bld.count()
    _lap("closure_slices")

    # the full merge's own winner stage over the slice (persisted and
    # materialized before the splice reads it)
    winners = merge.winner_stage(sub_addr, sub_bld, meta["knn_cutoff_m"],
                                 meta["broadcast_max"])
    _lap("winners")

    # splice winners BY CELL (module docstring): every winner that can
    # change sits in a ring1 cell (sub addresses are the ring1
    # semi-join by construction), so the delete key set is ring1
    # itself — a few hundred rows
    ice.merge_upsert(spark, _t(state_dir, "winners"),
                     _with_cell(winners, sub_addr), ["cell"], deletes=ring1)
    _lap("winner_splices")
    for w in winners:
        w.unpersist()
    sub_addr.unpersist()
    sub_bld.unpersist()
    _commit_meta(state_dir, meta)
    return {
        "n_changed_urls": changed_urls.count(),
        "n_new_records": n_new_records,
        "n_old_elements": n_old_elements,
        "n_affected_addresses": n_sub_addr,
        "n_sub_buildings": n_sub_bld,
        "n_addresses_total": n_addr_total,
        "affected_fraction": (n_sub_addr / n_addr_total
                              if n_addr_total else 0.0),
        "stage_s": timings,
    }


def current_outputs(spark: SparkSession, state_dir: str):
    """(assignments, sets, tiles, tile_map) from the current state —
    run_merge's decisions and ``output_stage`` over the spliced
    element tables (element-scale; no extraction, no geometry
    kernels). ``tile_map`` is the distinct fine-cell → tile map, the
    frame jobs/incremental.py joins assignments against for the
    fingerprint-bearing flat output. ``assignments`` and ``tile_map``
    are cached: the caller unpersists both after its last read."""
    meta = _load_meta(state_dir)
    addresses = _read(spark, state_dir, meta, "addresses")
    buildings = _read(spark, state_dir, meta, "buildings")
    # the stored winners carry their splice key (cell) — drop it
    # before assign, whose address join brings its own cell column
    winners = _read(spark, state_dir, meta, "winners").drop("cell")
    is_pip = F.col("method") == config.METHOD_PIP

    assignments = dec.assign(addresses, winners.filter(is_pip),
                             winners.filter(~is_pip), buildings)
    assignments = assignments.persist()
    assignments.count()
    sets, tm, tiles = merge.output_stage(assignments, buildings,
                                         config.TILE_MAX_ELEMS, meta["level"])
    return assignments, sets, tiles, tm


def maintain(spark: SparkSession, state_dir: str) -> dict:
    """State maintenance between deltas: every splice leaves an
    equality-delete file that each later read applies, and pins the
    superseded rows' files through older snapshots. Tables carrying
    delete files are compacted (deletes materialized into fresh data
    files) and committed to meta.json, then every table expires all
    but its current snapshot, which reclaims the disk. Refuses a state
    whose last delta did not commit (re-run that delta first). Returns
    per-table counts plus the live data files and bytes — the
    early-warning signal for small-file drift."""
    meta = _load_meta(state_dir)
    if meta["snapshots"] != _current_snapshots(state_dir):
        raise RuntimeError(f"{state_dir}: the last delta is not committed "
                           "to meta.json — re-run it before maintain")
    out = {}
    for name in _TABLES:
        tdir = _t(state_dir, name)
        tmeta = ice.load_metadata(tdir)
        _, deletes = ice.plan_scan(tmeta, ice.select_snapshot(tmeta))
        if deletes:
            ice.compact_table(spark, tdir)
            # pin the compacted snapshot before expiry drops the one
            # meta.json pins
            _commit_meta(state_dir, meta)
        expired = ice.expire_snapshots(tdir, keep_last=1)
        tmeta = ice.load_metadata(tdir)
        data, _ = ice.plan_scan(tmeta, ice.select_snapshot(tmeta))
        out[name] = {"compacted": bool(deletes), **expired,
                     "live_files": len(data),
                     "live_bytes": sum(os.path.getsize(t.path)
                                       for t in data)}
    return out
