"""spark-submit entry point for the full merge pipeline (SURVEY.md §3.2
E3; BASELINE.json:14 "run via spark-submit --py-files ... at two cluster
sizes").

    spark-submit --master local[8] --py-files engine.zip jobs/merge.py \
        --pages-count 20000 --out /tmp/merge_out

Prints one JSON line with wall time, input rows, assignment rows,
rows/sec, tile count, and the order-independent output fingerprint
(bit_xor of xxhash64 over assignment keys) — the fingerprint is what
the two-parallelism scaling protocol compares for run validity
(BASELINE.md: "a run with divergent output is invalid regardless of
speed").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-count", type=int, default=20_000)
    ap.add_argument("--pages-path", default=None, help="read pages table instead of generating")
    ap.add_argument("--existing-path", default=None, help="read existing-OSM table instead of generating")
    ap.add_argument("--existing-osm-xml", default=None,
                    help="read existing-OSM state from .osm XML files (reference's native format)")
    ap.add_argument("--existing-osm-pbf", default=None,
                    help="read existing-OSM state from .osm.pbf files (compact binary format)")
    ap.add_argument("--format", default="parquet",
                    help="input table format: parquet (default) or iceberg (needs runtime jars; paths are then catalog identifiers)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--level", type=int, default=None)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument("--no-existing", action="store_true")
    ap.add_argument("--emit-osm-tiles", choices=["xml", "pbf"], default=None,
                    help="also write per-tile .osm / .osm.pbf files (the "
                         "reference's uploadable deliverable) under <out>/osm")
    ap.add_argument("--n-batches", type=int, default=4)
    ap.add_argument("--skip-write", action="store_true")
    ap.add_argument("--fail-after-batches", type=int, default=None,
                    help="test hook: crash after N sink batches to exercise resume")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mergeaddressesandbuildings_spark import config
    from mergeaddressesandbuildings_spark.operators import tiling
    from mergeaddressesandbuildings_spark.plans.merge import fingerprint, run_merge
    from mergeaddressesandbuildings_spark.session import get_spark
    from mergeaddressesandbuildings_spark.sources import pages as pg, sink

    spark = get_spark(master=args.master, app_name="merge-job")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.monotonic()
    from mergeaddressesandbuildings_spark.sources import catalog

    if args.pages_path:
        pages = catalog.read_table(spark, args.pages_path, args.format)
    else:
        pages = pg.pages_df(spark, args.pages_count)
    if args.no_existing:
        existing = None
    elif args.existing_osm_xml:
        from mergeaddressesandbuildings_spark.sources import osm_xml
        existing = osm_xml.to_existing_table(
            osm_xml.read_nodes(spark, args.existing_osm_xml),
            osm_xml.read_ways(spark, args.existing_osm_xml),
            osm_xml.read_relations(spark, args.existing_osm_xml),
        )
    elif args.existing_osm_pbf:
        from mergeaddressesandbuildings_spark.sources import osm_pbf, osm_xml
        existing = osm_xml.to_existing_table(
            osm_pbf.read_nodes(spark, args.existing_osm_pbf),
            osm_pbf.read_ways(spark, args.existing_osm_pbf),
            osm_pbf.read_relations(spark, args.existing_osm_pbf),
        )
    elif args.existing_path:
        existing = catalog.read_table(spark, args.existing_path, args.format)
    elif args.pages_path:
        # pages read from disk with no explicit existing source: merge
        # against NO existing state — generating fixture existing rows
        # unrelated to on-disk pages would silently change decisions
        existing = None
    else:
        existing = pg.existing_osm_df(spark, args.pages_count)

    # 'load' = constructing/reading the input frames (lazy plans +
    # the generator/scan setup); everything that executes the pipeline
    # (run_merge's materializations, the flat write, the fingerprint
    # agg) is 'compute'. pages.count() here doubles as the input-row
    # metric and charges the input scan to the load phase.
    n_pages = pages.count()
    t_load = time.monotonic() - t0

    # lineage barriers live under --out: on a multi-node cluster they
    # must sit on a shared filesystem, as the output does
    barrier_dir = os.path.join(args.out, "_barrier")
    res = run_merge(
        spark, pages, existing,
        level=args.level or config.CELL_LEVEL,
        budget=args.budget or config.TILE_MAX_ELEMS,
        barrier_dir=barrier_dir,
    )

    # tile membership: join the assignments against the DISTINCT
    # fine-cell → tile map on the cell key (the map is orders of
    # magnitude smaller than the full points universe; AQE broadcasts
    # it), instead of joining full point rows back by element id. The
    # map was computed once inside run_merge — reuse it.
    with_tile = tiling.assign_tiles(res.assignments, tm=res.tile_map)
    # materialization barrier: write the flat assignments once and plan
    # every downstream action (fingerprint agg, sink batches) against
    # the clean parquet scan instead of re-analyzing the full
    # extraction→join→decision tree. (localCheckpoint was tried and is
    # ~7× slower here — it materializes through the non-AQE .rdd path.)
    flat_path = os.path.join(args.out, "assignments_flat")
    with_tile.write.mode("overwrite").parquet(flat_path)
    assignments = spark.read.parquet(flat_path)

    # one action for fingerprint + row count + tile count (the
    # fingerprint is order-independent, so parallelism-invariance across
    # the N vs 4N scaling runs is checkable from this line alone)
    fp, n_assign, n_tiles = fingerprint(assignments)
    # A3 run metrics: output-set sizes (reference prints these at end)
    decisions = {
        r["decision"]: int(r["n"])
        for r in assignments.groupBy("decision").agg(F.count("*").alias("n")).collect()
    }
    t_compute = time.monotonic() - t0 - t_load

    osm_stats = None
    if args.emit_osm_tiles:
        from mergeaddressesandbuildings_spark.sources import osm_writer
        elements = osm_writer.merge_result_to_elements(
            res.assignments, res.addresses, res.buildings, res.tiles
        )
        writer = (osm_writer.write_osm_tiles if args.emit_osm_tiles == "xml"
                  else osm_writer.write_pbf_tiles)
        manifest = writer(elements, os.path.join(args.out, "osm")).collect()
        osm_stats = {
            "format": args.emit_osm_tiles,
            "n_files": len(manifest),
            "n_nodes": int(sum(m["n_nodes"] for m in manifest)),
            "n_ways": int(sum(m["n_ways"] for m in manifest)),
        }

    write_stats = None
    if not args.skip_write:
        write_stats = sink.write_tiles(
            assignments, args.out,
            key_cols=["addr_id", "method", "decision"],
            n_batches=args.n_batches,
            fail_after_batches=args.fail_after_batches,
        )
    # the sink has committed; nothing reads the barriers any more
    shutil.rmtree(barrier_dir, ignore_errors=True)

    wall = time.monotonic() - t0
    t_write = wall - t_load - t_compute
    print(json.dumps({
        "job": "merge",
        "phase_s": {"load": round(t_load, 2), "compute": round(t_compute, 2),
                    "write": round(t_write, 2)},
        # the REAL context master — under spark-submit the JVM is already
        # up, so builder/arg master is ignored and echoing it would lie
        "master": spark.sparkContext.master,
        "n_pages": n_pages,
        "n_assignments": n_assign,
        "n_tiles": n_tiles,
        "decisions": decisions,
        "fingerprint": fp,
        "wall_s": round(wall, 2),
        "pages_per_sec": round(n_pages / wall, 1),
        "write": write_stats,
        "osm_tiles": osm_stats,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
