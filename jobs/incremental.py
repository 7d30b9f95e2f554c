"""spark-submit entry point for the incremental merge
(plans/incremental.py): absorb a url-keyed crawl delta into persisted
merge state, recomputing only the affected-cell closure.

    # build the state once (full pipeline; state tables under --state)
    spark-submit --master local[8] --py-files engine.zip jobs/incremental.py \
        build --pages-count 20000 --state /tmp/merge_state

    # absorb a delta (here: fixture pages [20000, 20200) as new urls)
    spark-submit --master local[8] --py-files engine.zip jobs/incremental.py \
        delta --state /tmp/merge_state --delta-from 20000 --delta-count 200

    # or a delta read from parquet (url-keyed pages, optional bool
    # `deleted` tombstone column)
    ... delta --state /tmp/merge_state --delta-path /data/crawl_delta

    # write the current outputs (assignments+tile fingerprint JSON)
    ... outputs --state /tmp/merge_state --out /tmp/incr_out

    # between deltas: compact the state's merge-on-read deletes away
    # and expire superseded snapshots
    ... maintain --state /tmp/merge_state

Each subcommand prints one JSON line. `delta` reports the recompute
scope (affected addresses / total) and wall time — the number that
shows absorption cost tracks the DELTA, not the corpus. `outputs`
prints the same order-independent fingerprint as jobs/merge.py, so
"incremental state == full rebuild" is checkable across the two jobs
at any parallelism level.

The `--delta-from/--delta-count/--delta-modify/--delta-delete` flags
synthesize a deterministic fixture delta (new urls from the page-id
range, plus optional modifications/tombstones of existing ids) so the
scaling protocol can run without external data.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fixture_delta(spark, args, shift: int = 0):
    """Deterministic fixture delta; ``shift`` offsets every id range so
    successive reps touch disjoint urls."""
    import pandas as pd

    from mergeaddressesandbuildings_spark.sources import pages as pg

    parts = []
    if args.delta_count:
        start = args.delta_from + shift
        add = pg.gen_pages_pdf(range(start, start + args.delta_count))
        add["deleted"] = False
        parts.append(add)
    if args.delta_modify:
        # modified urls take a far-away donor page's content (content
        # moves ⇒ old cells vacated, new cells populated)
        ids = list(range(shift, shift + args.delta_modify))
        mod = pg.gen_pages_pdf([i + 10_000_000 for i in ids])
        target = {f"https://fixture.test/greenville/{i + 10_000_000:08d}":
                  f"https://fixture.test/greenville/{i:08d}" for i in ids}
        mod["url"] = mod["url"].map(target)
        mod["deleted"] = False
        parts.append(mod)
    if args.delta_delete:
        ids = list(range(shift + args.delta_modify,
                         shift + args.delta_modify + args.delta_delete))
        parts.append(pd.DataFrame({
            "url": [f"https://fixture.test/greenville/{i:08d}" for i in ids],
            "warc_ts": pd.Timestamp("2030-01-01"),
            "html": [b""] * len(ids),
            "text": [""] * len(ids),
            "lang": ["en"] * len(ids),
            "deleted": True,
        }))
    if not parts:
        raise SystemExit("empty delta: pass --delta-count/--delta-modify/"
                         "--delta-delete or --delta-path")
    return spark.createDataFrame(pd.concat(parts, ignore_index=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["build", "delta", "outputs",
                                    "maintain"])
    ap.add_argument("--state", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--level", type=int, default=None)
    # build inputs (fixture or parquet), mirroring jobs/merge.py
    ap.add_argument("--pages-count", type=int, default=20_000)
    ap.add_argument("--pages-path", default=None)
    ap.add_argument("--existing-path", default=None)
    ap.add_argument("--no-existing", action="store_true")
    # delta inputs
    ap.add_argument("--delta-path", default=None)
    ap.add_argument("--delta-from", type=int, default=None)
    ap.add_argument("--delta-count", type=int, default=0)
    ap.add_argument("--delta-modify", type=int, default=0)
    ap.add_argument("--delta-delete", type=int, default=0)
    ap.add_argument("--delta-shift", type=int, default=0,
                    help="offset the fixture delta's id ranges so "
                         "SEPARATE invocations (e.g. the local[4] and "
                         "local[16] arms of the scaling protocol, which "
                         "are distinct spark-submit sessions against one "
                         "sequentially-mutated state) touch disjoint url "
                         "slices of the same uniform spatial scatter")
    ap.add_argument("--delta-reps", type=int, default=1,
                    help="apply N successive fixture deltas in ONE "
                         "driver session (each rep shifts the id "
                         "ranges) — measures the steady-state "
                         "per-delta cost once session/codegen warmup "
                         "has amortized")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.cmd == "delta" and not args.delta_path:
        if args.delta_reps < 1:
            ap.error("--delta-reps must be >= 1 for fixture deltas")
        # --delta-from seeds only the *added*-pages id range; a
        # modify/delete-only fixture delta is legitimate and must not
        # demand it
        if args.delta_count > 0 and args.delta_from is None:
            ap.error("--delta-from required when --delta-count > 0")

    from mergeaddressesandbuildings_spark import config
    from mergeaddressesandbuildings_spark.operators import tiling
    from mergeaddressesandbuildings_spark.plans import incremental as inc
    from mergeaddressesandbuildings_spark.plans.merge import fingerprint
    from mergeaddressesandbuildings_spark.session import get_spark
    from mergeaddressesandbuildings_spark.sources import catalog
    from mergeaddressesandbuildings_spark.sources import pages as pg

    spark = get_spark(master=args.master, app_name=f"incr-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    out: dict = {"job": f"incremental-{args.cmd}",
                 "master": spark.sparkContext.master}

    if args.cmd == "build":
        if args.pages_path:
            pages = catalog.read_table(spark, args.pages_path, "parquet")
            existing = (catalog.read_table(spark, args.existing_path,
                                           "parquet")
                        if args.existing_path else None)
        else:
            pages = pg.pages_df(spark, args.pages_count)
            existing = (None if args.no_existing
                        else pg.existing_osm_df(spark, args.pages_count))
        m = inc.full_build(spark, pages, existing, args.state,
                           level=args.level or config.CELL_LEVEL)
        out.update({"n_addresses": m["addresses"],
                    "n_buildings": m["buildings"]})

    elif args.cmd == "delta":
        if args.delta_path:
            delta = catalog.read_table(spark, args.delta_path, "parquet")
            metrics = inc.apply_delta(spark, delta, args.state)
            out.update(metrics)
        else:
            walls = []
            span = (args.delta_count + args.delta_modify
                    + args.delta_delete)
            for rep in range(args.delta_reps):
                delta = _fixture_delta(spark, args,
                                       shift=args.delta_shift + rep * span)
                t1 = time.monotonic()
                metrics = inc.apply_delta(spark, delta, args.state)
                walls.append(round(time.monotonic() - t1, 2))
            out.update(metrics)  # last rep's scope metrics
            out["rep_walls_s"] = walls

    elif args.cmd == "maintain":
        # long-run state health: compaction materializes the deltas'
        # equality deletes, expiry reclaims the superseded files
        out["tables"] = inc.maintain(spark, args.state)

    else:  # outputs
        assignments, sets, tiles, tm = inc.current_outputs(spark,
                                                           args.state)
        flat = tiling.assign_tiles(assignments, tm=tm)
        if args.out:
            flat.write.mode("overwrite").parquet(
                os.path.join(args.out, "assignments_flat"))
            flat = spark.read.parquet(
                os.path.join(args.out, "assignments_flat"))
        fp, n_assign, n_tiles = fingerprint(flat)
        out.update({"fingerprint": fp, "n_assignments": n_assign,
                    "n_tiles": n_tiles})
        assignments.unpersist()
        tm.unpersist()

    out["wall_s"] = round(time.monotonic() - t0, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
