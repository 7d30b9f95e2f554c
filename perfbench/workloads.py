"""The benchmark's jobs and their correctness checks.

A merge job is what ``jobs/merge.py`` does with a crawl: input tables →
``plans.merge.run_merge`` → the tile-keyed flat assignments → the
resumable tile sink (``sources.sink.write_tiles``), committed. A delta
job is what ``jobs/incremental.py`` does with a crawl delta:
``plans.incremental.apply_delta`` into stored state, then
``current_outputs`` written flat.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.functions import cells_sql
from mergeaddressesandbuildings_spark.plans.merge import MergeResult, run_merge
from mergeaddressesandbuildings_spark.sources import sink

FINGERPRINT = ("bit_xor(xxhash64(addr_id, coalesce(building_id, -1), "
               "method, decision, tile))")
SINK_KEYS = ["addr_id", "method", "decision"]
# one tile batch (jobs/merge.py defaults to 4): each extra batch adds a
# data and a manifest write, ~1.6 s per job at 4 batches on a 4-core
# host, which the per-run time budget cannot spare
SINK_BATCHES = 1
# the incremental state's Morton level: at the default level 12 the
# fixture county spans a handful of cells and a delta's closure covers
# all of it
DELTA_LEVEL = 16
DELTA_MODIFY = 10  # urls moved to a far-away donor page's content
DELTA_DELETE = 5  # urls removed from the corpus


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    broadcast_max: int  # run_merge's strategy switch
    seed0_fingerprint: int  # jobs/merge.py --pages-count <pages>
    delta: bool  # the traced run also builds incremental state and applies a delta


WORKLOADS = {
    w.name: w for w in (
        # ~2k buildings ≤ BROADCAST_BUILDINGS_MAX: J1/J2 probe a
        # broadcast index, no pair-join shuffle
        Workload("merge-broadcast", 2_000, config.BROADCAST_BUILDINGS_MAX,
                 -8872175802713194695, delta=True),
        # broadcast disabled: fine-cell equi-join shuffle, AQE skew
        # split over the 30% hot cell, per-pair Arrow refine
        Workload("merge-shuffle", 2_000, 0, -8872175802713194695, delta=False),
    )
}


def with_tiles(assignments: DataFrame, tile_map: DataFrame) -> DataFrame:
    """Assignments joined to their tile through the fine-cell → tile
    map, as jobs/merge.py does before its sink."""
    tx, ty = cells_sql.xy_expr(F.col("lat"), F.col("lon"), config.MAX_CELL_LEVEL)
    return (assignments.withColumn("_x", tx).withColumn("_y", ty)
            .join(tile_map, ["_x", "_y"]).drop("_x", "_y"))


@dataclass
class MergeOutput:
    result: MergeResult
    flat: DataFrame  # committed flat assignments (parquet scan)
    sink: dict  # write_tiles' return value
    barrier_dir: str


def merge_job(spark: SparkSession, pages: DataFrame, existing: DataFrame,
              out_dir: str, broadcast_max: int,
              phase=lambda name: nullcontext()) -> MergeOutput:
    """One merge, from input tables to a committed sink. ``phase(name)``
    wraps each of its three phases (a traced run passes a span)."""
    barrier_dir = os.path.join(out_dir, "barrier")
    with phase("run_merge"):
        res = run_merge(spark, pages, existing,
                        broadcast_max=broadcast_max, barrier_dir=barrier_dir)
    with phase("flat"):
        flat = write_flat(spark, with_tiles(res.assignments, res.tile_map),
                          os.path.join(out_dir, "flat"))
    with phase("sink"):
        stats = sink.write_tiles(flat, os.path.join(out_dir, "sink"),
                                 key_cols=SINK_KEYS, n_batches=SINK_BATCHES)
    return MergeOutput(res, flat, stats, barrier_dir)


def write_flat(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def summarize(flat: DataFrame) -> dict:
    """Fingerprint, row count and per-method / per-decision counts of
    flat assignments, in one pass."""
    aggs = [F.expr(FINGERPRINT).alias("fp"), F.count("*").alias("n")]
    for m in (config.METHOD_PIP, config.METHOD_KNN, config.METHOD_NONE):
        aggs.append(F.sum((F.col("method") == m).cast("long")).alias(m))
    for d in (config.DECISION_MERGED, config.DECISION_KEEP_NODE,
              config.DECISION_CONFLICT, config.DECISION_STANDALONE):
        aggs.append(F.sum((F.col("decision") == d).cast("long")).alias(d))
    row = flat.groupBy().agg(*aggs).collect()[0].asDict()
    return {k: int(v or 0) for k, v in row.items()}


def check_merge(out: MergeOutput, summary: dict) -> list[str]:
    """Row conservation: every post-J4 address gets exactly one
    assignment, each by exactly one method, and the sink commits all of
    them. Returns the failed checks."""
    n = summary["n"]
    n_addr = out.result.addresses.count()
    by_method = sum(summary[m] for m in (config.METHOD_PIP, config.METHOD_KNN,
                                         config.METHOD_NONE))
    errors = []
    if n != n_addr:
        errors.append(f"assignments {n} != post-J4 addresses {n_addr}")
    if by_method != n:
        errors.append(f"PIP+KNN+NONE {by_method} != assignments {n}")
    if out.sink["rows_written"] != n:
        errors.append(f"sink rows_written {out.sink['rows_written']} != assignments {n}")
    return errors


def file_versions(path: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime) of every file under ``path``, Spark's
    checksum files excluded."""
    out = {}
    for root, _, names in os.walk(path):
        for nm in names:
            if not nm.endswith(".crc"):
                st = os.stat(os.path.join(root, nm))
                out[os.path.join(root, nm)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's checksum files excluded."""
    files = file_versions(path)
    return len(files), sum(size for size, _ in files.values())


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
