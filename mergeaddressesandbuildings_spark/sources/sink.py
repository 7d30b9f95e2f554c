"""S5: idempotent, resumable per-tile sink with lineage metrics
(SURVEY.md §2.1 S4/S5, §2.4 A3; BASELINE.json:6 "resumable from
per-tile checkpoints with per-partition lineage and row-count metrics").

Design:
- Output is hash-bucketed into ``n_batches`` tile groups
  (``pmod(xxhash64(tile), n)``) — NO driver-side tile list (at 10^12
  rows the tile set itself is too large to collect; everything here is
  a distributed plan).
- Each batch writes with **dynamic partition overwrite** (only the
  touched ``tile=`` directories are replaced; a writer option, so the
  session's own overwrite mode is left alone), then appends one
  manifest row per tile: (tile, n_rows, fingerprint, batch_id). A
  batch that dies mid-write is simply re-run — overwrite makes the
  retry idempotent; tiles from completed batches are skipped via a
  left_anti join against the manifest, once the manifest's stats have
  been checked against the frame's (a directory holding another run's
  tiles is refused, not silently kept).
- The fingerprint is ``bit_xor(xxhash64(...))`` — order-independent and
  overflow-free, so parallelism-invariance is checkable from the
  manifest alone (§5.2-5/6).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The tile manifest, or None when none was written yet. An
    unreadable manifest raises: treating it as absent would rewrite
    every tile and restart the batch ids."""
    try:
        return spark.read.parquet(_manifest_path(out_dir))
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def write_tiles(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    n_batches: int = 4,
    fail_after_batches: int | None = None,
) -> dict:
    """Write ``df`` (must carry a ``tile`` column) partitioned by tile,
    resumably. ``key_cols`` feed the lineage fingerprint.

    ``fail_after_batches`` is a test hook simulating a mid-job crash.
    Raises ValueError, before writing anything, when ``out_dir``'s
    manifest lists a tile whose (n_rows, fingerprint) the frame does
    not reproduce: those tiles were written from other rows.
    Returns {"batches_run": int, "rows_written": int, "tiles_skipped": int}.
    """
    spark = df.sparkSession
    fingerprint = F.expr(
        "bit_xor(xxhash64({}))".format(", ".join(key_cols))
    ).alias("fingerprint")

    bucket = F.pmod(F.xxhash64(F.col("tile")), F.lit(n_batches))
    # a tile belongs to exactly ONE batch (bucket is a pure function of
    # tile), so per-tile stats over the whole frame equal the per-batch
    # stats — compute them in a single shuffle up front instead of one
    # aggregate job per batch, and keep them distributed (at 10^12 rows
    # the tile set can reach ~10^8 entries; nothing here collects it).
    stats_all = (
        df.groupBy("tile")
        .agg(F.count("*").alias("n_rows"), fingerprint)
        .withColumn("_b", F.pmod(F.xxhash64(F.col("tile")), F.lit(n_batches)))
        .persist()
    )
    todo = stats_all
    manifest = read_manifest(spark, out_dir)
    skipped = 0
    batch_offset = 0
    if manifest is not None:
        done = manifest.select("tile", "n_rows", "fingerprint")
        # a resume reproduces every written tile's stats exactly
        stale = (done.join(stats_all, ["tile", "n_rows", "fingerprint"], "left_anti")
                 .select("tile").limit(5).collect())
        if stale:
            stats_all.unpersist()
            raise ValueError(
                f"{out_dir} holds tiles written from other rows (e.g. tiles "
                f"{[r['tile'] for r in stale]}): write into a fresh directory")
        done_tiles = done.select("tile").distinct()
        skipped = done_tiles.count()
        df = df.join(done_tiles, "tile", "left_anti")
        todo = stats_all.join(done_tiles, "tile", "left_anti")
        batch_offset = int(manifest.agg(F.max("batch_id")).collect()[0][0] or 0) + 1

    per_bucket = {
        int(r["_b"]): int(r["rows"])
        for r in todo.groupBy("_b").agg(F.sum("n_rows").alias("rows")).collect()
    }

    batches_run = 0
    rows_written = 0
    for k in range(n_batches):
        if fail_after_batches is not None and batches_run >= fail_after_batches:
            stats_all.unpersist()
            raise RuntimeError(f"test hook: simulated crash after {batches_run} batches")
        bid = batch_offset + k
        batch = df.filter(bucket == k)
        # stable file bytes: sort within partitions (SURVEY.md §4)
        batch = batch.repartition(F.col("tile")).sortWithinPartitions("tile", *key_cols)
        (batch.write.partitionBy("tile").mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(_data_path(out_dir)))
        # manifest rows appended ONLY after the batch's data write
        # committed — resume correctness depends on this ordering
        todo.filter(F.col("_b") == k).drop("_b") \
            .withColumn("batch_id", F.lit(bid)) \
            .coalesce(1) \
            .write.mode("append").parquet(_manifest_path(out_dir))
        rows_written += per_bucket.get(k, 0)
        batches_run += 1
    stats_all.unpersist()

    return {
        "batches_run": batches_run,
        "rows_written": rows_written,
        "tiles_skipped": skipped,
    }


def lineage_metrics(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """A3: per-partition lineage — (partition_id, n_rows, fingerprint).
    Pure column expressions over ``spark_partition_id()``."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(xxhash64({}))".format(", ".join(key_cols))).alias("fingerprint"),
    )
