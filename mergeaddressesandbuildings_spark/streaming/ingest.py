"""Structured-Streaming surface (SURVEY.md §2.10 ST1–ST5).

The reference is batch-only [SURVEY.md §2.10, PK]; this layer makes the
merge *incrementally resumable* per BASELINE.json:6 ("resumable from
per-tile checkpoints with per-partition lineage and row-count metrics")
and exercises late/duplicate web captures:

- ST1 ``pages_stream``       : parquet file stream with the frozen PAGES schema
- ST2 ``dedupe_captures``    : watermark on warc_ts + dropDuplicatesWithinWatermark(url)
- ST3 ``windowed_metrics``   : tumbling/sliding window counts per lang
- ST4 ``cell_budget_state``  : applyInPandasWithState keyed by cell — cumulative
                               element budget tracking across microbatches
- ST5 ``incremental_merge``  : foreachBatch → ``run_merge`` over each
                               microbatch + idempotent per-epoch tile
                               writer under a streaming checkpoint
                               (restart-safe)

Everything downstream of ST1 reuses the batch kernels verbatim
(``extract.extract_records`` is a mapInPandas pass — legal on streaming
DataFrames). ST5 merges each microbatch on its own (see
:func:`incremental_merge`); plans/incremental.py is the exact
delta-proportional path.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mergeaddressesandbuildings_spark import config, schemas
from mergeaddressesandbuildings_spark.operators import extract


def pages_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """ST1: incremental page ingest from a parquet directory.

    Schema is the frozen PAGES StructType — never inferred — so a
    malformed drop is a read error, not a silent schema drift.
    """
    reader = spark.readStream.schema(schemas.PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def dedupe_captures(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST2: drop re-crawls of the same url arriving within the watermark.

    State is bounded by the watermark: urls older than max(warc_ts) −
    watermark are evicted, so state size is O(urls per watermark window),
    not O(all urls ever) — the property that keeps this viable at
    10^12-row scale.
    """
    return (
        stream.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
    )


def windowed_metrics(stream: DataFrame, window: str = "10 minutes",
                     slide: str | None = None,
                     watermark: str = "1 hour") -> DataFrame:
    """ST3: per-window ingest metrics (pages + distinct-ish urls per lang).

    Tumbling by default; pass ``slide`` for a sliding window. The
    watermark bounds state and makes windows final once the watermark
    passes their end.
    """
    win = (F.window("warc_ts", window, slide) if slide
           else F.window("warc_ts", window))
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(win.alias("win"), F.col("lang"))
        .agg(
            F.count("*").alias("n_pages"),
            F.approx_count_distinct("url").alias("n_urls_approx"),
            F.sum(F.length("text")).alias("text_bytes"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "lang", "n_pages", "n_urls_approx", "text_bytes",
        )
    )


_BUDGET_OUT = (
    "cell LONG, n_batch LONG, n_total LONG, over_budget BOOLEAN"
)
_BUDGET_STATE = "n LONG"


def cell_budget_state(records: DataFrame, budget: int = config.TILE_MAX_ELEMS) -> DataFrame:
    """ST4: stateful per-cell element counters across microbatches.

    Input: any streaming DataFrame with a ``cell`` column (use
    ``extract.extract_records(pages_stream(...))``). Output: one row per
    (cell, microbatch) with the batch delta, the running total, and an
    over-budget flag — the signal the tiler uses to pre-split hot cells
    before the next batch merge.

    State per key is a single LONG → state store size is O(active cells),
    independent of row count.
    """

    def track(key: tuple, pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
        n_batch = 0
        for pdf in pdfs:
            n_batch += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n_batch
        state.update((total,))
        yield pd.DataFrame({
            "cell": [key[0]],
            "n_batch": [n_batch],
            "n_total": [total],
            "over_budget": [total > budget],
        })

    return (
        records.groupBy("cell")
        .applyInPandasWithState(
            track,
            outputStructType=_BUDGET_OUT,
            stateStructType=_BUDGET_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def incremental_merge(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    existing_osm: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], None] | None = None,
):
    """ST5: incremental merge — each microbatch of pages runs
    ``run_merge`` (extract → PIP/kNN join → decisions → tiling) against
    ``existing_osm`` via ``foreachBatch``, appending assignments
    partitioned by tile.

    A microbatch sees only its own pages plus the existing state:
    buildings from earlier microbatches are never candidates, and
    per-building decisions are taken per microbatch, so the output
    equals a full merge only when one microbatch holds the whole
    corpus. plans/incremental.py is the exact delta path.

    Restart safety has two layers:
    - Spark's streaming checkpoint (offsets in ``checkpoint_dir``) makes
      each source file processed exactly once across restarts;
    - the writer is *idempotent per epoch*: an ``_epochs`` marker dir is
      checked before writing, so a batch replayed after a crash between
      data-write and offset-commit does not duplicate rows
      (BASELINE.json:6 per-tile checkpoint semantics).

    Returns the StreamingQuery (already awaited when available_now).
    """
    from mergeaddressesandbuildings_spark.plans.merge import run_merge

    epochs_dir = os.path.join(out_dir, "_epochs")
    data_dir = os.path.join(out_dir, "data")
    # one barrier dir, overwritten by every epoch, shared on a cluster
    barrier_dir = os.path.join(out_dir, "_barrier")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(epochs_dir, f"epoch={epoch_id}")
        if os.path.exists(marker):  # replay after crash → already written
            return
        if batch_df.rdd.isEmpty():
            os.makedirs(marker, exist_ok=True)
            return
        res = run_merge(spark, batch_df, existing_osm,
                        barrier_dir=barrier_dir)
        tiles = res.tiles.select("elem_id", "tile")
        out = (
            res.assignments
            .join(tiles, res.assignments["addr_id"] == tiles["elem_id"])
            .drop("elem_id")
            .withColumn("epoch_id", F.lit(epoch_id))
        )
        (
            out.repartition(F.col("tile"))
            .sortWithinPartitions("tile", "addr_id")
            .write.partitionBy("tile").mode("append").parquet(data_dir)
        )
        n = out.count()
        os.makedirs(marker, exist_ok=True)
        if on_batch is not None:
            on_batch(epoch_id, n)

    stream = pages_stream(spark, input_dir, max_files_per_trigger)
    writer = (
        stream.writeStream
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
