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
- ST5 ``incremental_merge``  : foreachBatch → plans/incremental.py's exact
                               state, under a streaming checkpoint (restart-safe)

Everything downstream of ST1 reuses the batch kernels verbatim
(``extract.extract_records`` is a mapInPandas pass — legal on streaming
DataFrames); ST5 reuses the exact incremental plan.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mergeaddressesandbuildings_spark import config, schemas
from mergeaddressesandbuildings_spark.operators import extract, tiling
from mergeaddressesandbuildings_spark.plans import incremental as inc
from mergeaddressesandbuildings_spark.sources import iceberg as ice


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
    """ST5: incremental merge — ``foreachBatch`` splices each microbatch
    into plans/incremental.py's exact state (``full_build`` against
    ``existing_osm`` first, ``apply_delta`` after) and rewrites the
    assignments, partitioned by tile, under ``out_dir/data``: after
    every epoch they equal ``run_merge`` over all pages streamed so far.

    ``out_dir/captures`` is an Iceberg table of each url's applied
    capture (url, warc_ts, xxhash64(text)). A microbatch is reduced to
    its latest capture per url; a capture older than the stored one,
    or equal to it (a replay or duplicate), is dropped, and one with
    the stored warc_ts but other text raises ValueError (the full merge
    keeps the larger text, which the state does not hold). The
    streaming checkpoint processes each source file once; a replayed
    epoch re-applies the same url-keyed delta (exact on retry) or,
    once its captures are recorded, finds nothing new. Returns the
    StreamingQuery (already awaited when available_now).
    """
    state_dir, data_dir, captures_dir = (
        os.path.join(out_dir, d) for d in ("state", "data", "captures"))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        pages = extract.latest_capture(batch_df).withColumn(
            "text_hash", F.xxhash64("text"))
        seen = ice.table_exists(captures_dir)
        if seen:
            stored = ice.read_iceberg(spark, captures_dir).toDF("url", "_ts", "_hash")
            pages = pages.join(stored, "url", "left")
            clash = (F.col("warc_ts") == F.col("_ts")) & (F.col("text_hash") != F.col("_hash"))
            for r in pages.filter(clash).select("url").limit(1).collect():
                raise ValueError(f"{r['url']}: a capture with the stored warc_ts but other text")
            pages = pages.filter(F.col("_ts").isNull() | (F.col("warc_ts") > F.col("_ts")))
        pages = pages.drop("_ts", "_hash").persist()
        try:
            if pages.isEmpty():
                return
            # one assignment per post-J4 address: n is the address count
            if seen:
                n = inc.apply_delta(spark, pages.drop("text_hash"),
                                    state_dir)["n_addresses_total"]
            else:  # rebuilt until the first epoch's captures commit
                n = inc.full_build(spark, pages.drop("text_hash"), existing_osm,
                                   state_dir)["addresses"]
            assignments, _, _, tm = inc.current_outputs(spark, state_dir)
            (tiling.assign_tiles(assignments, tm)
             .write.partitionBy("tile").mode("overwrite").parquet(data_dir))
            assignments.unpersist()
            tm.unpersist()
            keys = pages.select("url", "warc_ts", "text_hash")
            if seen:
                ice.merge_upsert(spark, captures_dir, keys, ["url"])
            else:
                ice.write_iceberg(keys, captures_dir)
        finally:
            pages.unpersist()
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
