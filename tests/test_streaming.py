"""Streaming-surface tests (SURVEY.md §2.10 ST1–ST5, §5.2).

Each test drops deterministic page fixtures as parquet files into a
source dir, runs the stream with trigger(availableNow=True), and checks
results against the equivalent batch computation — streaming and batch
share kernels, so equality is the invariant.
"""

from __future__ import annotations

import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mergeaddressesandbuildings_spark import schemas
from mergeaddressesandbuildings_spark.operators import extract, tiling
from mergeaddressesandbuildings_spark.plans.merge import fingerprint
from mergeaddressesandbuildings_spark.sources import pages as pg
from mergeaddressesandbuildings_spark.streaming import ingest


def _drop(spark, src_dir: str, pdf: pd.DataFrame) -> None:
    """Write ``pdf`` as one parquet 'file drop' (its own subdir would
    confuse the file source — write into src_dir directly)."""
    spark.createDataFrame(pdf, schema=schemas.PAGES).coalesce(1) \
        .write.mode("append").parquet(src_dir)


def _drop_pages(spark, src_dir: str, lo: int, hi: int, name: str) -> None:
    """Drop pages [lo, hi)."""
    _drop(spark, src_dir, pg.gen_pages_pdf(range(lo, hi)))


def _run_to_memory(stream, name: str, output_mode: str):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_st1_schema_and_rows(spark, tmp_path):
    src = str(tmp_path / "src")
    _drop_pages(spark, src, 0, 120, "a")
    stream = ingest.pages_stream(spark, src)
    assert stream.isStreaming
    # file sources relax nullability — compare names + types
    assert [(f.name, f.dataType) for f in stream.schema.fields] == \
           [(f.name, f.dataType) for f in schemas.PAGES.fields]
    _run_to_memory(stream.select("url", "lang"), "st1_rows", "append")
    got = spark.sql("select count(*) n from st1_rows").collect()[0]["n"]
    exp = spark.read.schema(schemas.PAGES).parquet(src).count()
    assert got == exp > 0


def test_st2_dedupe_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _drop_pages(spark, src, 0, 200, "a")
    stream = ingest.dedupe_captures(ingest.pages_stream(spark, src), "2 hours")
    _run_to_memory(stream.select("url"), "st2_dedup", "append")
    urls = spark.sql("select url, count(*) c from st2_dedup group by url having c > 1")
    # fixture emits duplicate urls (re-captures 1h apart) for ~3% of pages;
    # within one microbatch + 2h watermark they must all collapse
    assert urls.count() == 0
    n_src = spark.read.schema(schemas.PAGES).parquet(src).count()
    n_distinct = spark.read.schema(schemas.PAGES).parquet(src).select("url").distinct().count()
    n_out = spark.sql("select count(*) n from st2_dedup").collect()[0]["n"]
    assert n_out == n_distinct < n_src


def test_st3_windowed_metrics_match_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _drop_pages(spark, src, 0, 150, "a")
    stream = ingest.windowed_metrics(ingest.pages_stream(spark, src),
                                     window="1 day", watermark="0 seconds")
    _run_to_memory(stream, "st3_win", "append")
    got = spark.sql(
        "select win_start, lang, sum(n_pages) n from st3_win group by 1, 2"
    )
    batch = spark.read.schema(schemas.PAGES).parquet(src)
    exp = (
        batch.groupBy(F.window("warc_ts", "1 day").alias("w"), "lang")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "lang", "n")
    )
    # append mode only emits windows the watermark has passed; with
    # watermark=0s every window closed by max(ts) is final. Compare the
    # common (emitted) windows exactly and require >0 of them.
    j = got.alias("g").join(exp.alias("e"), ["win_start", "lang"])
    assert j.count() > 0
    assert j.filter(F.col("g.n") != F.col("e.n")).count() == 0


def test_st4_stateful_cell_budget_accumulates(spark, tmp_path):
    src = str(tmp_path / "src")
    # two file drops → availableNow processes them as separate batches
    # only with maxFilesPerTrigger=1
    _drop_pages(spark, src, 0, 60, "a")
    _drop_pages(spark, src, 60, 120, "b")
    stream = ingest.pages_stream(spark, src, max_files_per_trigger=1)
    # dedupe_captures=False: latest-capture is a blind agg (illegal
    # pre-shuffle on a stream); ST2's watermark dedupe is the streaming
    # equivalent and is tested separately
    records = extract.extract_records(stream, dedupe_captures=False) \
                     .filter(F.col("cell").isNotNull())
    budget = ingest.cell_budget_state(records.select("cell"), budget=5)
    _run_to_memory(budget, "st4_budget", "update")
    out = spark.sql("select * from st4_budget")
    # totals are cumulative: for every cell, max(n_total) == sum(n_batch)
    agg = out.groupBy("cell").agg(
        F.max("n_total").alias("mx"), F.sum("n_batch").alias("sm"))
    assert agg.count() > 0
    assert agg.filter(F.col("mx") != F.col("sm")).count() == 0
    # hot fixture cell exceeds the tiny budget
    assert out.filter(F.col("over_budget")).count() > 0
    # batch totals match the batch-mode extraction count
    batch_n = (
        extract.extract_records(spark.read.schema(schemas.PAGES).parquet(src),
                                dedupe_captures=False)
        .filter(F.col("cell").isNotNull()).count()
    )
    assert out.groupBy("cell").agg(F.max("n_total").alias("n")) \
              .agg(F.sum("n")).collect()[0][0] == batch_n


# ST5: three file drops, streamed one file per microbatch. Drop B
# re-captures url 5 later with another page's content; drop C carries an
# OLDER capture of url 41 (out of order: it must not replace drop A's)
# and a replay of url 30's rows. The stream restarts before drop C.
ST5_PAGES = 130
ST5_DONOR = 10_000  # donor pages lend far-away content
RECAPTURED, OUT_OF_ORDER, REPLAYED, CONFLICTED = 5, 41, 30, 40


def _capture(i: int, shift: pd.Timedelta) -> pd.DataFrame:
    """A capture of page ``i``'s url carrying a donor page's content,
    ``shift`` after the url's latest capture (or, for a negative shift,
    before its earliest)."""
    own = pg.gen_pages_pdf([i])
    row = pg.gen_pages_pdf([i + ST5_DONOR]).head(1).copy()
    row["url"] = own["url"].iloc[0]
    row["warc_ts"] = (own["warc_ts"].max() if shift > pd.Timedelta(0)
                      else own["warc_ts"].min()) + shift
    return row


def _st5_drops() -> list[pd.DataFrame]:
    day = pd.Timedelta(days=1)
    return [
        pg.gen_pages_pdf(range(0, 60)),
        pd.concat([pg.gen_pages_pdf(range(60, 100)), _capture(RECAPTURED, day)]),
        pd.concat([pg.gen_pages_pdf(range(100, ST5_PAGES)),
                   _capture(OUT_OF_ORDER, -day), pg.gen_pages_pdf([REPLAYED])]),
    ]


def _st5_data(spark, out: str):
    """ST5's tiled output; the partition column reads back as long,
    the type the fingerprint hashes."""
    return spark.read.parquet(os.path.join(out, "data")) \
        .withColumn("tile", F.col("tile").cast("long"))


def _run_merge_over(spark, pdfs: list[pd.DataFrame], existing):
    from mergeaddressesandbuildings_spark.plans.merge import run_merge

    pages = spark.createDataFrame(pd.concat(pdfs, ignore_index=True),
                                  schema=schemas.PAGES)
    res = run_merge(spark, pages, existing)
    return res, tiling.assign_tiles(res.assignments, tm=res.tile_map)


@pytest.fixture(scope="module")
def st5(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("st5")
    src, out, ckpt = (str(root / d) for d in ("src", "out", "ckpt"))
    existing = pg.existing_osm_df(spark, ST5_PAGES)
    drops = _st5_drops()
    seen: list[tuple[int, int]] = []
    cached: list[int] = []  # the session's cached RDDs after each epoch
    jsc = spark.sparkContext._jsc

    def on_batch(e: int, n: int) -> None:
        seen.append((e, n))
        cached.append(jsc.getPersistentRDDs().size())

    for pdf in drops[:2]:
        _drop(spark, src, pdf)
    ingest.incremental_merge(spark, src, out, ckpt, existing,
                             max_files_per_trigger=1, on_batch=on_batch)
    fp_first_run = fingerprint(_st5_data(spark, out))
    # restart with a new file drop: old epochs are not reprocessed
    _drop(spark, src, drops[2])
    ingest.incremental_merge(spark, src, out, ckpt, existing,
                             max_files_per_trigger=1, on_batch=on_batch)
    return {"src": src, "out": out, "ckpt": ckpt, "existing": existing,
            "drops": drops, "seen": seen, "cached": cached,
            "fp_first_run": fp_first_run}


def test_st5_incremental_merge_resume(spark, st5):
    assert [e for e, _ in st5["seen"]] == [0, 1, 2]
    data = _st5_data(spark, st5["out"])
    assert st5["seen"][-1][1] == data.count()
    assert "tile" in data.columns and "decision" in data.columns
    # after the first run the output was already the batch merge of
    # the drops streamed so far
    _, ref = _run_merge_over(spark, st5["drops"][:2], st5["existing"])
    assert st5["fp_first_run"] == fingerprint(ref)
    # no lineage-barrier dir and no epoch markers
    assert sorted(os.listdir(st5["out"])) == ["captures", "data", "state"]


def test_st5_equals_run_merge_over_the_union(spark, st5):
    """Buildings of earlier microbatches are candidates, decisions are
    global, a later recapture replaces the url's content and an older
    one arriving late does not: the stream's output is run_merge's over
    the union of the drops, fingerprint, output sets and tiles. An
    epoch leaves no cache behind."""
    from mergeaddressesandbuildings_spark.plans import incremental as inc

    res, ref = _run_merge_over(spark, st5["drops"], st5["existing"])
    data = _st5_data(spark, st5["out"])
    assert fingerprint(data) == fingerprint(ref)
    tiles = lambda df: sorted(map(tuple, df.select("addr_id", "tile").collect()))  # noqa: E731
    assert tiles(data) == tiles(ref)
    assignments, sets, _, tm = inc.current_outputs(
        spark, os.path.join(st5["out"], "state"))
    assert sorted(map(tuple, sets.collect())) == \
        sorted(map(tuple, res.sets.collect()))
    assignments.unpersist()
    tm.unpersist()
    assert len(set(st5["cached"])) == 1, st5["cached"]


def test_st5_conflicting_capture_raises(spark, st5):
    """The same warc_ts with other text: the state cannot tell which
    capture the full merge keeps, so the epoch fails loudly and the
    output stays as it was."""
    before = fingerprint(_st5_data(spark, st5["out"]))
    own = pg.gen_pages_pdf([CONFLICTED])
    clash = own.loc[[own["warc_ts"].idxmax()]].assign(text="conflicting text")
    _drop(spark, st5["src"], clash)
    with pytest.raises(Exception, match=re.escape(clash["url"].iloc[0])):
        ingest.incremental_merge(spark, st5["src"], st5["out"], st5["ckpt"],
                                 st5["existing"], max_files_per_trigger=1)
    assert fingerprint(_st5_data(spark, st5["out"])) == before
