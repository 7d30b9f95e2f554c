"""S5 resume tests (SURVEY.md §5.2-6, BASELINE.json:14): kill after k
batches → rerun → byte-identical final output; completed tiles not
recomputed (asserted via manifest lineage)."""

import shutil

import pytest
from pyspark.sql import functions as F

from mergeaddressesandbuildings_spark.sources import sink


@pytest.fixture()
def tiles_df(spark):
    return (
        spark.range(0, 5000)
        .select(
            F.col("id").alias("elem_id"),
            F.pmod(F.col("id"), F.lit(23)).alias("tile"),
            (F.col("id") * 31 % 997).alias("payload"),
        )
    )


def _read_sorted(spark, out):
    return {
        (r["elem_id"], r["tile"], r["payload"])
        for r in spark.read.parquet(f"{out}/data").collect()
    }


def test_full_write_and_reread(spark, tiles_df, tmp_path):
    out = str(tmp_path / "full")
    stats = sink.write_tiles(tiles_df, out, key_cols=["elem_id", "payload"], n_batches=4)
    assert stats == {"batches_run": 4, "rows_written": 5000, "tiles_skipped": 0}
    assert len(_read_sorted(spark, out)) == 5000
    m = sink.read_manifest(spark, out)
    assert m.count() == 23  # one manifest row per tile
    assert m.agg(F.sum("n_rows")).collect()[0][0] == 5000


def test_crash_resume_identical_output(spark, tiles_df, tmp_path):
    out_crash = str(tmp_path / "crash")
    out_full = str(tmp_path / "fullref")
    sink.write_tiles(tiles_df, out_full, key_cols=["elem_id", "payload"], n_batches=4)

    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.write_tiles(tiles_df, out_crash, key_cols=["elem_id", "payload"],
                         n_batches=4, fail_after_batches=2)

    # resume: completed tiles skipped, remainder written
    stats = sink.write_tiles(tiles_df, out_crash, key_cols=["elem_id", "payload"], n_batches=4)
    assert stats["tiles_skipped"] > 0
    assert stats["rows_written"] < 5000  # only the remainder was recomputed

    assert _read_sorted(spark, out_crash) == _read_sorted(spark, out_full)

    # lineage: per-tile fingerprints identical between crash+resume and full
    mc = {(r["tile"], r["n_rows"], r["fingerprint"])
          for r in sink.read_manifest(spark, out_crash).collect()}
    mf = {(r["tile"], r["n_rows"], r["fingerprint"])
          for r in sink.read_manifest(spark, out_full).collect()}
    assert mc == mf

    shutil.rmtree(out_crash)


def test_rerun_after_success_skips_everything(spark, tiles_df, tmp_path):
    out = str(tmp_path / "idem")
    sink.write_tiles(tiles_df, out, key_cols=["elem_id", "payload"], n_batches=3)
    stats = sink.write_tiles(tiles_df, out, key_cols=["elem_id", "payload"], n_batches=3)
    assert stats["tiles_skipped"] == 23
    assert stats["rows_written"] == 0
    assert len(_read_sorted(spark, out)) == 5000


def test_lineage_metrics(spark, tiles_df):
    lm = sink.lineage_metrics(tiles_df.repartition(8), ["elem_id"]).collect()
    assert sum(r["n_rows"] for r in lm) == 5000
    assert len(lm) == 8


def test_corrupt_manifest_is_loud(spark, tiles_df, tmp_path):
    """An unreadable manifest is not an absent one: write_tiles raises
    before writing any data instead of rewriting every tile."""
    import os

    out = tmp_path / "corrupt"
    (out / "_manifest").mkdir(parents=True)
    (out / "_manifest" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        sink.write_tiles(tiles_df, str(out), key_cols=["elem_id"],
                         n_batches=2)
    assert not os.path.exists(out / "data")


def test_session_overwrite_mode_is_left_alone(spark, tiles_df, tmp_path):
    """Dynamic partition overwrite is the sink's writer option, not a
    session setting: a later partitioned overwrite in the same session
    still replaces the whole directory."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    sink.write_tiles(tiles_df, str(tmp_path / "tiles"), key_cols=["elem_id"],
                     n_batches=2)
    assert spark.conf.get(key) == before

    other = str(tmp_path / "other")
    spark.range(4).withColumn("p", F.col("id") % 2) \
        .write.partitionBy("p").mode("overwrite").parquet(other)
    spark.range(4).withColumn("p", F.lit(0)) \
        .write.partitionBy("p").mode("overwrite").parquet(other)
    assert spark.read.parquet(other).count() == 4


def test_another_runs_tiles_are_refused(spark, tiles_df, tmp_path):
    """A manifest whose tiles this frame does not reproduce belongs to
    another run: write_tiles raises before writing instead of skipping
    those tiles and leaving the other run's rows on disk."""
    out = str(tmp_path / "reused")
    sink.write_tiles(tiles_df, out, key_cols=["elem_id", "payload"], n_batches=2)
    before = _read_sorted(spark, out)
    for changed in (tiles_df.withColumn("payload", F.col("payload") + 1),
                    tiles_df.filter(F.col("tile") != 3)):
        with pytest.raises(ValueError, match="other rows"):
            sink.write_tiles(changed, out, key_cols=["elem_id", "payload"],
                             n_batches=2)
    assert _read_sorted(spark, out) == before
