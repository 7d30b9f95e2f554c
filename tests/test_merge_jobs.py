"""jobs/merge.py and jobs/incremental.py end-to-end: the two
spark-submit surfaces of the merge agree with each other and with an
in-process ``run_merge`` on one fixture — same fingerprint (the one
definition in plans/merge.py), same assignment count — and the merge
job leaves no lineage-barrier dir behind, neither under ``--out`` nor
in the temp dir; ``run_merge`` itself leaves no cache behind but the
one its returned tile map reads."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 300
MASTER = "local[4]"


def run_job(script: str, *args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args,
         "--master", MASTER],
        capture_output=True, text=True, timeout=420, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads([l for l in proc.stdout.splitlines()
                       if l.startswith('{"job"')][-1])


def _temp_barriers() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(),
                                      "merge_barrier_*")))


@pytest.mark.slow
def test_merge_jobs_agree_and_leave_no_barriers(spark, tmp_path):
    from mergeaddressesandbuildings_spark.operators import tiling
    from mergeaddressesandbuildings_spark.plans.merge import (
        fingerprint, run_merge)
    from mergeaddressesandbuildings_spark.sources import pages as pg

    before = _temp_barriers()
    merge_out = str(tmp_path / "merge_out")
    merged = run_job("merge.py", "--pages-count", str(N_PAGES),
                     "--out", merge_out, "--n-batches", "1")
    state = str(tmp_path / "state")
    run_job("incremental.py", "build", "--pages-count", str(N_PAGES),
            "--state", state)
    outputs = run_job("incremental.py", "outputs", "--state", state,
                      "--out", str(tmp_path / "incr_out"))

    res = run_merge(spark, pg.pages_df(spark, N_PAGES),
                    pg.existing_osm_df(spark, N_PAGES),
                    barrier_dir=str(tmp_path / "barrier"))
    fp, n, n_tiles = fingerprint(
        tiling.assign_tiles(res.assignments, tm=res.tile_map))

    assert n > 0
    assert (merged["fingerprint"], merged["n_assignments"],
            merged["n_tiles"]) == (fp, n, n_tiles)
    assert (outputs["fingerprint"], outputs["n_assignments"],
            outputs["n_tiles"]) == (fp, n, n_tiles)
    assert merged["write"]["rows_written"] == n
    assert not os.path.exists(os.path.join(merge_out, "_barrier"))
    assert _temp_barriers() == before


def test_run_merge_releases_its_caches(spark, tmp_path):
    """run_merge unpersists each frame it caches once a lineage barrier
    holds its rows, so repeated merges (one per streaming microbatch)
    keep at most one cache each: the returned tile_map, which the
    caller owns. Once the caller unpersists it, no cache the merge
    made is left. The output is unchanged."""
    from mergeaddressesandbuildings_spark.operators import tiling
    from mergeaddressesandbuildings_spark.plans.merge import (
        fingerprint, run_merge)
    from mergeaddressesandbuildings_spark.sources import pages as pg

    jsc = spark.sparkContext._jsc
    pages, existing = pg.pages_df(spark, 200), pg.existing_osm_df(spark, 200)
    before = jsc.getPersistentRDDs().size()  # the session is shared
    for i in range(2):
        res = run_merge(spark, pages, existing,
                        barrier_dir=str(tmp_path / f"barrier{i}"))
        assert jsc.getPersistentRDDs().size() - before <= 1
        fp = fingerprint(tiling.assign_tiles(res.assignments, tm=res.tile_map))
        res.tile_map.unpersist()
        assert jsc.getPersistentRDDs().size() == before
    assert fp == (-5992241864211959338, 193, 29)
