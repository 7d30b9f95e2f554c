"""jobs/curate.py end-to-end: the spark-submit curation surface
commits a snapshot per run, the corpus fingerprint is parallelism-
invariant, and the snapshot chain supports incremental consumption."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_job(out_dir: str, master: str, n: int = 500) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate.py"),
         "--pages-count", str(n), "--out", out_dir,
         "--master", master, "--n-shards", "4"],
        capture_output=True, text=True, timeout=420, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines()
            if l.startswith('{"job": "curate"')][-1]
    return json.loads(line)


@pytest.mark.slow
def test_curate_job_end_to_end(tmp_path, spark):
    out = str(tmp_path / "tbl")
    m1 = run_job(out, "local[2]")
    m2 = run_job(out, "local[8]")
    # fingerprint must not depend on parallelism (run-validity rule)
    assert m1["fingerprint"] == m2["fingerprint"]
    assert m1["rows_out"] == m2["rows_out"] > 0
    # URL dedup really collapsed duplicate captures
    assert m1["after_url_dedup"] < m1["pages_in"]
    # two commits -> chain of 2; changes-read sees exactly run 2's rows
    assert (m1["snapshot_id"], m2["snapshot_id"]) == (1, 2)
    from mergeaddressesandbuildings_spark.sources import iceberg as ice

    assert ice.snapshot_ids(out) == [1, 2]
    assert m2["snapshot_rows_total"] == m1["rows_out"] + m2["rows_out"]
    assert ice.read_changes(spark, out, 1, 2).count() == m2["rows_out"]
    assert ice.read_iceberg(spark, out, snapshot_id=1).count() == \
        m1["rows_out"]
