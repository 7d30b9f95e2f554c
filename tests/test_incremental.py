"""Incremental merge (plans/incremental.py): splicing a url-keyed page
delta into Iceberg state must be EXACTLY equivalent to a full rebuild
over the post-delta corpus — same assignment fingerprint, same output
sets, same tile membership — while recomputing only the affected-cell
closure (asserted: the sub-run touches a strict subset of addresses),
committing O(delta) per splice, and surviving maintenance.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mergeaddressesandbuildings_spark.operators import extract, tiling
from mergeaddressesandbuildings_spark.plans import incremental as inc
from mergeaddressesandbuildings_spark.plans.merge import fingerprint
from mergeaddressesandbuildings_spark.sources import pages as pg
from mergeaddressesandbuildings_spark.sources import iceberg as ice

N_PAGES = 140
# level 15 (~1.2 km × 600 m cells) instead of the default 12 (~10 km):
# the fixture county spans only a handful of level-12 cells, so a
# closure there covers everything and scope-boundedness would be
# unmeasurable; 15 still satisfies the §8.5 invariant
# (min_cell_width_m(15, 80°) = 212 m ≥ the 100 m kNN cutoff).
LEVEL = 15
MODIFIED = [5, 17, 29, 41, 53]
DELETED = [61, 73]
ADDED = list(range(N_PAGES, N_PAGES + 10))
DONOR_OFFSET = 10_000  # modified pages take content from far-away donors


def _url(i: int) -> str:
    return f"https://fixture.test/greenville/{i:08d}"


def _delta_pdf() -> pd.DataFrame:
    """The change set: modified urls carry a donor page's FULL content
    relabeled to the target url (content moved → old cells vacated,
    new cells populated), deletions are tombstone rows, additions are
    brand-new urls."""
    mod = pg.gen_pages_pdf([i + DONOR_OFFSET for i in MODIFIED])
    donor_to_target = {_url(i + DONOR_OFFSET): _url(i) for i in MODIFIED}
    mod["url"] = mod["url"].map(donor_to_target)
    add = pg.gen_pages_pdf(ADDED)
    upserts = pd.concat([mod, add], ignore_index=True)
    upserts["deleted"] = False
    tombs = pd.DataFrame({
        "url": [_url(i) for i in DELETED],
        "warc_ts": pd.Timestamp("2030-01-01"),
        "html": [b""] * len(DELETED),
        "text": [""] * len(DELETED),
        "lang": ["en"] * len(DELETED),
        "deleted": True,
    })
    return pd.concat([upserts, tombs], ignore_index=True)


def _pages_v2_pdf() -> pd.DataFrame:
    """The post-delta corpus, built independently of the engine."""
    keep = [i for i in range(N_PAGES)
            if i not in set(MODIFIED) | set(DELETED)]
    v1_kept = pg.gen_pages_pdf(keep)
    delta = _delta_pdf()
    ups = delta[~delta["deleted"]].drop(columns=["deleted"])
    return pd.concat([v1_kept, ups], ignore_index=True)


def _fingerprint(assignments, tile_map):
    """(fingerprint, rows) of the assignments, tiled through the map."""
    return fingerprint(tiling.assign_tiles(assignments, tm=tile_map))[:2]


def _sets_rows(sets):
    return sorted(tuple(r) for r in sets.collect())


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("incr")
    state_dir = os.path.join(str(root), "state")
    pages_v1 = pg.pages_df(spark, N_PAGES)
    existing = pg.existing_osm_df(spark, N_PAGES)
    inc.full_build(spark, pages_v1, existing, state_dir, level=LEVEL)
    delta = spark.createDataFrame(_delta_pdf())
    metrics = inc.apply_delta(spark, delta, state_dir)
    return state_dir, metrics, existing, str(root)


def test_delta_scope_is_bounded(spark, state):
    state_dir, m, _, _ = state
    assert m["n_changed_urls"] == len(MODIFIED) + len(DELETED) + len(ADDED)
    assert m["n_new_records"] > 0
    assert m["n_old_elements"] > 0
    # the closure's base holds the changed urls' old address ROWS, and
    # J4 dropped some of their address records: the survivor-only
    # closure is exercised (its exactness is the tests below)
    old_urls = [_url(i) for i in MODIFIED + DELETED]
    built = ice.load_metadata(
        os.path.join(state_dir, "addresses"))["snapshots"][0]
    old_rows = (ice.read_iceberg(spark, os.path.join(state_dir, "addresses"),
                                 snapshot_id=built["snapshot-id"])
                .filter(F.col("url").isin(old_urls)).count())
    old_records = (extract.extract_records(
        spark.createDataFrame(pg.gen_pages_pdf(MODIFIED + DELETED)),
        level=LEVEL).filter(F.col("kind") == "address").count())
    assert 0 < old_rows < old_records
    # the whole point: the spatial join re-ran over a small closure,
    # not the corpus
    assert 0 < m["n_affected_addresses"] < m["n_addresses_total"]
    assert m["affected_fraction"] < 0.6


def test_incremental_equals_full_rebuild(spark, state):
    state_dir, _, existing, root = state
    a_inc, sets_inc, _, tm_inc = inc.current_outputs(spark, state_dir)
    fp_inc, n_inc = _fingerprint(a_inc, tm_inc)

    full_dir = os.path.join(root, "state_full")
    pages_v2 = spark.createDataFrame(_pages_v2_pdf())
    inc.full_build(spark, pages_v2, existing, full_dir, level=LEVEL)
    a_full, sets_full, _, tm_full = inc.current_outputs(spark, full_dir)
    fp_full, n_full = _fingerprint(a_full, tm_full)

    assert n_inc == n_full
    assert fp_inc == fp_full
    assert _sets_rows(sets_inc) == _sets_rows(sets_full)
    a_inc.unpersist()
    a_full.unpersist()


@pytest.fixture(scope="module")
def v2_reference(spark, state):
    """(fingerprint, rows) of run_merge over the post-delta corpus."""
    from mergeaddressesandbuildings_spark.plans.merge import run_merge

    _, _, existing, _ = state
    pages_v2 = spark.createDataFrame(_pages_v2_pdf())
    res = run_merge(spark, pages_v2, existing, level=LEVEL)
    return _fingerprint(res.assignments, res.tile_map)


def test_incremental_matches_run_merge(spark, state, v2_reference):
    """Tie the incremental path to the flagship plan: run_merge over
    the post-delta corpus yields the same fingerprint."""
    state_dir, _, _, _ = state
    a_inc, _, _, tm_inc = inc.current_outputs(spark, state_dir)
    assert _fingerprint(a_inc, tm_inc) == v2_reference
    a_inc.unpersist()


def test_delta_retry_after_crash_is_exact(spark, state, v2_reference,
                                          tmp_path, monkeypatch):
    """A delta that dies after its element splices, before the winner
    splice, is committed nowhere: readers still see the built state,
    and re-running the same change set reads the changed urls' old
    rows at the snapshots meta.json pins (not the crashed attempt's
    new rows), so the result still equals run_merge."""
    _, _, existing, _ = state
    retry_dir = os.path.join(str(tmp_path), "state_retry")
    inc.full_build(spark, pg.pages_df(spark, N_PAGES), existing,
                   retry_dir, level=LEVEL)
    a0, _, _, tm0 = inc.current_outputs(spark, retry_dir)
    built = _fingerprint(a0, tm0)
    a0.unpersist()

    upsert = ice.merge_upsert

    def crash_on_winners(spark_, table_dir, *args, **kwargs):
        if os.path.basename(table_dir) == "winners":
            raise RuntimeError("injected crash before the winner splice")
        return upsert(spark_, table_dir, *args, **kwargs)

    delta = spark.createDataFrame(_delta_pdf())
    with monkeypatch.context() as m:
        m.setattr(ice, "merge_upsert", crash_on_winners)
        with pytest.raises(RuntimeError, match="injected crash"):
            inc.apply_delta(spark, delta, retry_dir)
    with pytest.raises(RuntimeError, match="not committed"):
        inc.maintain(spark, retry_dir)
    a1, _, _, tm1 = inc.current_outputs(spark, retry_dir)
    assert _fingerprint(a1, tm1) == built
    a1.unpersist()

    inc.apply_delta(spark, delta, retry_dir)
    a2, _, _, tm2 = inc.current_outputs(spark, retry_dir)
    assert _fingerprint(a2, tm2) == v2_reference
    a2.unpersist()


def test_deleted_url_rows_are_gone(spark, state):
    state_dir, _, _, _ = state
    for tbl in ("addresses", "buildings"):
        df = ice.read_iceberg(spark, os.path.join(state_dir, tbl))
        gone = df.filter(F.col("url").isin([_url(i) for i in DELETED]))
        assert gone.count() == 0, tbl


def test_second_delta_stays_exact(spark, state, tmp_path):
    """Chained absorption: a SECOND delta applied on top of the first
    one's merge-on-read deletes must still match a from-scratch
    rebuild exactly, and so must the state after maintenance, which
    compacts every delete file away."""
    _, _, existing, _ = state
    chain_dir = os.path.join(str(tmp_path), "state_chain")
    inc.full_build(spark, pg.pages_df(spark, N_PAGES), existing,
                   chain_dir, level=LEVEL)
    inc.apply_delta(spark, spark.createDataFrame(_delta_pdf()), chain_dir)

    add2 = pg.gen_pages_pdf(range(N_PAGES + 50, N_PAGES + 60))
    add2["deleted"] = False
    tomb2 = pd.DataFrame({
        "url": [_url(ADDED[0]), _url(MODIFIED[0])],  # delete delta-1 rows
        "warc_ts": pd.Timestamp("2031-01-01"),
        "html": [b""] * 2, "text": [""] * 2, "lang": ["en"] * 2,
        "deleted": True,
    })
    delta2 = pd.concat([add2, tomb2], ignore_index=True)
    inc.apply_delta(spark, spark.createDataFrame(delta2), chain_dir)
    a_inc, _, _, tm_inc = inc.current_outputs(spark, chain_dir)
    fp_inc, n_inc = _fingerprint(a_inc, tm_inc)
    a_inc.unpersist()

    # v3 corpus = v2 minus the two newly deleted urls plus the ten new
    v2 = _pages_v2_pdf()
    v3 = pd.concat(
        [v2[~v2["url"].isin([_url(ADDED[0]), _url(MODIFIED[0])])],
         add2.drop(columns=["deleted"])], ignore_index=True)
    full_dir = os.path.join(str(tmp_path), "state_full3")
    inc.full_build(spark, spark.createDataFrame(v3), existing, full_dir,
                   level=LEVEL)
    a_full, _, _, tm_full = inc.current_outputs(spark, full_dir)
    fp_full, n_full = _fingerprint(a_full, tm_full)
    a_full.unpersist()
    assert (fp_inc, n_inc) == (fp_full, n_full)

    report = inc.maintain(spark, chain_dir)
    assert tuple(report) == inc._TABLES
    assert report["addresses"]["compacted"]
    assert report["winners"]["compacted"]
    assert not report["ex_nodes"]["compacted"]
    for tbl in inc._TABLES:
        meta = ice.load_metadata(os.path.join(chain_dir, tbl))
        assert len(meta["snapshots"]) == 1, tbl
        data, deletes = ice.plan_scan(meta, ice.select_snapshot(meta))
        assert deletes == [], tbl
        assert report[tbl]["live_files"] == len(data)
    a_m, _, _, tm_m = inc.current_outputs(spark, chain_dir)
    assert _fingerprint(a_m, tm_m) == (fp_full, n_full)
    a_m.unpersist()


def test_splice_plan_shape(spark, state):
    """The splice paths' scale discipline: localized key sets plan as
    LocalTableScan and their joins against state tables BROADCAST (no
    corpus shuffle to probe a delta-sized key set)."""
    state_dir, _, _, _ = state
    local = inc._localize(
        spark.createDataFrame([(1,), (2,)], "cell long"))
    plan = local._jdf.queryExecution().executedPlan().toString()
    # collected rows plan as a leaf scan with no upstream lineage
    # (PySpark renders driver-local data as an ExistingRDD scan)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "Exchange" not in plan

    addresses = ice.read_iceberg(spark,
                                 os.path.join(state_dir, "addresses"))
    semi = addresses.join(local, "cell", "left_semi")
    semi.collect()  # run THIS query execution so AQE finalizes it
    splan = semi._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" then "== Initial Plan ==" (the
    # pre-adaptive SMJ) — judge the final section only
    final = splan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    # and the whole closure-slice plan stays JVM-side (no Python eval)
    assert "PythonUDF" not in final


def test_localize_cap_falls_back(spark):
    df = spark.range(0, 50).selectExpr("id as cell")
    out = inc._localize(df, cap=10)
    assert out is df  # above cap: the distributed frame comes back
    small = inc._localize(df, cap=100)
    splan = small._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in splan or "LocalTableScan" in splan
    assert small.count() == 50


def test_addresses_table_commit_is_file_level(state):
    """The addresses splice is O(delta): one merge-on-read snapshot that
    carries every full_build data file by reference and adds exactly
    one equality-delete file (on url) next to the delta's rows."""
    state_dir, _, _, _ = state
    meta = ice.load_metadata(os.path.join(state_dir, "addresses"))
    built, spliced = meta["snapshots"]
    assert [s["summary"]["operation"] for s in (built, spliced)] == \
        ["append", "overwrite"]
    built_files = {t.path for t in ice.plan_scan(meta, built)[0]}
    data, deletes = ice.plan_scan(meta, spliced)
    assert built_files < {t.path for t in data}
    assert [(d.kind, d.eq_cols) for d in deletes] == [("eq", ["url"])]


def test_delta_adds_one_file_of_each_kind_per_table(state):
    """A delta is three splices: it adds exactly one snapshot to each
    of addresses, buildings and winners, landing as ONE data file next
    to its one equality-delete file however many partitions the frame
    handed to merge_upsert had, and leaves the static ex_nodes alone."""
    state_dir, _, _, _ = state
    for tbl in ("addresses", "buildings", "winners"):
        meta = ice.load_metadata(os.path.join(state_dir, tbl))
        built, spliced = meta["snapshots"]
        built_files = {t.path for t in ice.plan_scan(meta, built)[0]}
        data, deletes = ice.plan_scan(meta, spliced)
        assert len({t.path for t in data} - built_files) == 1, tbl
        assert [d.kind for d in deletes] == ["eq"], tbl
    meta = ice.load_metadata(os.path.join(state_dir, "ex_nodes"))
    assert len(meta["snapshots"]) == 1


def test_state_holds_its_tables_and_no_success_markers(state):
    """The state dir is exactly the four tables plus meta.json, and no
    write left a _SUCCESS marker that no manifest references."""
    state_dir, _, _, _ = state
    assert sorted(os.listdir(state_dir)) == sorted([*inc._TABLES,
                                                    "meta.json"])
    markers = [os.path.join(d, f) for d, _, fs in os.walk(state_dir)
               for f in fs if "_SUCCESS" in f]
    assert markers == []
