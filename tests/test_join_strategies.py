"""Path equivalence for the J1/J2 spatial join (SURVEY.md §2.3): the
broadcast index (numpy fine-cell index in a Spark broadcast) and the
pair-join (fine-cell equi-join + per-pair Arrow refine, the shuffle
path) must produce identical winner sets — the physical path is a pure
performance choice, never a semantics choice. The pair-join must also
keep them identical when AQE splits a hot cell's join partition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergeaddressesandbuildings_spark import config
from mergeaddressesandbuildings_spark.operators import extract, spatial_join as sj
from mergeaddressesandbuildings_spark.sources import pages as pg


@pytest.fixture(scope="module")
def corpus(spark):
    p = pg.pages_df(spark, 800)
    records = extract.extract_records(p, level=config.CELL_LEVEL).persist()
    addresses, buildings = extract.split_records(records)
    yield addresses.persist(), buildings.persist()
    records.unpersist()


def _fp_and_plan(df):
    """(fingerprint, row count) of ``df``, plus the final adaptive plan
    of the query that computed them."""
    agg = df.agg(
        F.expr("bit_xor(xxhash64(addr_id, building_id))").alias("fp"),
        F.count("*").alias("n"),
    )
    row = agg.collect()[0]
    return (row["fp"], row["n"]), agg._jdf.queryExecution().executedPlan().toString()


def _fp(df):
    return _fp_and_plan(df)[0]


def test_pip_strategy_equivalence(spark, corpus):
    addresses, buildings = corpus
    bidx = sj.broadcast_index_for(buildings, config.BROADCAST_BUILDINGS_MAX)
    bc = _fp(sj.pick_pip_winner(
        sj.pip_candidates(addresses, buildings, broadcast_index=bidx)))
    pj = _fp(sj.pick_pip_winner(sj.pip_candidates(addresses, buildings)))
    assert bc == pj
    assert bc[1] > 0


def test_knn_topk_matches_bruteforce(spark, corpus):
    """Generic k=3 kNN (pick_knn_topk) equals a brute-force
    all-buildings scan within the cutoff, with the §8.4 tie order."""
    import numpy as np

    from mergeaddressesandbuildings_spark.functions import geom

    addresses, buildings = corpus
    cands = sj.knn_candidates(addresses, buildings)
    got = {}
    for r in sj.pick_knn_topk(cands, k=3).collect():
        got.setdefault(r["addr_id"], []).append(
            (r["knn_rank"], r["building_id"], r["dist_m"]))
    for v in got.values():
        v.sort()

    apdf = addresses.select("addr_id", "lat", "lon").toPandas()
    bpdf = buildings.select("building_id", "ring_lats", "ring_lons",
                            "hole_lats", "hole_lons").toPandas()
    polys = geom.flatten_polys(
        bpdf["ring_lats"].to_numpy(), bpdf["ring_lons"].to_numpy(),
        bpdf["hole_lats"].to_numpy(), bpdf["hole_lons"].to_numpy())
    bids = bpdf["building_id"].to_numpy()
    want = {}
    n_b = len(bids)
    aids = apdf["addr_id"].to_numpy(dtype=np.int64)
    alats = apdf["lat"].to_numpy(dtype=np.float64)
    alons = apdf["lon"].to_numpy(dtype=np.float64)
    for j in range(len(aids)):
        pts = np.zeros(n_b, dtype=np.int64)
        blds = np.arange(n_b, dtype=np.int64)
        d = geom.pairs_point_to_polys_dist_m(
            np.array([alats[j]]), np.array([alons[j]]),
            pts, blds, *polys)
        ok = d <= config.KNN_CUTOFF_M
        ranked = sorted(zip(d[ok], bids[ok]))[:3]
        if ranked:
            want[int(aids[j])] = [
                (i + 1, int(b), float(dd)) for i, (dd, b) in enumerate(ranked)]
    assert got == want


def test_knn_strategy_equivalence(spark, corpus):
    addresses, buildings = corpus
    bidx = sj.broadcast_index_for(buildings, config.BROADCAST_BUILDINGS_MAX)
    bc = _fp(sj.pick_knn_winner(
        sj.knn_candidates(addresses, buildings, broadcast_index=bidx)))
    pj = _fp(sj.pick_knn_winner(sj.knn_candidates(addresses, buildings)))
    assert bc == pj
    assert bc[1] > 0


def test_knn_topk_unique_pairs_fast_path(spark):
    """pick_knn_topk(unique_pairs=True) must equal the default (dedup)
    path bit-exactly when candidates are unique per (addr, building) —
    flat_grid_candidates output is unique by construction (the probe
    side carries exactly one grid cell), which is what licenses the
    fast path in knn_topk_suppliers. Also pins the construction fact
    itself: no duplicate pairs out of flat_grid_candidates."""
    a = spark.range(0, 400).select(
        F.col("id").alias("c_custkey"),
        (F.lit(34.8) + (F.col("id") % 41).cast("double") * 0.00009).alias("a_lat"),
        (F.lit(-82.4) + (F.col("id") % 43).cast("double") * 0.00009).alias("a_lon"),
    )
    b = spark.range(0, 60).select(
        F.col("id").alias("s_suppkey"),
        (F.lit(34.8) + (F.col("id") % 13).cast("double") * 0.00027).alias("b_lat"),
        (F.lit(-82.4) + (F.col("id") % 17).cast("double") * 0.00022).alias("b_lon"),
    )
    cands = sj.flat_grid_candidates(
        a, b, cutoff_m=120.0, cos_lat0=0.821149209133704,
        broadcast_b=True,
    ).select(
        F.col("c_custkey").alias("addr_id"),
        F.col("s_suppkey").alias("building_id"),
        "dist_m", F.lit(0.0).alias("area_m2"),
    ).persist()
    dup = (cands.groupBy("addr_id", "building_id").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0  # the uniqueness promise flat_grid_candidates makes

    key = ["addr_id", "building_id", "knn_rank"]
    slow = sorted(tuple(r) for r in
                  sj.pick_knn_topk(cands, k=3).select(*key).collect())
    fast = sorted(tuple(r) for r in
                  sj.pick_knn_topk(cands, k=3, unique_pairs=True)
                  .select(*key).collect())
    assert slow == fast and len(fast) > 0
    cands.unpersist()


def _hot_cell_frames(spark):
    """A synthetic hot fine cell: 3,000 addresses and 600 buildings
    (400 small squares plus 200 larger ones overlapping them, so the
    smallest-area pick matters), all inside ONE ``REFINE_INDEX_LEVEL``
    cell, over a sparse background (300 addresses, 150 buildings)
    spread across the fixture county."""
    import numpy as np

    from mergeaddressesandbuildings_spark.functions import cells, geom

    rng = np.random.default_rng(7)
    hot = cells.encode(np.array([34.85]), np.array([-82.40]),
                       config.REFINE_INDEX_LEVEL)
    c_lat0, c_lon0, c_lat1, c_lon1 = (float(v[0]) for v in cells.cell_bounds(hot))
    m_lat, m_lon = (c_lat1 - c_lat0) * 0.05, (c_lon1 - c_lon0) * 0.05
    lo_lat, hi_lat = c_lat0 + m_lat, c_lat1 - m_lat
    lo_lon, hi_lon = c_lon0 + m_lon, c_lon1 - m_lon

    def squares(lat0, lon0, side_lat, side_lon, first_id):
        rows = []
        for i, (la, lo, sa, so) in enumerate(zip(
                lat0.tolist(), lon0.tolist(), side_lat.tolist(), side_lon.tolist())):
            rla = [la, la, la + sa, la + sa, la]
            rlo = [lo, lo + so, lo + so, lo, lo]
            rows.append((first_id + i, rla, rlo, None, None,
                         float(geom.ring_area_m2(np.array(rla), np.array(rlo))),
                         la, lo, la + sa, lo + so))
        return rows

    small_lat = rng.uniform(lo_lat, hi_lat - 2e-4, 400)
    small_lon = rng.uniform(lo_lon, hi_lon - 2e-4, 400)
    big_lat = rng.uniform(lo_lat, hi_lat - 6e-4, 200)
    big_lon = rng.uniform(lo_lon, hi_lon - 6e-4, 200)
    bg_lat = rng.uniform(34.70, 35.00, 150)
    bg_lon = rng.uniform(-82.55, -82.20, 150)
    bld = (squares(small_lat, small_lon, rng.uniform(5e-5, 2e-4, 400),
                   rng.uniform(5e-5, 2e-4, 400), 1)
           + squares(big_lat, big_lon, rng.uniform(3e-4, 6e-4, 200),
                     rng.uniform(3e-4, 6e-4, 200), 10_001)
           + squares(bg_lat, bg_lon, np.full(150, 1e-4), np.full(150, 1e-4),
                     20_001))
    a_lat = np.concatenate([rng.uniform(lo_lat, hi_lat, 3000),
                            rng.uniform(34.70, 35.00, 300)])
    a_lon = np.concatenate([rng.uniform(lo_lon, hi_lon, 3000),
                            rng.uniform(-82.55, -82.20, 300)])
    addr = list(enumerate(zip(a_lat.tolist(), a_lon.tolist())))
    addr = [(i, la, lo) for i, (la, lo) in addr]
    addresses = spark.createDataFrame(
        addr, "addr_id long, lat double, lon double").repartition(8)
    buildings = spark.createDataFrame(
        bld, "building_id long, ring_lats array<double>, ring_lons array<double>, "
             "hole_lats array<array<double>>, hole_lons array<array<double>>, "
             "area_m2 double, min_lat double, min_lon double, "
             "max_lat double, max_lon double").repartition(8)
    return addresses.persist(), buildings.persist()


def test_pair_join_hot_cell_skew_split(spark):
    """Regression pin for the shuffle path's skew handling: with AQE
    forced to split the hot cell's join partition, the pair-join's
    winners equal the broadcast index's on the same inputs."""
    addresses, buildings = _hot_cell_frames(spark)
    bidx = sj.broadcast_index_for(buildings, config.BROADCAST_BUILDINGS_MAX)
    want_pip = _fp(sj.pick_pip_winner(
        sj.pip_candidates(addresses, buildings, broadcast_index=bidx)))
    want_knn = _fp(sj.pick_knn_winner(
        sj.knn_candidates(addresses, buildings, broadcast_index=bidx)))

    forced = {
        # a shuffled join (a broadcast join has no partition to split),
        # a hot partition far above both skew bounds, and split targets
        # small enough that the hot cell's ~tens of KB make several splits
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    }
    saved = {k: spark.conf.get(k, None) for k in forced}
    try:
        for k, v in forced.items():
            spark.conf.set(k, v)
        got_pip, pip_plan = _fp_and_plan(sj.pick_pip_winner(
            sj.pip_candidates(addresses, buildings)))
        got_knn, knn_plan = _fp_and_plan(sj.pick_knn_winner(
            sj.knn_candidates(addresses, buildings)))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        addresses.unpersist()
        buildings.unpersist()
    assert got_pip == want_pip and got_pip[1] > 0
    assert got_knn == want_knn and got_knn[1] > 0
    # the hot cell's join partition was split on both legs
    assert "skew=true" in pip_plan, pip_plan
    assert "skew=true" in knn_plan, knn_plan
