"""Physical-plan shape assertions (SURVEY.md §4): the optimizations the
engine relies on at 100 TB must be visible in `.explain`, not assumed —
filter pushdown reaching the parquet scan, column pruning, broadcast
hash joins for small dimensions, and no cartesian products or
row-at-a-time Python UDFs anywhere in the flagship plan."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def explain(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_totalprice")
    )
    plan = explain(df)
    assert "PushedFilters" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey")
    plan = explain(df)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema  # untouched columns pruned


def test_small_dim_join_broadcasts(spark):
    from mergeaddressesandbuildings_spark.plans.queries import QUERIES

    plan = explain(QUERIES["broadcast_nation_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_flagship_plan_has_no_cartesian_or_python_udf(spark):
    from mergeaddressesandbuildings_spark.plans.merge import run_merge
    from mergeaddressesandbuildings_spark.sources import pages as pg

    res = run_merge(spark, pg.pages_df(spark, 200), pg.existing_osm_df(spark, 200))
    plan = explain(res.tiles)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF operator


# Brute-force O(n²) baselines documented as such (each has a bucketed
# scale-path sibling): allowed to plan a nested-loop/cartesian join.
_BRUTE_FORCE_OK = {
    "ann_cosine_topk", "embedding_near_dup", "embedding_dup_clusters",
}
# queries that execute eagerly at build time (real streaming runs /
# iterative fixpoints) — no single final plan to inspect statically
_EAGER = {"events_stream_tumbling", "doc_stream_dedupe",
          "events_stream_join", "doc_link_pagerank",
          "embedding_kmeans_clusters", "spatial_eps_clusters",
          "bpe_merges", "snapshot_time_travel",
          "doc_dup_clusters", "merge_assignments", "merge_output_sets",
          "merge_tiles", "merge_holes"}


def test_every_query_plan_is_scale_shaped(spark):
    """Sweep the whole driver registry: no row-at-a-time Python UDF
    operator anywhere, and nested-loop/cartesian joins only in the
    documented brute-force baselines."""
    from mergeaddressesandbuildings_spark.plans.queries import QUERIES

    for name, fn in sorted(QUERIES.items()):
        if name in _EAGER:
            continue
        plan = explain(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
        if name not in _BRUTE_FORCE_OK:
            assert "CartesianProduct" not in plan, f"{name}: cartesian join"
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"


def test_pair_join_strategy_is_equi_join(spark):
    """The spatial join must reach Catalyst as an equi-join on the cell
    key (shuffle/broadcast hash join), never a theta join."""
    from mergeaddressesandbuildings_spark.operators import extract, spatial_join as sj
    from mergeaddressesandbuildings_spark import config
    from mergeaddressesandbuildings_spark.sources import pages as pg

    records = extract.extract_records(pg.pages_df(spark, 200), level=config.CELL_LEVEL)
    addresses, buildings = extract.split_records(records)
    plan = explain(sj.pip_candidates(addresses, buildings))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
