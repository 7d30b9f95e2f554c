"""Property test of the Iceberg write paths (sources/iceberg.py): seeded
random sequences of append, positional delete, equality delete,
merge-on-read upsert, compaction and snapshot expiry on a small (k, g)
table partitioned by g, with ``read_iceberg`` compared against a pandas
model of the table after every step. The examples are derandomized and
the budget bounded, so the run is the same on every machine."""

import shutil
import tempfile

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from mergeaddressesandbuildings_spark.sources import iceberg as ice

VALS = st.integers(0, 3)  # k and g share a small range, so deletes hit
ROWS = st.lists(st.tuples(VALS, VALS), max_size=4)
COLS = st.sampled_from(["k", "g"])

STEPS = st.one_of(
    st.tuples(st.just("append"), ROWS.filter(bool)),
    st.tuples(st.just("delete_where"), COLS, VALS),
    st.tuples(st.just("add_equality_deletes"), COLS,
              st.lists(VALS, min_size=1, max_size=2)),
    st.tuples(st.just("merge_upsert"), ROWS,
              st.lists(VALS, max_size=2)),
    st.tuples(st.just("compact_table")),
    st.tuples(st.just("expire_snapshots")),
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, g long")


def _apply(spark, t, model: pd.DataFrame, step) -> pd.DataFrame:
    """Run one step on the table at ``t``; return the model after it."""
    op, *args = step
    if op == "append":
        ice.append_iceberg(_frame(spark, args[0]), t)
        return pd.concat([model, pd.DataFrame(args[0], columns=["k", "g"])])
    if op == "delete_where":
        col, v = args
        ice.delete_where(spark, t, f"{col} = {v}")
        return model[model[col] != v]
    if op == "add_equality_deletes":
        col, vals = args
        ice.add_equality_deletes(
            spark, t, _frame(spark, [(v, v) for v in vals]), [col])
        return model[~model[col].isin(vals)]
    if op == "merge_upsert":
        updates, drop = args
        ice.merge_upsert(
            spark, t, _frame(spark, updates), ["k"],
            deletes=_frame(spark, [(k, 0) for k in drop]).select("k")
            if drop else None)
        gone = {k for k, _ in updates} | set(drop)
        return pd.concat([model[~model["k"].isin(gone)],
                          pd.DataFrame(updates, columns=["k", "g"])])
    if op == "compact_table":
        ice.compact_table(spark, t)
    else:
        ice.expire_snapshots(t, keep_last=1)
    return model


@settings(max_examples=12, derandomize=True, database=None, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(initial=ROWS.filter(bool), steps=st.lists(STEPS, min_size=3,
                                                 max_size=6))
def test_write_paths_match_model(spark, initial, steps):
    root = tempfile.mkdtemp(prefix="ice_prop_")
    t = f"{root}/t"
    try:
        ice.write_iceberg(_frame(spark, initial), t, partition_by=["g"])
        model = pd.DataFrame(initial, columns=["k", "g"])
        for i, step in enumerate(steps):
            model = _apply(spark, t, model, step)
            got = sorted((r.k, r.g) for r in
                         ice.read_iceberg(spark, t).collect())
            want = sorted(map(tuple, model[["k", "g"]].values.tolist()))
            assert got == want, (i, step)
    finally:
        shutil.rmtree(root, ignore_errors=True)
