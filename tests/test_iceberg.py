"""Iceberg v2 format layer (sources/iceberg.py + sources/avroio.py).

What's pinned here:
- the pure-Python Avro object-container codec round-trips every type
  Iceberg metadata uses (records, unions, arrays, maps, enum, fixed,
  named references) under both supported codecs, decodes
  negative-count blocks (the spec's size-prefixed form real writers
  emit), and refuses unsupported codecs loudly;
- table round-trip: write → read equals the source frame, across
  appends, snapshot time travel (by id and by timestamp);
- identity partitioning: the source column is physically absent from
  data files (Spark partitionBy) and the reader re-attaches it from
  manifest partition metadata per the spec;
- scan planning is metadata-only and prunes files via identity
  partition values AND per-file column bounds, with pruned reads
  bit-equal to unpruned-then-filtered reads;
- merge-on-read: positional deletes (data_seq <= delete_seq) and
  equality deletes (data_seq < delete_seq, null-safe match) — the
  sequence-number rules, including the "rows appended after an
  equality delete survive" case;
- manifest files we write carry the spec's field ids, so they are
  checkable against the public spec (and our generic decoder reads
  them through the same path it would read Java-written manifests).
"""

import json
import os
import time

import pytest

from mergeaddressesandbuildings_spark.sources import avroio
from mergeaddressesandbuildings_spark.sources import iceberg as ice

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------
# avro codec
# ---------------------------------------------------------------------

ALL_TYPES_SCHEMA = {
    "type": "record", "name": "t", "fields": [
        {"name": "l", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "d", "type": "double"},
        {"name": "f", "type": "float"},
        {"name": "bo", "type": "boolean"},
        {"name": "n", "type": ["null", "long"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["X", "Y"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "FX",
                                "size": 2}},
        {"name": "nested", "type": {
            "type": "record", "name": "inner",
            "fields": [{"name": "x", "type": "long"}]}},
        {"name": "ref", "type": "inner"},  # named-type reference
    ]}

ALL_TYPES_ROWS = [
    {"l": -(1 << 62), "i": -1, "s": "héllo", "b": b"\x00\xff",
     "d": -2.5, "f": 1.5, "bo": True, "n": None, "arr": [1, -2, 3],
     "m": {"a": "1", "b": "2"}, "e": "Y", "fx": b"ab",
     "nested": {"x": 7}, "ref": {"x": -7}},
    {"l": 0, "i": 2147483647, "s": "", "b": b"", "d": 0.0, "f": -0.5,
     "bo": False, "n": 42, "arr": [], "m": {}, "e": "X", "fx": b"cd",
     "nested": {"x": 0}, "ref": {"x": 1}},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip_all_types(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    avroio.write_container(p, ALL_TYPES_SCHEMA, ALL_TYPES_ROWS,
                           codec=codec)
    schema, rows = avroio.read_container(p)
    assert schema == ALL_TYPES_SCHEMA
    assert rows == ALL_TYPES_ROWS


def test_avro_negative_count_blocks(tmp_path):
    """Real writers may emit array/map blocks with a NEGATIVE count
    followed by a byte size (spec); our writer doesn't, so hand-craft
    the encoding and check the decoder handles it."""
    import io
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": {"type": "array", "items": "long"}}]}
    body = io.BytesIO()
    avroio._write_long(body, -2)          # block: 2 items, sized form
    size_probe = io.BytesIO()
    avroio._write_long(size_probe, 10)
    avroio._write_long(size_probe, 20)
    avroio._write_long(body, len(size_probe.getvalue()))
    body.write(size_probe.getvalue())
    avroio._write_long(body, 0)           # terminator
    cur = avroio._Cursor(body.getvalue())
    assert avroio._decode(schema, cur, {}) == {"a": [10, 20]}


def test_avro_unsupported_codec_is_loud(tmp_path):
    with pytest.raises(avroio.AvroCodecError):
        avroio.write_container(str(tmp_path / "x.avro"),
                               {"type": "record", "name": "r",
                                "fields": []}, [], codec="snappy")


def test_avro_empty_file_roundtrip(tmp_path):
    p = str(tmp_path / "e.avro")
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    avroio.write_container(p, schema, [])
    s, rows = avroio.read_container(p)
    assert s == schema and rows == []


# ---------------------------------------------------------------------
# table round-trip + time travel
# ---------------------------------------------------------------------

def test_roundtrip_and_time_travel(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    time.sleep(0.01)  # distinct commit timestamps for as_of
    s2 = ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    assert ice.snapshot_ids(t) == [s1, s2]
    assert _rows(ice.read_iceberg(spark, t)) == _rows(docs)
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=s1)) == _rows(
        docs.filter("doc_id % 2 = 0"))
    meta = ice.load_metadata(t)
    log = meta["snapshot-log"]
    assert [e["snapshot-id"] for e in log] == [s1, s2]
    # as_of at snap1's commit time sees snap1; before it sees nothing
    t1 = log[0]["timestamp-ms"]
    assert ice.read_iceberg(spark, t, as_of_ms=t1).count() == \
        docs.filter("doc_id % 2 = 0").count()
    empty = ice.read_iceberg(spark, t, as_of_ms=t1 - 10_000)
    assert empty.count() == 0
    assert set(empty.columns) == set(docs.columns)


def test_write_refuses_existing_table(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t)
    with pytest.raises(ice.IcebergError):
        ice.write_iceberg(docs, t)


# ---------------------------------------------------------------------
# identity partitioning + pruning
# ---------------------------------------------------------------------

def test_identity_partition_attach_and_prune(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t, partition_by=["lang"])
    # partition column must be physically ABSENT from the data files
    import pyarrow.parquet as pq
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    files, _ = ice.plan_scan(meta, snap)
    assert "lang" not in pq.ParquetFile(files[0].path).schema_arrow.names
    # ... and re-attached from manifest metadata on read
    assert _rows(ice.read_iceberg(spark, t)) == _rows(docs)
    # metadata-only partition pruning
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    one = [f for f in files if f.partition["lang"] == langs[0]]
    pruned, _ = ice.plan_scan(meta, snap,
                              row_filter=[("lang", "=", langs[0])])
    assert {f.path for f in pruned} == {f.path for f in one}
    assert len(pruned) < len(files)
    # pruned read == unpruned read filtered (pruning is sound)
    got = ice.read_iceberg(spark, t,
                           row_filter=[("lang", "=", langs[0])])
    assert _rows(got.filter(got.lang == langs[0])) == _rows(
        docs.filter(docs.lang == langs[0]))


def test_bounds_pruning_sound_and_effective(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs.repartitionByRange(4, "doc_id"), t)
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    allf, _ = ice.plan_scan(meta, snap)
    lo = docs.agg({"doc_id": "min"}).collect()[0][0]
    pruned, _ = ice.plan_scan(meta, snap,
                              row_filter=[("doc_id", "<=", lo + 3)])
    assert len(pruned) < len(allf)
    got = ice.read_iceberg(spark, t,
                           row_filter=[("doc_id", "<=", lo + 3)])
    assert _rows(got.filter(got.doc_id <= lo + 3)) == _rows(
        docs.filter(docs.doc_id <= lo + 3))
    # filter on a column with no prunable bound keeps everything
    keep, _ = ice.plan_scan(meta, snap,
                            row_filter=[("doc_id", ">=", lo)])
    assert len(keep) == len(allf)


def test_filter_validation_is_loud(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t)
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    with pytest.raises(ice.IcebergError):
        ice.plan_scan(meta, snap, row_filter=[("nope", "=", 1)])
    with pytest.raises(ice.IcebergError):
        ice.plan_scan(meta, snap, row_filter=[("doc_id", "!=", 1)])


# ---------------------------------------------------------------------
# merge-on-read deletes
# ---------------------------------------------------------------------

def test_positional_delete(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    s2 = ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    ice.delete_where(spark, t, "doc_id % 7 = 0")
    assert _rows(ice.read_iceberg(spark, t)) == _rows(
        docs.filter("doc_id % 7 != 0"))
    # time travel to before the delete still sees every row
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=s2)) == \
        _rows(docs)


def test_equality_delete_sequence_rule(spark, tmp_path):
    from pyspark.sql import functions as F
    docs = _docs(spark)
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    kill = langs[0]
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t)
    ice.add_equality_deletes(
        spark, t, docs.filter(docs.lang == kill).select("lang"),
        ["lang"])
    assert _rows(ice.read_iceberg(spark, t)) == _rows(
        docs.filter(docs.lang != kill))
    # rows appended AFTER the equality delete are NOT affected
    # (delete applies only to data_seq < delete_seq per spec)
    extra = (docs.filter(docs.lang == kill).limit(3)
             .withColumn("doc_id", F.col("doc_id") + 10_000_000))
    ice.append_iceberg(extra, t)
    got = ice.read_iceberg(spark, t)
    assert got.count() == docs.filter(docs.lang != kill).count() + 3
    assert got.filter(got.lang == kill).count() == 3


def test_pos_and_eq_deletes_compose(spark, tmp_path):
    docs = _docs(spark)
    langs = sorted(r[0] for r in docs.select("lang").distinct().collect())
    kill = langs[-1]
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t, partition_by=["lang"])
    ice.delete_where(spark, t, "doc_id % 5 = 0")
    ice.add_equality_deletes(
        spark, t, docs.filter(docs.lang == kill).select("lang"),
        ["lang"])
    assert _rows(ice.read_iceberg(spark, t)) == _rows(
        docs.filter((docs.doc_id % 5 != 0) & (docs.lang != kill)))


# ---------------------------------------------------------------------
# spec fidelity of written metadata
# ---------------------------------------------------------------------

def test_manifest_schema_carries_spec_field_ids(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t)
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    mlist_schema, manifests = avroio.read_container(
        ice._local(snap["manifest-list"]))
    ml_ids = {f["field-id"]: f["name"] for f in mlist_schema["fields"]}
    # Iceberg spec: manifest-list field ids
    assert ml_ids[500] == "manifest_path"
    assert ml_ids[501] == "manifest_length"
    assert ml_ids[517] == "content"
    assert ml_ids[515] == "sequence_number"
    m_schema, entries = avroio.read_container(
        ice._local(manifests[0]["manifest_path"]))
    e_ids = {f["field-id"]: f["name"] for f in m_schema["fields"]}
    assert e_ids[0] == "status" and e_ids[2] == "data_file"
    df_fields = next(f for f in m_schema["fields"]
                     if f["name"] == "data_file")["type"]["fields"]
    d_ids = {f["field-id"]: f["name"] for f in df_fields}
    assert d_ids[100] == "file_path"
    assert d_ids[103] == "record_count"
    assert d_ids[125] == "lower_bounds"
    assert d_ids[134] == "content"
    # entries carry real stats
    e0 = entries[0]["data_file"]
    assert e0["record_count"] > 0
    assert e0["lower_bounds"] is not None
    # table properties publish a name mapping for field-id-less parquet
    nm = json.loads(
        meta["properties"]["schema.name-mapping.default"])
    assert {m["names"][0] for m in nm} == set(docs.columns)


def test_version_hint_and_metadata_files_progress(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs.limit(3), t)
    ice.append_iceberg(docs.limit(5), t)
    md = os.path.join(t, "metadata")
    with open(os.path.join(md, "version-hint.text")) as fh:
        assert fh.read().strip() == "2"
    assert os.path.exists(os.path.join(md, "v1.metadata.json"))
    assert os.path.exists(os.path.join(md, "v2.metadata.json"))
    meta = ice.load_metadata(t)
    assert meta["format-version"] == 2
    assert meta["last-sequence-number"] == 2
    snaps = meta["snapshots"]
    assert snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]


def test_large_delete_side_pins_shuffle_hash(spark, tmp_path, monkeypatch):
    """Scale guard: when the manifests' record_count total for a delete
    group exceeds BROADCAST_DELETE_ROWS (or a foreign writer omitted
    counts), the MoR anti-joins must plan WITHOUT a broadcast build —
    no join build may grow with total delete volume — and the result
    must be bit-identical to the broadcast path."""
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t)
    ice.delete_where(spark, t, "doc_id % 5 = 0")
    ice.add_equality_deletes(
        spark, t, docs.filter("doc_id % 3 = 0").select("lang").limit(1),
        ["lang"])
    want = _rows(ice.read_iceberg(spark, t))
    plan_b = ice.read_iceberg(spark, t)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b  # small deletes do broadcast

    monkeypatch.setattr(ice, "BROADCAST_DELETE_ROWS", 0)
    got_df = ice.read_iceberg(spark, t)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert _rows(got_df) == want


def test_one_anti_join_per_delete_kind(spark, tmp_path):
    """Deletes from many commits apply in ONE anti-join per kind (per
    equality-column set), each row keeping its own commit's sequence
    rule: three equality-delete commits and two positional-delete
    commits plan two joins, and rows appended after an equality delete
    survive it while a later one on the same column still applies."""
    t = str(tmp_path / "t")
    ice.write_iceberg(
        spark.range(60).selectExpr("id as k", "id % 6 as g"), t)
    for g in (0, 1, 2):
        ice.add_equality_deletes(
            spark, t, spark.createDataFrame([(g,)], "g long"), ["g"])
    ice.delete_where(spark, t, "k < 10")
    ice.delete_where(spark, t, "k >= 55")
    got = ice.read_iceberg(spark, t)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 2
    want = [k for k in range(60) if k % 6 > 2 and 10 <= k < 55]
    assert sorted(r.k for r in got.collect()) == want

    ice.append_iceberg(spark.createDataFrame([(100, 0), (101, 3)],
                                             "k long, g long"), t)
    ice.add_equality_deletes(
        spark, t, spark.createDataFrame([(3,)], "g long"), ["g"])
    assert sorted(r.k for r in ice.read_iceberg(spark, t).collect()) == \
        [k for k in want if k % 6 != 3] + [100]


def test_foreign_manifest_without_counts_avoids_broadcast(spark, tmp_path):
    """A DeleteTask with record_count=-1 (foreign writer omitted the
    optional stat) must be treated as too big to broadcast."""
    from pyspark.sql import functions as F

    dels = spark.range(3).select(F.lit("x").alias("lang"))
    side = ice._delete_side(
        dels, [ice.DeleteTask("p", 1, "eq", ["lang"], record_count=-1)])
    plan = side.join(
        spark.range(10).select(F.lit("x").alias("lang")),
        "lang", "inner")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan


# ---------------------------------------------------------------------
# schema evolution (spec: Schema Evolution — field-id resolution)
# ---------------------------------------------------------------------

def test_evolution_add_rename_promote(spark, tmp_path):
    from pyspark.sql import types as T
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, "b")],
        schema="id int, v float, name string")
    s1 = ice.write_iceberg(df, t)
    ice.evolve_schema(t, add=[("score", "long")],
                      rename={"name": "label"},
                      retype={"id": "long", "v": "double"})
    out = ice.read_iceberg(spark, t)
    assert [f.name for f in out.schema.fields] == \
        ["id", "v", "label", "score"]
    assert out.schema["id"].dataType == T.LongType()
    assert out.schema["v"].dataType == T.DoubleType()
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["label"] == "a" and rows[1]["score"] is None
    assert rows[2]["v"] == 2.5
    # appends under the evolved schema coexist with pre-evolution files
    ice.append_iceberg(
        spark.createDataFrame([(3, 3.5, "c", 30)],
                              schema="id long, v double, "
                                     "label string, score long"), t)
    out2 = ice.read_iceberg(spark, t)
    assert out2.count() == 3
    assert {r["score"] for r in out2.collect()} == {None, 30}
    # time travel projects the SNAPSHOT's schema (old names/types)
    old = ice.read_iceberg(spark, t, snapshot_id=s1)
    assert [f.name for f in old.schema.fields] == ["id", "v", "name"]
    assert old.schema["id"].dataType == T.IntegerType()
    assert _rows(old) == _rows(df)


def test_evolution_drop_then_readd_never_resurrects(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame([(1, "secret"), (2, "hidden")],
                              schema="k long, tag string"), t)
    ice.evolve_schema(t, drop=["tag"])
    assert ice.read_iceberg(spark, t).columns == ["k"]
    ice.evolve_schema(t, add=[("tag", "string")])  # fresh field id
    ice.append_iceberg(
        spark.createDataFrame([(3, "new")], schema="k long, tag string"),
        t)
    got = {r["k"]: r["tag"] for r in ice.read_iceberg(spark, t).collect()}
    # spec: re-added column has a NEW id — old values must NOT reappear
    assert got == {1: None, 2: None, 3: "new"}


def test_evolution_partition_source_is_protected(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t, partition_by=["lang"])
    with pytest.raises(ice.IcebergError, match="partition spec"):
        ice.evolve_schema(t, rename={"lang": "language"})
    with pytest.raises(ice.IcebergError, match="partition spec"):
        ice.evolve_schema(t, drop=["lang"])


def test_evolution_rejects_unsafe_and_unknown(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame([(1, "a")], schema="k long, s string"), t)
    with pytest.raises(ice.IcebergError, match="not a safe promotion"):
        ice.evolve_schema(t, retype={"k": "int"})  # narrowing
    with pytest.raises(ice.IcebergError, match="not in schema"):
        ice.evolve_schema(t, drop=["nope"])
    with pytest.raises(ice.IcebergError, match="already in schema"):
        ice.evolve_schema(t, add=[("s", "string")])
    with pytest.raises(ice.IcebergError, match="already in schema"):
        ice.evolve_schema(t, rename={"k": "s"})


def test_bounds_pruning_survives_rename_and_promotion(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(i,) for i in range(100)],
                               schema="id int")
    ice.write_iceberg(df.filter("id < 50").coalesce(1), t)
    ice.append_iceberg(df.filter("id >= 50").coalesce(1), t)
    ice.evolve_schema(t, retype={"id": "long"})
    ice.evolve_schema(t, rename={"id": "doc_key"})
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    allf, _ = ice.plan_scan(meta, snap)
    # the filter names the NEW column; bound bytes were written as
    # 4-byte ints — pruning must still drop the low file
    kept, _ = ice.plan_scan(meta, snap,
                            row_filter=[("doc_key", ">=", 50)])
    assert len(allf) == 2 and len(kept) == 1
    got = ice.read_iceberg(spark, t,
                           row_filter=[("doc_key", ">=", 50)])
    assert sorted(r["doc_key"] for r in got.collect()) == \
        list(range(50, 100))


def test_eq_delete_pre_rename_applies_post_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")],
                              schema="k long, s string"), t)
    ice.add_equality_deletes(
        spark, t, spark.createDataFrame([("x",)], ["s"]), ["s"])
    ice.evolve_schema(t, rename={"s": "tag"})
    got = ice.read_iceberg(spark, t)
    assert got.columns == ["k", "tag"]
    # the delete file stores column "s"; field-id resolution still
    # applies it to the renamed read schema
    assert sorted(r["k"] for r in got.collect()) == [2]


def test_delete_where_condition_on_renamed_column(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                              schema="k long, old_v long"), t)
    ice.evolve_schema(t, rename={"old_v": "value"})
    ice.delete_where(spark, t, "value >= 20")
    assert sorted(r["k"] for r in
                  ice.read_iceberg(spark, t).collect()) == [1]


# ---------------------------------------------------------------------
# metadata tables + maintenance (compaction, snapshot expiry)
# ---------------------------------------------------------------------

def test_metadata_tables(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    s2 = ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    ice.delete_where(spark, t, "doc_id % 7 = 0")

    snaps = ice.metadata_table(spark, t, "snapshots").collect()
    assert [r["snapshot_id"] for r in snaps] == [s1, s2, s2 + 1]
    assert [r["operation"] for r in snaps] == \
        ["append", "append", "delete"]
    assert snaps[1]["parent_id"] == s1

    hist = ice.metadata_table(spark, t, "history").collect()
    assert len(hist) == 3
    assert all(r["is_current_ancestor"] for r in hist)

    mfs = ice.metadata_table(spark, t, "manifests")
    assert mfs.count() == 3  # two data manifests + one delete manifest
    assert mfs.filter("content = 1").count() == 1

    files = ice.metadata_table(spark, t, "files")
    n_data = files.filter("content = 0").count()
    n_posdel = files.filter("content = 1").count()
    assert n_data >= 2 and n_posdel == 1
    total = files.filter("content = 0").groupBy().sum(
        "record_count").collect()[0][0]
    assert total == docs.count()

    with pytest.raises(ice.IcebergError, match="unknown metadata"):
        ice.metadata_table(spark, t, "partitions")


def test_compaction_materializes_deletes(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t, partition_by=["lang"])
    ice.delete_where(spark, t, "doc_id % 3 = 0")
    before = _rows(ice.read_iceberg(spark, t))
    pre_sid = ice.select_snapshot(ice.load_metadata(t))["snapshot-id"]

    sid = ice.compact_table(spark, t)
    after = _rows(ice.read_iceberg(spark, t))
    assert after == before  # bit-identical rows
    meta = ice.load_metadata(t)
    snap = ice.select_snapshot(meta)
    assert snap["snapshot-id"] == sid
    assert snap["summary"]["operation"] == "replace"
    data, deletes = ice.plan_scan(meta, snap)
    assert deletes == []  # MoR deletes materialized away
    # pre-compaction snapshot still time-travels (incl. its deletes)
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=pre_sid)) \
        == before


def test_expire_snapshots_gc(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    ice.delete_where(spark, t, "doc_id % 5 = 0")
    keep_rows = _rows(ice.read_iceberg(spark, t))
    ice.compact_table(spark, t)

    res = ice.expire_snapshots(t, keep_last=1)
    assert res["expired_snapshots"] == 3
    assert res["deleted_files"] > 0
    # current state is untouched
    assert _rows(ice.read_iceberg(spark, t)) == keep_rows
    # the expired snapshot is gone from metadata — time travel raises
    with pytest.raises(ice.IcebergError, match="not found"):
        ice.read_iceberg(spark, t, snapshot_id=s1)
    # idempotent once everything else is expired
    assert ice.expire_snapshots(t, keep_last=5) == \
        {"expired_snapshots": 0, "deleted_files": 0}
    with pytest.raises(ice.IcebergError, match="exactly one"):
        ice.expire_snapshots(t)


def test_expire_keeps_shared_files_of_retained_snapshots(spark,
                                                         tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    s2 = ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    s3 = ice.append_iceberg(
        docs.filter("doc_id % 2 = 1").limit(0), t)  # empty append
    # expire only snapshot 1; snapshots 2 and 3 share its data files
    res = ice.expire_snapshots(t, keep_last=2)
    assert res["expired_snapshots"] == 1
    # shared data files survive: both retained snapshots still read
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=s2)) == \
        _rows(docs)
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=s3)) == \
        _rows(docs)


# ---------------------------------------------------------------------
# nested types + flagship merge over Iceberg inputs
# ---------------------------------------------------------------------

def _canon(df):
    from pyspark.sql import functions as F
    return tuple(df.select(
        F.xxhash64(F.to_json(F.struct(*df.columns))).alias("h"))
        .agg(F.bit_xor("h"), F.count("*")).collect()[0])


def test_nested_types_roundtrip(spark, tmp_path):
    from mergeaddressesandbuildings_spark.sources import pages as pg
    t = str(tmp_path / "t")
    ex = pg.existing_osm_df(spark, 500)  # array<struct>, nested arrays, map
    ice.write_iceberg(ex, t)
    back = ice.read_iceberg(spark, t)
    assert back.schema.simpleString() == ex.schema.simpleString()
    assert _canon(back) == _canon(ex)
    # nested field ids are unique across the whole tree and
    # last-column-id dominates them (evolution can't mint collisions)
    meta = ice.load_metadata(t)
    sch = ice._current_schema(meta)
    ids = []

    def walk(t_):
        if isinstance(t_, str):
            return
        k = t_.get("type")
        if k == "struct":
            for f in t_["fields"]:
                ids.append(f["id"])
                walk(f["type"])
        elif k == "list":
            ids.append(t_["element-id"])
            walk(t_["element"])
        elif k == "map":
            ids.extend([t_["key-id"], t_["value-id"]])
            walk(t_["key"])
            walk(t_["value"])
    walk(sch)
    assert len(ids) == len(set(ids))
    assert meta["last-column-id"] == max(ids)


def test_nested_partition_source_is_loud(spark, tmp_path):
    from mergeaddressesandbuildings_spark.sources import pages as pg
    ex = pg.existing_osm_df(spark, 100)
    with pytest.raises(ice.IcebergError, match="nested type"):
        ice.write_iceberg(ex, str(tmp_path / "t"), partition_by=["ring"])


def test_merge_over_iceberg_inputs_bit_identical(spark, tmp_path):
    """The north-rule shape end-to-end: the flagship merge reading its
    page corpus (url, warc_ts, html, text, lang) AND its existing-OSM
    state from real Iceberg v2 tables produces the exact same
    assignments as the parquet path."""
    from pyspark.sql import functions as F

    from mergeaddressesandbuildings_spark.plans.merge import run_merge
    from mergeaddressesandbuildings_spark.sources import pages as pg

    n = 500
    pt, et = str(tmp_path / "pages"), str(tmp_path / "existing")
    ice.write_iceberg(pg.pages_df(spark, n), pt)
    ice.write_iceberg(pg.existing_osm_df(spark, n), et)

    def fp(res):
        a = res.assignments
        return tuple(a.select(F.xxhash64(F.to_json(F.struct(
            *sorted(a.columns)))).alias("h"))
            .agg(F.bit_xor("h"), F.count("*")).collect()[0])

    direct = run_merge(spark, pg.pages_df(spark, n),
                       pg.existing_osm_df(spark, n))
    via_ice = run_merge(spark, ice.read_iceberg(spark, pt),
                        ice.read_iceberg(spark, et))
    assert fp(via_ice) == fp(direct)


def test_retype_nested_is_loud_not_typeerror(spark, tmp_path):
    from mergeaddressesandbuildings_spark.sources import pages as pg
    t = str(tmp_path / "t")
    ice.write_iceberg(pg.existing_osm_df(spark, 50), t)
    with pytest.raises(ice.IcebergError, match="nested types cannot"):
        ice.evolve_schema(t, retype={"ring": "string"})


def test_nonnull_array_elements_roundtrip(spark, tmp_path):
    # array(struct(...)) built inline has containsNull=False; the
    # written schema must stay all-optional or the read-side schema
    # normalization trips a NOT_NULL_CONSTRAINT_VIOLATION
    t = str(tmp_path / "t")
    df = spark.range(5).selectExpr(
        "id", "array(struct(cast(id as double) as lat, "
              "cast(id as double) as lon)) as ring")
    ice.write_iceberg(df, t)
    back = ice.read_iceberg(spark, t)
    assert back.count() == 5
    assert _canon(back.select("id", "ring")) == \
        _canon(df.select("id", "ring"))


# ---------------------------------------------------------------------
# named refs (tags + branches)
# ---------------------------------------------------------------------

def test_refs_tag_branch_and_expiry_retention(spark, tmp_path):
    docs = _docs(spark)
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(docs.filter("doc_id % 2 = 0"), t)
    ice.create_ref(t, "v1", kind="tag")           # tag at snapshot 1
    s2 = ice.append_iceberg(docs.filter("doc_id % 2 = 1"), t)
    ice.create_ref(t, "audit", kind="branch", snapshot_id=s1)

    # refs survive later commits (s2 was committed after the tag)
    meta = ice.load_metadata(t)
    assert meta["refs"]["v1"] == {"snapshot-id": s1, "type": "tag"}
    assert meta["refs"]["main"]["snapshot-id"] == s2

    # tag read == snapshot-1 content
    assert _rows(ice.read_iceberg(spark, t, ref="v1")) == \
        _rows(docs.filter("doc_id % 2 = 0"))
    # schema semantics: tag projects the snapshot's schema, branch the
    # table's current schema
    ice.evolve_schema(t, rename={"lang": "language"})
    assert "lang" in ice.read_iceberg(spark, t, ref="v1").columns
    assert "language" in ice.read_iceberg(spark, t,
                                          ref="audit").columns

    # expiry retains ref'd snapshots
    res = ice.expire_snapshots(t, keep_last=1)
    assert res["expired_snapshots"] == 0  # s1 is ref'd, s2 is current
    ice.drop_ref(t, "v1")
    ice.drop_ref(t, "audit")
    res = ice.expire_snapshots(t, keep_last=1)
    assert res["expired_snapshots"] == 1

    with pytest.raises(ice.IcebergError, match="not found"):
        ice.read_iceberg(spark, t, ref="v1")
    with pytest.raises(ice.IcebergError, match="managed by commits"):
        ice.create_ref(t, "main")
    with pytest.raises(ice.IcebergError, match="cannot be dropped"):
        ice.drop_ref(t, "main")
    with pytest.raises(ice.IcebergError, match="not both"):
        ice.read_iceberg(spark, t, ref="x", snapshot_id=1)


def test_stale_parent_commit_conflicts_not_lost_update(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id as k")
    ice.write_iceberg(df, t)
    stale = ice.load_metadata(t)           # writer B's view (v1)
    ice.append_iceberg(df, t)              # writer A commits v2
    b_rows = spark.range(100, 110).selectExpr("id as k")
    with pytest.raises(ice.IcebergError, match="CommitConflict"):
        ice._append(b_rows, t, partition_by=None, parent=stale)
    # A's snapshot survived; the loser changed nothing — not even the
    # manifest list or manifest A's snapshot names
    meta = ice.load_metadata(t)
    assert len(meta["snapshots"]) == 2
    assert sorted(r.k for r in ice.read_iceberg(spark, t).collect()) == \
        sorted(list(range(10)) * 2)


def test_metadata_version_is_created_exclusively(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(spark.range(3).selectExpr("id as k"), t)
    meta = ice.load_metadata(t)
    ice.create_ref(t, "r1")                # publishes v2
    with pytest.raises(ice.IcebergError, match="CommitConflict"):
        ice._write_metadata_version(t, meta)  # same parent -> same v2


def test_remove_orphan_files(spark, tmp_path):
    import time as _time

    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id as k")
    ice.write_iceberg(df, t)
    # a conflict loser: stale-parent append writes its data files
    # under an attempt-unique root, then fails at the pointer swap
    stale = ice.load_metadata(t)
    ice.append_iceberg(df, t)
    with pytest.raises(ice.IcebergError, match="CommitConflict"):
        ice._append(df, t, partition_by=None, parent=stale)
    before = sum(len(fs) for _, _, fs in __import__("os").walk(t))

    future = int((_time.time() + 60) * 1000)  # everything is "old"
    res = ice.remove_orphan_files(t, older_than_ms=future)
    assert res["deleted_files"] > 0
    # current read and time travel are intact
    assert ice.read_iceberg(spark, t).count() == 40
    meta = ice.load_metadata(t)
    s1 = meta["snapshots"][0]["snapshot-id"]
    assert ice.read_iceberg(spark, t, snapshot_id=s1).count() == 20
    # idempotent
    assert ice.remove_orphan_files(t, older_than_ms=future) == \
        {"deleted_files": 0}
    after = sum(len(fs) for _, _, fs in __import__("os").walk(t))
    assert after == before - res["deleted_files"]
    # default grace period protects fresh unreferenced files
    import os as _os
    stray = _os.path.join(t, "data", "stray.parquet")
    _os.makedirs(_os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as fh:
        fh.write(b"x")
    assert ice.remove_orphan_files(t) == {"deleted_files": 0}
    assert _os.path.exists(stray)


def test_merge_upsert_single_atomic_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F
    docs = _docs(spark)
    t = str(tmp_path / "t")
    ice.write_iceberg(docs, t, partition_by=["lang"])
    n_snaps = len(ice.load_metadata(t)["snapshots"])
    pre = _rows(ice.read_iceberg(spark, t))

    # update a third of the rows (bump n_chars) + insert fresh keys
    updates = (docs.filter("doc_id % 3 = 0")
               .withColumn("n_chars", F.col("n_chars") + 1000)
               .unionByName(docs.limit(5).withColumn(
                   "doc_id", F.col("doc_id") + 5_000_000)))
    sid = ice.merge_upsert(spark, t, updates, keys=["doc_id"])

    # exactly ONE new snapshot carries both delete + append
    meta = ice.load_metadata(t)
    assert len(meta["snapshots"]) == n_snaps + 1
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"

    expected = (docs.filter("doc_id % 3 != 0").unionByName(updates))
    assert _rows(ice.read_iceberg(spark, t)) == _rows(expected)
    # the same-commit inserts survived their own equality delete
    got = ice.read_iceberg(spark, t)
    assert got.filter("doc_id >= 5000000").count() == 5
    # pre-upsert state intact via time travel
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=sid - 1)) == pre
    # a second upsert on the same keys converges (idempotent re-apply)
    ice.merge_upsert(spark, t, updates, keys=["doc_id"])
    assert _rows(ice.read_iceberg(spark, t)) == _rows(expected)
    # compaction materializes the MoR state away, content unchanged
    ice.compact_table(spark, t)
    assert _rows(ice.read_iceberg(spark, t)) == _rows(expected)

    with pytest.raises(ice.IcebergError, match="not in schema"):
        ice.merge_upsert(spark, t, updates, keys=["nope"])


# ---------------------------------------------------------------------
# multi-row-key MERGE (merge_upsert deletes=), changes-reads
# ---------------------------------------------------------------------

def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_merge_upsert_deletes_multi_row_keys(spark, tmp_path):
    """A key owns ALL of its rows: an update replaces however many rows
    the key had with however many it has now, ``deletes`` drops keys to
    zero rows, and update + insert + delete land as ONE snapshot whose
    own appended rows survive its own equality delete."""
    t = str(tmp_path / "t")
    ice.write_iceberg(_kv(spark, [("a", 1), ("a", 2), ("a", 3),
                                  ("b", 4), ("b", 5), ("c", 6)]), t)
    n_snaps = len(ice.load_metadata(t)["snapshots"])
    sid = ice.merge_upsert(
        spark, t,
        _kv(spark, [("a", 10), ("a", 11),    # 3 rows -> 2 (update)
                    ("d", 12)]),             # new key (insert)
        ["k"], deletes=_kv(spark, [("b", 0)]).select("k"))  # drop-to-zero
    meta = ice.load_metadata(t)
    assert len(meta["snapshots"]) == n_snaps + 1
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"
    assert _rows(ice.read_iceberg(spark, t)) == \
        [("a", 10), ("a", 11), ("c", 6), ("d", 12)]
    # the delete file is the distinct union of both key sets
    data, deletes = ice.plan_scan(meta, ice.select_snapshot(meta))
    assert [d.record_count for d in deletes] == [3]  # a, b, d
    # a delete-only key absent from the table is a no-op; a second
    # commit supersedes the first one's rows (chained deltas)
    ice.merge_upsert(spark, t, _kv(spark, [("c", 7)]), ["k"],
                     deletes=_kv(spark, [("a", 0), ("zz", 0)]).select("k"))
    assert _rows(ice.read_iceberg(spark, t)) == [("c", 7), ("d", 12)]
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=sid)) == \
        [("a", 10), ("a", 11), ("c", 6), ("d", 12)]


def test_merge_upsert_column_guards(spark, tmp_path):
    t = str(tmp_path / "t")
    ice.write_iceberg(_kv(spark, [("a", 1)]), t)
    extra = spark.createDataFrame([("a", 2, 9)], "k string, v long, x int")
    with pytest.raises(ice.IcebergError, match="updates columns"):
        ice.merge_upsert(spark, t, extra, ["k"])
    with pytest.raises(ice.IcebergError, match="updates columns"):
        ice.merge_upsert(spark, t, _kv(spark, [("a", 2)]).select("k"),
                         ["k"])
    with pytest.raises(ice.IcebergError, match="deletes columns"):
        ice.merge_upsert(spark, t, _kv(spark, [("a", 2)]), ["k"],
                         deletes=_kv(spark, [("a", 0)]))
    # nothing was committed by the rejected calls
    assert len(ice.load_metadata(t)["snapshots"]) == 1


def test_read_changes_append_ranges(spark, tmp_path):
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(_kv(spark, [("a", 1)]), t)
    s2 = ice.append_iceberg(_kv(spark, [("b", 2), ("c", 3)]), t)
    s3 = ice.append_iceberg(_kv(spark, [("d", 4)]), t)
    assert _rows(ice.read_changes(spark, t, s1, s3)) == \
        [("b", 2), ("c", 3), ("d", 4)]
    assert _rows(ice.read_changes(spark, t, s2, s3)) == [("d", 4)]
    empty = ice.read_changes(spark, t, s2, s2)
    assert empty.count() == 0 and empty.columns == ["k", "v"]
    with pytest.raises(ice.IcebergError, match="ancestor"):
        ice.read_changes(spark, t, s3, s1)


def test_read_changes_rejects_non_append(spark, tmp_path):
    t = str(tmp_path / "t")
    s1 = ice.write_iceberg(_kv(spark, [("a", 1)]), t)
    s2 = ice.merge_upsert(spark, t, _kv(spark, [("a", 2)]), ["k"])
    s3 = ice.append_iceberg(_kv(spark, [("b", 3)]), t)
    with pytest.raises(ice.IcebergError, match="'overwrite'"):
        ice.read_changes(spark, t, s1, s3)
    # a range past the overwrite is append-only again
    assert _rows(ice.read_changes(spark, t, s2, s3)) == [("b", 3)]


# ---------------------------------------------------------------------
# crash windows of the metadata publish
# ---------------------------------------------------------------------

def test_crash_between_metadata_and_hint_recovers(spark, tmp_path,
                                                  monkeypatch):
    """A commit that dies after vN.metadata.json is linked into place
    but before the hint moves is committed: the next reader sees it
    and the next writer builds on it instead of conflicting forever."""
    t = str(tmp_path / "t")
    ice.write_iceberg(_kv(spark, [("a", 1)]), t)

    def crash(md, v):
        raise KeyboardInterrupt("crash before the hint")

    monkeypatch.setattr(ice, "_write_version_hint", crash)
    with pytest.raises(KeyboardInterrupt):
        ice.append_iceberg(_kv(spark, [("b", 2)]), t)
    monkeypatch.undo()
    md = os.path.join(t, "metadata")
    with open(os.path.join(md, "version-hint.text")) as fh:
        assert fh.read().strip() == "1"  # the hint is one behind
    assert not [n for n in os.listdir(md) if n.endswith(".tmp")]
    assert _rows(ice.read_iceberg(spark, t)) == [("a", 1), ("b", 2)]
    ice.append_iceberg(_kv(spark, [("c", 3)]), t)
    assert _rows(ice.read_iceberg(spark, t)) == \
        [("a", 1), ("b", 2), ("c", 3)]
    with open(os.path.join(md, "version-hint.text")) as fh:
        assert fh.read().strip() == "3"


def test_empty_version_hint_recovers(spark, tmp_path):
    """A hint truncated by a crash mid-rewrite (the in-place writers'
    failure) falls back to the highest metadata version on disk."""
    t = str(tmp_path / "t")
    ice.write_iceberg(_kv(spark, [("a", 1)]), t)
    ice.append_iceberg(_kv(spark, [("b", 2)]), t)
    hint = os.path.join(t, "metadata", "version-hint.text")
    open(hint, "w").close()
    assert _rows(ice.read_iceberg(spark, t)) == [("a", 1), ("b", 2)]
    ice.append_iceberg(_kv(spark, [("c", 3)]), t)
    assert ice.snapshot_ids(t) == [1, 2, 3]
    with open(hint) as fh:
        assert fh.read().strip() == "3"


@pytest.mark.parametrize("value", [
    "date'2020-01-01'", "timestamp'2020-01-01 05:06:07'",
], ids=["date", "timestamp"])
def test_unroundtrippable_partition_source_is_loud(spark, tmp_path,
                                                   value):
    df = spark.sql(f"select 1L as k, {value} as d")
    t = str(tmp_path / "t")
    with pytest.raises(ice.IcebergError, match="cannot round-trip"):
        ice.write_iceberg(df, t, partition_by=["d"])
    assert not os.path.exists(os.path.join(t, "metadata"))


# ---------------------------------------------------------------------
# a crash at each step of each writer's commit
# ---------------------------------------------------------------------

class _Crash(BaseException):
    """A process death mid-commit (no handler in the layer catches a
    BaseException, so nothing runs after the crash point)."""


def _crash(*_a, **_k):
    raise _Crash


# writer -> (its call on the (k, v) table, its effect on the rows)
_WRITERS = {
    "append": (
        lambda spark, t: ice.append_iceberg(_kv(spark, [("z", 9)]), t),
        lambda rows: rows + [("z", 9)]),
    "delete_where": (
        lambda spark, t: ice.delete_where(spark, t, "v = 1"),
        lambda rows: [r for r in rows if r[1] != 1]),
    "add_equality_deletes": (
        lambda spark, t: ice.add_equality_deletes(
            spark, t, _kv(spark, [("a", 0)]).select("k"), ["k"]),
        lambda rows: [r for r in rows if r[0] != "a"]),
    "merge_upsert": (
        lambda spark, t: ice.merge_upsert(
            spark, t, _kv(spark, [("a", 7)]), ["k"]),
        lambda rows: [r for r in rows if r[0] != "a"] + [("a", 7)]),
    "compact_table": (
        lambda spark, t: ice.compact_table(spark, t),
        lambda rows: rows),
}


def _table_files(t: str) -> set[str]:
    """Every file under the table except the metadata versions and the
    hint (which only expiry manages)."""
    return {os.path.realpath(os.path.join(d, n))
            for d, _, names in os.walk(t) for n in names
            if not (n.endswith(".metadata.json")
                    or n == "version-hint.text")}


@pytest.mark.parametrize("step", ["files", "manifests", "hint"])
@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_crash_at_each_commit_step_recovers(spark, tmp_path, monkeypatch,
                                            writer, step):
    """A writer that dies after its file groups are written, after its
    manifests are written, or after vN is published but before the
    hint moves: the next reader sees exactly the state before the
    commit (after it, in the hint case), the next writer commits on
    top, and remove_orphan_files reclaims the failed attempt's files
    with every read intact."""
    call, effect = _WRITERS[writer]
    t = str(tmp_path / "t")
    ice.write_iceberg(_kv(spark, [("a", 1), ("b", 2), ("c", 3)]), t)
    ice.delete_where(spark, t, "k = 'c'")  # a delete to compact away
    rows = [("a", 1), ("b", 2)]
    n_snaps = len(ice.snapshot_ids(t))

    if step == "files":
        monkeypatch.setattr(ice, "_write_manifest", _crash)
    elif step == "manifests":
        write = avroio.write_container

        def write_or_crash(path, *a, **k):
            if os.path.basename(path).startswith("snap-"):  # the list
                raise _Crash
            return write(path, *a, **k)

        monkeypatch.setattr(avroio, "write_container", write_or_crash)
    else:
        monkeypatch.setattr(ice, "_write_version_hint", _crash)
    with pytest.raises(_Crash):
        call(spark, t)
    monkeypatch.undo()

    committed = step == "hint"
    if committed:
        rows = effect(rows)
    assert _rows(ice.read_iceberg(spark, t)) == sorted(rows)
    assert len(ice.snapshot_ids(t)) == n_snaps + committed
    meta = ice.load_metadata(t)
    live = {os.path.realpath(p) for p in
            ice._reachable(meta, set(ice.snapshot_ids(t)))}
    orphans = _table_files(t) - live
    if not committed:
        assert any(p.endswith(".parquet") for p in orphans)
    if step == "manifests":
        assert any(os.path.basename(p).startswith("m-") for p in orphans)

    call(spark, t)
    rows = effect(rows)
    assert _rows(ice.read_iceberg(spark, t)) == sorted(rows)

    future = int((time.time() + 60) * 1000)
    ice.remove_orphan_files(t, older_than_ms=future)
    meta = ice.load_metadata(t)
    assert _table_files(t) == {os.path.realpath(p) for p in ice._reachable(
        meta, set(ice.snapshot_ids(t)))}
    assert not orphans & _table_files(t)
    assert _rows(ice.read_iceberg(spark, t)) == sorted(rows)
    assert _rows(ice.read_iceberg(spark, t, snapshot_id=1)) == \
        [("a", 1), ("b", 2), ("c", 3)]
