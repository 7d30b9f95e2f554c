import pyarrow.parquet as pq

from perfbench import fixtures as fx


def test_seed_shifts_page_ids():
    p0, _ = fx.corpus(0, 3)
    p2, _ = fx.corpus(2, 3)
    assert p0["url"].iloc[0].endswith("/00000000")
    assert p2["url"].iloc[0].endswith(f"/{2 * fx.SEED_STRIDE:08d}")


def test_same_seed_same_bytes(tmp_path):
    for run in ("a", "b"):
        pages, existing = fx.corpus(5, 40)
        fx.write_pages(pages, str(tmp_path / run / "pages"))
        fx.write_existing(existing, str(tmp_path / run / "existing"))
    for table in ("pages", "existing"):
        a = pq.read_table(tmp_path / "a" / table)
        b = pq.read_table(tmp_path / "b" / table)
        assert a.equals(b)


def test_existing_rings_become_lat_lon_structs(tmp_path):
    _, existing = fx.corpus(0, 200)
    fx.write_existing(existing, str(tmp_path / "existing"))
    t = pq.read_table(tmp_path / "existing").to_pylist()
    ways = [r for r in t if r["kind"] == "way"]
    nodes = [r for r in t if r["kind"] == "node"]
    assert ways and nodes
    assert set(ways[0]["ring"][0]) == {"lat", "lon"}
    assert all(r["ring"] is None for r in nodes)
    assert dict(ways[0]["tags"])["building"] == "yes"


def test_delta_moves_and_deletes_the_first_urls():
    pages, _ = fx.corpus(2, 30)
    changes, pages_v2 = fx.delta(2, pages, n_modify=3, n_delete=2)
    base = 2 * fx.SEED_STRIDE
    moved = changes[~changes["deleted"]]
    assert set(moved["url"]) == {fx._url(base + i) for i in range(3)}
    assert list(changes.loc[changes["deleted"], "url"]) == [fx._url(base + i)
                                                            for i in (3, 4)]
    # moved urls carry their donor's content, not their own
    own = pages.set_index("url").loc[fx._url(base), "text"]
    assert (moved.loc[moved["url"] == fx._url(base), "text"] != own).all()
    # the post-delta corpus: old captures of changed urls gone, moved
    # ones in, deleted ones absent
    assert not set(pages_v2["url"]) & {fx._url(base + i) for i in (3, 4)}
    assert len(pages_v2) == len(pages) - (pages["url"].isin(changes["url"])).sum() + len(moved)
    assert (pages_v2.loc[pages_v2["url"] == fx._url(base), "text"]
            == moved.loc[moved["url"] == fx._url(base), "text"].iloc[0]).all()


def test_delta_written_with_a_tombstone_column(tmp_path):
    pages, _ = fx.corpus(0, 20)
    changes, _ = fx.delta(0, pages, n_modify=2, n_delete=1)
    fx.write_delta(changes, str(tmp_path / "delta"))
    t = pq.read_table(tmp_path / "delta")
    assert t.schema.field("deleted").type == "bool"
    assert t.column("deleted").to_pylist().count(True) == 1
