"""Seeded benchmark inputs, written to parquet before any timed region.

The seed only shifts page ids: page ``i`` of a seed-``s`` corpus is the
engine fixture's page ``s * 10**9 + i``. ``sources.pages`` generates a
page as a pure function of its id, so one seed always gives the same
bytes, and every seed has the same scenario mix (hot cell, kNN cases,
dedupe cases, duplicate captures).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mergeaddressesandbuildings_spark.sources import pages as pg

SEED_STRIDE = 10**9
DONOR_OFFSET = 10**7

_POINT = pa.struct([pa.field("lat", pa.float64(), False),
                    pa.field("lon", pa.float64(), False)])
_RING = pa.list_(pa.field("element", _POINT, False))
# arrow twins of schemas.PAGES / schemas.EXISTING_OSM
PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string(), False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
    pa.field("html", pa.binary(), False),
    pa.field("text", pa.string(), False),
    pa.field("lang", pa.string(), False),
])
EXISTING_SCHEMA = pa.schema([
    pa.field("elem_id", pa.int64(), False),
    pa.field("kind", pa.string(), False),
    pa.field("lat", pa.float64()),
    pa.field("lon", pa.float64()),
    pa.field("ring", _RING),
    pa.field("holes", pa.list_(_RING)),
    pa.field("tags", pa.map_(pa.string(), pa.string())),
])


def corpus(seed: int, n_pages: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, existing_osm) pandas frames of a seeded corpus."""
    ids = range(seed * SEED_STRIDE, seed * SEED_STRIDE + n_pages)
    return pg.gen_pages_pdf(ids), pg.gen_existing_pdf(ids)


def _url(page_id: int) -> str:
    return f"https://fixture.test/greenville/{page_id:08d}"


def delta(seed: int, pages: pd.DataFrame, n_modify: int,
          n_delete: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(change set, post-delta corpus) for a seeded corpus ``pages``.
    The change set has a ``deleted`` tombstone column; the post-delta
    corpus is built from the page generator alone, so it checks the
    incremental plan independently of the engine."""
    base = seed * SEED_STRIDE
    modified = range(base, base + n_modify)
    deleted = range(base + n_modify, base + n_modify + n_delete)
    moved = pg.gen_pages_pdf([i + DONOR_OFFSET for i in modified])
    moved["url"] = moved["url"].map({_url(i + DONOR_OFFSET): _url(i) for i in modified})
    tombstones = pd.DataFrame({
        "url": [_url(i) for i in deleted],
        "warc_ts": pd.Timestamp("2030-01-01", tz="UTC"),
        "html": [b""] * n_delete,
        "text": [""] * n_delete,
        "lang": ["en"] * n_delete,
    })
    changes = pd.concat([moved.assign(deleted=False), tombstones.assign(deleted=True)],
                        ignore_index=True)
    kept = pages[~pages["url"].isin(set(changes["url"]))]
    return changes, pd.concat([kept, moved], ignore_index=True)


def _ring_structs(ring):
    return None if ring is None else [{"lat": p[0], "lon": p[1]} for p in ring]


def write_pages(pdf: pd.DataFrame, path: str) -> None:
    """Write a pages frame as one parquet file."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def write_delta(pdf: pd.DataFrame, path: str) -> None:
    """Write a change set (a pages frame plus ``deleted``) as one
    parquet file."""
    schema = PAGES_SCHEMA.append(pa.field("deleted", pa.bool_(), False))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def write_existing(pdf: pd.DataFrame, path: str) -> None:
    """Write an existing-OSM frame (rings as lat/lon structs, the shape
    ``sources.pages.existing_osm_df`` produces)."""
    pdf = pdf.copy()
    pdf["ring"] = pdf["ring"].map(_ring_structs)
    pdf["holes"] = pdf["holes"].map(
        lambda hs: None if not isinstance(hs, list) else [_ring_structs(h) for h in hs])
    pdf["tags"] = pdf["tags"].map(lambda t: None if t is None else list(t.items()))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=EXISTING_SCHEMA, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
