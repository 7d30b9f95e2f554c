"""Morton cell encode/decode/neighbors as PURE COLUMN EXPRESSIONS
(SURVEY.md §2.7 T1/T3 — JVM-side variant).

The numpy kernels in cells.py are the right tool inside Arrow batches
(extraction already lives in Python), but for relational stages —
tiling, kNN neighbor expansion — a pandas_udf costs a Python round trip
per task. The bit-interleave is just shifts and masks, so here it is as
builtin expressions: stays inside whole-stage codegen, zero Python.

Bit-identical to cells.py (asserted in tests/test_cells_sql.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from mergeaddressesandbuildings_spark import config

_M1 = 0x5555555555555555
_M2 = 0x3333333333333333
_M3 = 0x0F0F0F0F0F0F0F0F
_M4 = 0x00FF00FF00FF00FF
_M5 = 0x0000FFFF0000FFFF
_M32 = 0xFFFFFFFF


def _spread(v: Column) -> Column:
    """Spread low 32 bits to even positions (part1by1)."""
    v = v.bitwiseAND(F.lit(_M32))
    v = (v.bitwiseOR(F.shiftleft(v, 16))).bitwiseAND(F.lit(_M5))
    v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(_M4))
    v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(_M3))
    v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(_M2))
    v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(_M1))
    return v


def _compact(v: Column) -> Column:
    """Gather even bit positions into the low 32 (inverse of _spread)."""
    v = v.bitwiseAND(F.lit(_M1))
    v = (v.bitwiseOR(F.shiftright(v, 1))).bitwiseAND(F.lit(_M2))
    v = (v.bitwiseOR(F.shiftright(v, 2))).bitwiseAND(F.lit(_M3))
    v = (v.bitwiseOR(F.shiftright(v, 4))).bitwiseAND(F.lit(_M4))
    v = (v.bitwiseOR(F.shiftright(v, 8))).bitwiseAND(F.lit(_M5))
    v = (v.bitwiseOR(F.shiftright(v, 16))).bitwiseAND(F.lit(_M32))
    return v


def _clip(v: Column, lo: Column, hi: Column) -> Column:
    return F.least(F.greatest(v, lo), hi)


def xy_expr(lat: Column, lon: Column, level) -> tuple[Column, Column]:
    """Integer cell coords. ``level`` may be a python int or an int
    Column (per-row level — exact via pow up to level 26)."""
    n = F.pow(F.lit(2.0), level).cast("long") if isinstance(level, Column) else F.lit(1 << level)
    x = F.floor((lon + 180.0) / 360.0 * n).cast("long")
    y = F.floor((lat + 90.0) / 180.0 * n).cast("long")
    zero = F.lit(0).cast("long")
    return _clip(x, zero, n - 1), _clip(y, zero, n - 1)


def cell_expr(lat: Column, lon: Column, level=config.CELL_LEVEL) -> Column:
    """Point → prefix-coded Morton cell id; identical to cells.encode."""
    x, y = xy_expr(lat, lon, level)
    return cell_from_xy_expr(x, y, level)


def cell_from_xy_expr(x: Column, y: Column, level) -> Column:
    """(x, y) integer coords → prefix-coded Morton id (the spread +
    interleave half of cell_expr). Exposed so plans can carry the CHEAP
    (x, y) pair through big-side joins/filters and evaluate the 60-op
    spread chain only on small aggregated sides — the level-20 chain
    inlined per join key per union branch overflowed janino's 64 KB
    method limit in the tiling stage (operators/tiling.py)."""
    prefix = (
        F.pow(F.lit(4.0), level).cast("long")
        if isinstance(level, Column)
        else F.lit(1 << (2 * level))
    )
    return prefix.bitwiseOR(_spread(x)).bitwiseOR(F.shiftleft(_spread(y), 1))


def bbox_cover_cells_expr(min_lat: Column, min_lon: Column,
                          max_lat: Column, max_lon: Column,
                          level: int) -> Column:
    """array<long> of ALL level-``level`` cells intersecting the bbox —
    pure column expressions (``sequence`` over the x/y integer ranges,
    cross product via nested ``transform``, then the same spread/encode
    as cell_expr). Used as the candidate join key for J3 building
    dedupe: two overlapping rings always share a bbox-cover cell, and at
    building sizes the cover is 1–4 cells.

    A bbox spanning more than ``MAX_COVER_CELLS`` cells raises at
    execution time (``raise_error``) — the SAME validation as the numpy
    path (cells.cover_bbox), so oversized rings fail loudly in every
    strategy instead of silently losing candidates.

    The x/y bit-spreads are hoisted into their OWN per-axis transforms
    (spread once per row/column of the cover, not once per cell): the
    inner cross-product lambda is three bit-ops, which keeps the
    generated code far below janino's method-size limits.
    """
    xlo, ylo = xy_expr(min_lat, min_lon, level)
    xhi, yhi = xy_expr(max_lat, max_lon, level)
    prefix = F.lit(1 << (2 * level))
    sxs = F.transform(F.sequence(xlo, xhi), lambda x: _spread(x))
    sys_ = F.transform(F.sequence(ylo, yhi), lambda y: F.shiftleft(_spread(y), 1))
    cover = F.flatten(
        F.transform(
            sxs,
            lambda sx: F.transform(
                sys_, lambda sy: prefix.bitwiseOR(sx).bitwiseOR(sy)
            ),
        )
    )
    n = (xhi - xlo + 1) * (yhi - ylo + 1)
    return F.when(n <= F.lit(config.MAX_COVER_CELLS), cover).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"bbox cover spans more than {config.MAX_COVER_CELLS} level-{level} "
                      "cells: degenerate ring lat["),
                min_lat.cast("string"), F.lit(", "), max_lat.cast("string"),
                F.lit("] lon["),
                min_lon.cast("string"), F.lit(", "), max_lon.cast("string"),
                F.lit("]"),
            )
        ).cast("array<long>")
    )


def neighbors_expr(cell: Column, level: int = config.CELL_LEVEL) -> Column:
    """array<long> of the 3×3 Morton neighborhood (lon wraps, lat
    clips) — identical to cells.neighbors. Fixed python-int level."""
    n = F.lit(1 << level)
    prefix = F.lit(1 << (2 * level))
    body = cell.bitwiseXOR(prefix)
    x = _compact(body)
    y = _compact(F.shiftright(body, 1))
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nx = F.pmod(x + dx, n)
            ny = _clip(y + dy, F.lit(0).cast("long"), (n - 1).cast("long"))
            out.append(prefix.bitwiseOR(_spread(nx)).bitwiseOR(F.shiftleft(_spread(ny), 1)))
    return F.array(*out)
