"""Morton (Z-order) hierarchical cell index — the engine's H3/S2-style
tiling layer (SURVEY.md §2.7 T1–T3, §8.5).

Replaces the reference's single-machine bounding-box chunking
(BASELINE.json:6 "builds its own H3/S2-based tiling layer") with a
prefix-coded quadtree cell id:

    id(level L) = (1 << 2L) | interleave(x_L, y_L)

where x = floor((lon+180)/360 * 2^L), y = floor((lat+90)/180 * 2^L).
The leading 1-bit encodes the level, so ids are unique across levels and
children are simply ``4*id + q`` (q in 0..3) — the property the adaptive
split (T4) relies on.

All functions are vectorized numpy over int64/float64 arrays; no Python
loops (BASELINE.json:15 — no per-row Python).
"""

from __future__ import annotations

import numpy as np

from mergeaddressesandbuildings_spark import config

_M1 = np.int64(0x5555555555555555)
_M2 = np.int64(0x3333333333333333)
_M3 = np.int64(0x0F0F0F0F0F0F0F0F)
_M4 = np.int64(0x00FF00FF00FF00FF)
_M5 = np.int64(0x0000FFFF0000FFFF)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each int64 to even bit positions."""
    v = v & np.int64(0xFFFFFFFF)
    v = (v | (v << 16)) & _M5
    v = (v | (v << 8)) & _M4
    v = (v | (v << 4)) & _M3
    v = (v | (v << 2)) & _M2
    v = (v | (v << 1)) & _M1
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bit positions into the low 32."""
    v = v & _M1
    v = (v | (v >> 1)) & _M2
    v = (v | (v >> 2)) & _M3
    v = (v | (v >> 4)) & _M4
    v = (v | (v >> 8)) & _M5
    v = (v | (v >> 16)) & np.int64(0xFFFFFFFF)
    return v


def xy_to_cell(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Prefix-coded Morton id from integer cell coords at ``level``."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    prefix = np.int64(1) << np.int64(2 * level)
    return prefix | _part1by1(x) | (_part1by1(y) << np.int64(1))


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode prefix-coded ids → (x, y, level) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    # bit_length(cell) == frexp exponent for positive ints; the prefix bit
    # sits at position 2*level, so level = (bit_length - 1) // 2.
    nbits = np.frexp(cell.astype(np.float64))[1].astype(np.int64)
    level = (nbits - 1) // 2
    prefix = np.int64(1) << (np.int64(2) * level)
    body = cell ^ prefix
    return _compact1by1(body), _compact1by1(body >> np.int64(1)), level


def lonlat_to_xy(lat: np.ndarray, lon: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.int64(1) << np.int64(level)
    x = ((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = ((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def encode(lat: np.ndarray, lon: np.ndarray, level: int = config.CELL_LEVEL) -> np.ndarray:
    """Point → cell id at ``level`` (T1: batched cell encode)."""
    x, y = lonlat_to_xy(lat, lon, level)
    return xy_to_cell(x, y, level)


def encode_at_levels(lat: np.ndarray, lon: np.ndarray, levels: np.ndarray) -> np.ndarray:
    """Per-row level variant used by the adaptive split (T4)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    levels = np.asarray(levels, dtype=np.int64)
    n = np.int64(1) << levels
    x = np.clip(((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    prefix = np.int64(1) << (np.int64(2) * levels)
    return prefix | _part1by1(x) | (_part1by1(y) << np.int64(1))


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(min_lat, min_lon, max_lat, max_lon) of each cell."""
    x, y, level = cell_to_xy(cell)
    n = (np.int64(1) << (level.astype(np.int64))).astype(np.float64)
    min_lon = x / n * 360.0 - 180.0
    max_lon = (x + 1) / n * 360.0 - 180.0
    min_lat = y / n * 180.0 - 90.0
    max_lat = (y + 1) / n * 180.0 - 90.0
    return min_lat, min_lon, max_lat, max_lon


def rect_dist_m(plat: np.ndarray, plon: np.ndarray,
                min_lat: np.ndarray, min_lon: np.ndarray,
                max_lat: np.ndarray, max_lon: np.ndarray) -> np.ndarray:
    """Lower-bound distance (meters) from each point to each cell
    rectangle, under the SAME local-equirectangular metric as the
    geometry refine kernels — so pruning a cell with
    ``rect_dist_m > cutoff`` can never drop a building the refine would
    have accepted."""
    plat = np.asarray(plat, dtype=np.float64)
    plon = np.asarray(plon, dtype=np.float64)
    dlat = np.maximum(np.maximum(min_lat - plat, plat - max_lat), 0.0)
    dlon = np.maximum(np.maximum(min_lon - plon, plon - max_lon), 0.0)
    dy = dlat * config.DEG_TO_M
    dx = dlon * config.DEG_TO_M * np.cos(np.radians(plat))
    return np.sqrt(dx * dx + dy * dy)


def neighbors(cell: np.ndarray) -> np.ndarray:
    """(n, 9) array: each cell's 8 Morton neighbors + itself (T3).

    Longitude wraps (x mod 2^L); latitude clips (no pole wrap). Used for
    the kNN candidate expansion (J2) — valid while the kNN cutoff is at
    most one cell width (§8.5 runtime assert, see :func:`min_cell_width_m`).
    """
    x, y, level = cell_to_xy(np.asarray(cell, dtype=np.int64))
    n = np.int64(1) << level
    prefix = np.int64(1) << (np.int64(2) * level)
    out = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nx = (x + dx) % n
            ny = np.clip(y + dy, 0, n - 1)
            out.append(prefix | _part1by1(nx) | (_part1by1(ny) << np.int64(1)))
    return np.stack(out, axis=1)


def children(cell: np.ndarray) -> np.ndarray:
    """(n, 4) child ids at level+1 (prefix coding makes this 4*id+q)."""
    cell = np.asarray(cell, dtype=np.int64)
    return cell[:, None] * np.int64(4) + np.arange(4, dtype=np.int64)[None, :]


def parent(cell: np.ndarray) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) >> np.int64(2)


def level_of(cell: np.ndarray) -> np.ndarray:
    return cell_to_xy(cell)[2]


def cover_bbox(
    min_lat: np.ndarray,
    min_lon: np.ndarray,
    max_lat: np.ndarray,
    max_lon: np.ndarray,
    level: int = config.CELL_LEVEL,
) -> list[np.ndarray]:
    """COMPLETE cell cover of each bbox at ``level`` (T2: polygon cell
    cover).

    The cover is the full x/y range of cells overlapping the bbox — a
    superset cover is always join-correct (the PIP/kNN refine is exact),
    and building footprints are tiny relative to level-12 cells so the
    cover is 1–4 cells in practice. Returns a list of int64 arrays
    (ragged). A row whose range would exceed ``MAX_COVER_CELLS`` raises
    ``ValueError`` — the SAME validation as the SQL cover path
    (cells_sql.bbox_cover_cells_expr), so a degenerate oversized ring
    fails loudly in every join strategy instead of silently losing
    candidates.
    """
    x0, y0 = lonlat_to_xy(np.asarray(min_lat), np.asarray(min_lon), level)
    x1, y1 = lonlat_to_xy(np.asarray(max_lat), np.asarray(max_lon), level)
    n_cells = (x1 - x0 + 1) * (y1 - y0 + 1)
    if len(n_cells) and int(n_cells.max()) > config.MAX_COVER_CELLS:
        bad = int(np.argmax(n_cells))
        raise ValueError(
            f"bbox cover of row {bad} spans {int(n_cells[bad])} level-{level} "
            f"cells (> {config.MAX_COVER_CELLS}): degenerate ring "
            f"lat[{float(np.asarray(min_lat)[bad])}, {float(np.asarray(max_lat)[bad])}] "
            f"lon[{float(np.asarray(min_lon)[bad])}, {float(np.asarray(max_lon)[bad])}]"
        )
    # fast path: bboxes spanning exactly one cell (the overwhelmingly
    # common case at building sizes) are encoded in ONE vectorized
    # pass; only multi-cell rows take the per-row loop
    single = (x0 == x1) & (y0 == y1)
    out: list[np.ndarray] = [None] * len(x0)  # type: ignore[list-item]
    if single.any():
        si = np.flatnonzero(single)
        enc = xy_to_cell(x0[si], y0[si], level)
        for k, i in enumerate(si):
            out[i] = enc[k : k + 1]
    for i in np.flatnonzero(~single):
        xs = np.arange(x0[i], x1[i] + 1, dtype=np.int64)
        ys = np.arange(y0[i], y1[i] + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        out[i] = xy_to_cell(gx.ravel(), gy.ravel(), level)
    return out


def min_cell_width_m(level: int, max_abs_lat_deg: float) -> float:
    """Smallest metric extent of a level-``level`` cell within a latitude
    band — used for the §8.5 runtime assert ``cutoff <= cell width``."""
    lat_extent = 180.0 / float(1 << level) * config.DEG_TO_M
    lon_extent = (
        360.0
        / float(1 << level)
        * config.DEG_TO_M
        * float(np.cos(np.radians(max_abs_lat_deg)))
    )
    return min(lat_extent, lon_extent)
