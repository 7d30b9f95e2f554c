"""Engine constants (SURVEY.md §8 — the parity semantics spec).

Every constant marked *engine-chosen* in SURVEY.md §8 lives here so a
future reconciliation against the reference checkout touches one file.
Reference: OpenStreetMapSC/MergeAddressesAndBuildings (checkout empty at
survey time — SURVEY.md §0; §8 is the executable semantics stand-in).
"""

from __future__ import annotations

# --- geometry (§8.1) ---------------------------------------------------
EARTH_RADIUS_M = 6371008.8  # mean Earth radius, meters
DEG_TO_M = EARTH_RADIUS_M * 3.141592653589793 / 180.0  # meters per degree lat

# --- merge decisions (§8.4) --------------------------------------------
KNN_CUTOFF_M = 100.0  # kNN fallback max distance, meters (engine-chosen*)
ADDR_DEDUPE_EPS_M = 25.0  # J4: identical address within eps meters (engine-chosen*)
DEDUPE_JOIN_LEVEL = 16  # J3 candidate-join cell level (~600 x 300 m cells)
REFINE_INDEX_LEVEL = 15  # broadcast-path fine index level (~1.2 km x 600 m; width >= kNN cutoff up to |lat| 80)

# --- tiling (§8.5) ------------------------------------------------------
CELL_LEVEL = 12  # default Morton level: ~9.8 km x 4.9 km cells at equator
MAX_CELL_LEVEL = 20  # adaptive-split floor
TILE_MAX_ELEMS = 10_000  # per-tile element budget (engine-chosen*)
# Max cells a single ring's bbox cover may span (any level). Oversized
# rings FAIL LOUDLY in both the numpy and SQL cover paths instead of
# silently losing join candidates (a degenerate county-sized "building"
# from user .osm input is a data error, not a join key). At the finest
# cover level in use (16, ~600×300 m cells) this admits footprints up
# to ~10 km across — far beyond any real building.
MAX_COVER_CELLS = 1024

# --- spatial-join path choice (SURVEY.md §4) ----------------------------
# above this the pair-join shuffles, and AQE's skew-join split handles hot cells
BROADCAST_BUILDINGS_MAX = 200_000  # rows below which the building side is broadcast

# --- decision / method labels (§1.2) -------------------------------------
METHOD_PIP = "PIP"
METHOD_KNN = "KNN"
METHOD_NONE = "NONE"
DECISION_MERGED = "MERGED"
DECISION_KEEP_NODE = "KEEP_NODE"
DECISION_CONFLICT = "CONFLICT"
DECISION_STANDALONE = "STANDALONE"

# --- street normalization table (§8.3) -----------------------------------
STREET_SUFFIX_EXPANSION = {
    "ST": "STREET",
    "AVE": "AVENUE",
    "RD": "ROAD",
    "DR": "DRIVE",
    "BLVD": "BOULEVARD",
    "LN": "LANE",
    "CT": "COURT",
    "HWY": "HIGHWAY",
}

# --- fixture county bbox (FIXTURES.md §1) --------------------------------
COUNTY_MIN_LAT, COUNTY_MAX_LAT = 34.70, 35.00
COUNTY_MIN_LON, COUNTY_MAX_LON = -82.55, -82.20
