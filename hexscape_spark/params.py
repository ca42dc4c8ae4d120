"""Engine-wide deterministic parameters.

The synthetic "world" every query runs in: a planar 50 km x 50 km landscape
(metres, mirroring the reference's EPSG:3035/25832 planar-CRS usage,
reference: R/download_maps.R:53) tiled with pointy-top hexagons of width
HEX_WIDTH on an axial (q, r) grid anchored at REFERENCE_POINT
(reference: R/generate_patches.R:38,89-115).

Rows from the driver's test tables are geocoded into this world with a
deterministic integer hash (MINSTD LCG) so that the identical arithmetic can
be evaluated by Spark and by the DuckDB oracle.  ~20%% of keys are salted
into three small "urban" hotspot boxes to exercise skew handling
(FIXTURES.md F1).
"""

from __future__ import annotations

import math

# --- hex grid --------------------------------------------------------------
HEX_WIDTH = 1000.0           # metres, flat-to-flat width of a pointy-top hex
REFX = 0.0                   # reference point = centroid of cell (q=0, r=0)
REFY = 0.0

# Derived hex constants (reference: R/generate_patches.R:45-50)
SQRT3 = math.sqrt(3.0)


def hex_height(w: float = HEX_WIDTH) -> float:
    """Corner-to-corner height: 2*w/sqrt(3)."""
    return 2.0 * w / SQRT3


def hex_side(w: float = HEX_WIDTH) -> float:
    """Side length: height/2."""
    return hex_height(w) / 2.0


def hex_area(w: float = HEX_WIDTH) -> float:
    """Full hexagon area: sqrt(3)*w^2/2."""
    return SQRT3 * w * w / 2.0


# --- patch fragment filter --------------------------------------------------
# a hex fragment under MIN_PROP of the hex area is dropped
# (R/generate_patches.R:141,197), and generate_neighbours reads the same
# min_prop back from the patches table (R/generate_neighbours.R:12-25)
MIN_PROP = 0.01

# --- landscape bbox ---------------------------------------------------------
MINX, MINY = 0.0, 0.0
MAXX, MAXY = 50000.0, 50000.0

# --- skew hotspots (FIXTURES.md F1: ~20% of points in 3 urban discs) --------
HOTSPOTS = [(10000.0, 10000.0), (25000.0, 40000.0), (40000.0, 20000.0)]
HOT_HALF = 1500.0            # half-width of each hotspot box, metres

# --- deterministic hash (MINSTD LCG; safe in int64 for keys < 1.9e14) -------
LCG_A = 48271
LCG_M = 2147483647

# --- cell id packing ---------------------------------------------------------
CELL_OFF = 2097152           # 2^21; supports |q|,|r| < 2^21
CELL_MUL = 4194304           # 2^22
