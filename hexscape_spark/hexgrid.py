"""Axial hex-grid core — pure column math, zero UDFs, zero shuffles.

DataFrame-API surface over the shared SQL fragments in ``sqlgen`` (single
source of truth with the DuckDB oracle).  Everything here stays inside
whole-stage codegen; the point->cell encode of a 10^12-row table is a
map-only stage with no shuffle.

Also the one Python source of hex-cell geometry: the bbox -> axial range,
the row step, the vertex ring.  Every module and the oracle read it here.

Reference parity:
  * hex constants            -> R/generate_patches.R:45-50
  * hex vertices             -> R/generate_patches.R:53-64
  * axial lattice & centroid -> R/generate_patches.R:89-115
  * kRing offsets            -> notebooks/network_distance.R:93-133
  * 6 axial neighbour offsets-> R/generate_neighbours.R:57-62
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from . import params as P
from . import sqlgen


# Shear of the axial q axis against x, and the pitch between lattice rows
# (side + height) / 2 (reference: R/generate_patches.R:45-50,89-101).
TAN30 = math.tan(math.pi / 6.0)


def row_step(hex_width: float) -> float:
    return (P.hex_side(hex_width) + P.hex_height(hex_width)) / 2.0


def axial_range(minx: float, miny: float, maxx: float, maxy: float,
                hex_width: float, refx: float, refy: float
                ) -> tuple[int, int, int, int]:
    """(q_lo, q_hi, r_lo, r_hi) of the lattice covering a bbox, exactly
    R/generate_patches.R:89-101:
      r in [floor((refy-ymax)/step) .. ceil((refy-ymin)/step)]
      q from the 30-degree-sheared x-range over hex_width."""
    step = row_step(hex_width)
    return (math.floor((minx + (miny - refy) * TAN30 - refx) / hex_width),
            math.ceil((maxx + (maxy - refy) * TAN30 - refx) / hex_width),
            math.floor((refy - maxy) / step),
            math.ceil((refy - miny) / step))


def hex_vertex_offsets(hex_width: float) -> list[tuple[float, float]]:
    """CCW pointy-top hex vertex offsets from the centroid (genpoly's
    vertices reversed; R/generate_patches.R:53-64 lists them clockwise)."""
    h = P.hex_height(hex_width)
    s = P.hex_side(hex_width)
    w = hex_width
    return [(0.0, h / 2), (-w / 2, s / 2), (-w / 2, -s / 2),
            (0.0, -h / 2), (w / 2, -s / 2), (w / 2, s / 2)]


def hex_ring(cx: float, cy: float, hex_width: float) -> np.ndarray:
    """CCW hex ring around (cx, cy), the clip window of the geometry
    kernels."""
    return np.array(hex_vertex_offsets(hex_width)) + np.array([cx, cy])


def _apply_layers(df: DataFrame, layers) -> DataFrame:
    for layer in layers:
        df = df.selectExpr("*", *[f"{expr} AS {alias}" for alias, expr in layer])
    return df


def with_geocode(df: DataFrame, key: str) -> DataFrame:
    """Add deterministic (lon, lat) derived from integer column `key`."""
    return _apply_layers(df, sqlgen.geocode_layers(key))


def with_hex_cell(df: DataFrame, lon: str = "lon", lat: str = "lat",
                  hex_width: float = P.HEX_WIDTH,
                  refx: float = P.REFX, refy: float = P.REFY) -> DataFrame:
    """Assign each point to its containing hexagon: adds q, r, cell_id."""
    out = _apply_layers(df, sqlgen.hex_layers(lon, lat, hex_width, refx, refy))
    return out.drop("rf", "qf", "sf", "qg", "rg", "sg", "dq", "dr", "ds")


# The six axial neighbour offsets, in the reference's enumeration order
# (expand_grid(r_adj,q_adj) row-major minus self and |r+q|==2:
#  R/generate_neighbours.R:57-62), with the compass direction implied by the
# centroid delta (R/generate_neighbours.R:149-157) — exact because hex
# centroids are a pure function of (q, r).
NEIGHBOUR_OFFSETS = [
    # (dr, dq, direction)
    (-1, 0, "NW"),
    (-1, 1, "NE"),
    (0, -1, "W"),
    (0, 1, "E"),
    (1, -1, "SW"),
    (1, 0, "SE"),
]


def offsets_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(dr, dq, d) for dr, dq, d in NEIGHBOUR_OFFSETS],
        "dr INT, dq INT, direction STRING")


def kring_offsets(k: int) -> list[tuple[int, int, int]]:
    """All (dq, dr, ring) with hex distance ring <= k, incl. (0, 0, 0) — the
    H3 grid_disk, enumerated dq outer, dr inner (the order the shared SQL
    VALUES lists are emitted in)."""
    return [(dq, dr, ring)
            for dq in range(-k, k + 1) for dr in range(-k, k + 1)
            if (ring := (abs(dq) + abs(dr) + abs(dq + dr)) // 2) <= k]


def kring_offsets_df(spark: SparkSession, k: int) -> DataFrame:
    return spark.createDataFrame(
        [(dq, dr) for dq, dr, _ in kring_offsets(k)], "dq INT, dr INT")


def lattice(spark: SparkSession, minx: float, miny: float, maxx: float,
            maxy: float, hex_width: float = P.HEX_WIDTH,
            refx: float = P.REFX, refy: float = P.REFY) -> DataFrame:
    """Distributed hex lattice covering a bbox: DataFrame(q, r, hex_cx, hex_cy).

    The (q, r) range is axial_range's.  Generated with spark.range ->
    divmod, so a country- or planet-scale lattice never materialises on
    the driver.
    """
    q_lo, q_hi, r_lo, r_hi = axial_range(minx, miny, maxx, maxy, hex_width,
                                         refx, refy)
    nr = r_hi - r_lo + 1
    nq = q_hi - q_lo + 1
    # ~256 cells per task (r7, guide §2.5): the old 4096-cell target put
    # the fixture-scale lattice's entire clip stage in ONE Python task;
    # per-task worker overhead is ~10-30 ms, far below the serial-clip
    # cost it was avoiding.  Planet-scale lattices still fan out fully
    # (capped at the session parallelism).
    num_partitions = max(1, min(spark.sparkContext.defaultParallelism,
                                (nr * nq) // 256 + 1))
    rng = spark.range(0, nr * nq, 1, num_partitions)
    df = rng.selectExpr(
        f"CAST(id % {nq} + {q_lo} AS BIGINT) AS q",
        f"CAST(CAST(id / {nq} AS BIGINT) + {r_lo} AS BIGINT) AS r",
    )
    ex, ey = sqlgen.centroid_exprs("q", "r", hex_width, refx, refy)
    return df.selectExpr("q", "r", f"{ex} AS hex_cx", f"{ey} AS hex_cy",
                         f"{sqlgen.cell_id_expr('q', 'r')} AS cell_id")
