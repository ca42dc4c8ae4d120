"""Raster <-> vector resampling onto the hex lattice (north-star op).

A raster is a DataFrame of (ix, iy, value) cells with an affine georeference
(origin + pixel size).  Both nearest-centre directions are pure column
math + one hash aggregation — no UDFs, no shuffle beyond the rollup:

  * raster -> hex:  pixel centre -> containing hex (the same cube-rounding
    encode as pages), then per-hex aggregation (mean/sum/count, optionally
    pixel-area weighted).  This is how a land-cover or climate raster rolls
    up onto the patch lattice.
  * hex -> raster:  generate the pixel grid (spark.range), assign each
    pixel centre to its hex, equi-join hex values — the rasterisation of a
    per-cell attribute for export.

Exactness contract: a pixel belongs to the hex containing its CENTRE
(standard nearest-centre resampling); both engines evaluate the identical
expressions, so the driver oracle checks it bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geo
from . import params as P
from . import sqlgen
from .cover import polygon_cell_cover
from .hexgrid import _apply_layers


def raster_to_hex(raster: DataFrame, origin_x: float, origin_y: float,
                  pixel: float, value: str = "value",
                  hex_width: float = P.HEX_WIDTH,
                  refx: float = P.REFX, refy: float = P.REFY) -> DataFrame:
    """Aggregate raster pixels onto hex cells: mean/sum/count per cell."""
    px = f"{sqlgen._f(origin_x)} + (ix + {sqlgen._f(0.5)}) * {sqlgen._f(pixel)}"
    py = f"{sqlgen._f(origin_y)} + (iy + {sqlgen._f(0.5)}) * {sqlgen._f(pixel)}"
    df = raster.selectExpr("*", f"{px} AS __px", f"{py} AS __py")
    df = _apply_layers(df, sqlgen.hex_layers("__px", "__py", hex_width,
                                             refx, refy))
    return (df.groupBy("cell_id", "q", "r")
            .agg(F.count(F.lit(1)).alias("n_pixels"),
                 F.sum(value).alias(f"sum_{value}"),
                 F.avg(value).alias(f"avg_{value}")))


def hex_to_raster(cells: DataFrame, spark: SparkSession,
                  minx: float, miny: float, maxx: float, maxy: float,
                  pixel: float, value: str = "value",
                  hex_width: float = P.HEX_WIDTH,
                  refx: float = P.REFX, refy: float = P.REFY) -> DataFrame:
    """Rasterise a per-cell attribute: pixel grid -> hex assign -> join."""
    import math
    nx = int(math.ceil((maxx - minx) / pixel))
    ny = int(math.ceil((maxy - miny) / pixel))
    grid = spark.range(nx * ny).selectExpr(
        f"CAST(id % {nx} AS BIGINT) AS ix",
        f"CAST(id DIV {nx} AS BIGINT) AS iy")
    px = f"{sqlgen._f(minx)} + (ix + {sqlgen._f(0.5)}) * {sqlgen._f(pixel)}"
    py = f"{sqlgen._f(miny)} + (iy + {sqlgen._f(0.5)}) * {sqlgen._f(pixel)}"
    grid = grid.selectExpr("ix", "iy", f"{px} AS __px", f"{py} AS __py")
    grid = _apply_layers(grid, sqlgen.hex_layers("__px", "__py", hex_width,
                                                 refx, refy)) \
        .select("ix", "iy", "cell_id")
    return grid.join(cells.select("cell_id", value), "cell_id", "left")


def raster_to_hex_area_weighted(raster: DataFrame, origin_x: float,
                                origin_y: float, pixel: float,
                                value: str = "value",
                                hex_width: float = P.HEX_WIDTH,
                                refx: float = P.REFX,
                                refy: float = P.REFY) -> DataFrame:
    """EXACT area-weighted raster -> hex resampling: every pixel's value is
    split across the hexes it overlaps in proportion to the exact
    pixel∩hex areas (the conservative/mass-preserving resampling, vs the
    nearest-centre rule of raster_to_hex).

    Each pixel (one raster row per (ix, iy)) becomes a rectangle polygon
    and goes through cover.polygon_cell_cover, the one exact hex∩polygon
    cover every polygon aggregate uses; the cover areas join back to the
    pixel values on the packed (ix, iy) key, then one hash aggregation
    per cell.  Σ weights per pixel == pixel area (conservation is
    pytest-pinned).
    """
    pix = float(pixel)

    @F.pandas_udf("binary")
    def rect_wkb(x0: pd.Series, y0: pd.Series) -> pd.Series:
        return pd.Series([geo.rect_wkb(a, b, a + pix, b + pix)
                          for a, b in zip(x0, y0)])

    key = F.expr("shiftleft(CAST(iy AS BIGINT), 32) | "
                 "(CAST(ix AS BIGINT) & 4294967295)").alias("__pid")
    x0 = F.expr(f"{sqlgen._f(origin_x)} + ix * {sqlgen._f(pixel)}")
    y0 = F.expr(f"{sqlgen._f(origin_y)} + iy * {sqlgen._f(pixel)}")
    cover = polygon_cell_cover(
        raster.select(key, rect_wkb(x0, y0).alias("geom_wkb")),
        hex_width, refx, refy, poly_id="__pid")
    w = F.col("cover_area")
    return (cover.join(raster.select(key, value), "__pid")
            .groupBy("cell_id", "q", "r")
            .agg(F.sum(w).alias("covered_area"),
                 F.sum(w * F.col(value)).alias(f"wsum_{value}"),
                 (F.sum(w * F.col(value)) / F.sum(w))
                 .alias(f"wavg_{value}")))
