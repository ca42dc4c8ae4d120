"""Raster <-> vector resampling onto the hex lattice (north-star op).

A raster is a DataFrame of (ix, iy, value) cells with an affine georeference
(origin + pixel size).  Both directions are pure column math + one hash
aggregation — no UDFs, no shuffle beyond the rollup:

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hexgrid
from . import params as P
from . import sqlgen
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

    Shape: per pixel, the candidate hexes are the <= ~6 cells whose axial
    coordinates fall in the pixel's sheared bbox (pure arithmetic — the
    lattice-range derivation of hexgrid.lattice applied per row), exploded
    JVM-side; the exact clip areas come from one Arrow-batched kernel over
    the (pixel, candidate) pairs; one hash aggregation per cell.  Σ weights
    per pixel == pixel area (conservation is pytest-pinned).
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from . import geo

    w = hex_width
    step = hexgrid.row_step(w)
    tan30 = hexgrid.TAN30
    # pixel corners
    x0 = f"({sqlgen._f(origin_x)} + ix * {sqlgen._f(pixel)})"
    y0 = f"({sqlgen._f(origin_y)} + iy * {sqlgen._f(pixel)})"
    x1 = f"({x0} + {sqlgen._f(pixel)})"
    y1 = f"({y0} + {sqlgen._f(pixel)})"
    # candidate axial ranges (hexgrid.axial_range per row, +-1 pad)
    r_lo = (f"CAST(FLOOR(({sqlgen._f(refy)} - {y1}) / {sqlgen._f(step)}) "
            "AS BIGINT) - 1")
    r_hi = (f"CAST(CEIL(({sqlgen._f(refy)} - {y0}) / {sqlgen._f(step)}) "
            "AS BIGINT) + 1")
    q_lo = (f"CAST(FLOOR(({x0} + ({y0} - {sqlgen._f(refy)}) * "
            f"{sqlgen._f(tan30)} - {sqlgen._f(refx)}) / {sqlgen._f(w)}) "
            "AS BIGINT) - 1")
    q_hi = (f"CAST(CEIL(({x1} + ({y1} - {sqlgen._f(refy)}) * "
            f"{sqlgen._f(tan30)} - {sqlgen._f(refx)}) / {sqlgen._f(w)}) "
            "AS BIGINT) + 1")
    cand = raster.selectExpr(
        "*", f"{x0} AS __x0", f"{y0} AS __y0",
        f"explode(sequence({q_lo}, {q_hi})) AS q") \
        .selectExpr("*", f"explode(sequence({r_lo}, {r_hi})) AS r")
    cx, cy = sqlgen.centroid_exprs("q", "r", w, refx, refy)
    cand = cand.selectExpr("*", f"{cx} AS __cx", f"{cy} AS __cy")

    schema = (f"q LONG, r LONG, {value} DOUBLE, __w DOUBLE")
    pix = float(pixel)

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            areas = np.zeros(len(pdf))
            xs = pdf["__x0"].to_numpy()
            ys = pdf["__y0"].to_numpy()
            hx = pdf["__cx"].to_numpy()
            hy = pdf["__cy"].to_numpy()
            for i in range(len(pdf)):
                ring = hexgrid.hex_ring(hx[i], hy[i], w)
                areas[i] = geo.area_polygons_in_convex(
                    [[geo.rect_ring(xs[i], ys[i],
                                    xs[i] + pix, ys[i] + pix)]], ring)
            out = pd.DataFrame({"q": pdf["q"], "r": pdf["r"],
                                value: pdf[value], "__w": areas})
            yield out[out["__w"] > 0.0]

    pairs = cand.mapInPandas(clip, schema=schema)
    cell_id = sqlgen.cell_id_expr("q", "r")
    return (pairs.selectExpr("*", f"{cell_id} AS cell_id")
            .groupBy("cell_id", "q", "r")
            .agg(F.sum("__w").alias("covered_area"),
                 F.sum(F.col("__w") * F.col(value)).alias(f"wsum_{value}"),
                 (F.sum(F.col("__w") * F.col(value)) / F.sum("__w"))
                 .alias(f"wavg_{value}")))
