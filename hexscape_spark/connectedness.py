"""Pairwise patch connectedness — numerical double integral of a spatial
kernel between patches (R/generate_connectedness.R:12-279).

Re-expressed as fully distributed DataFrame ops instead of the reference's
per-target driver loop (its own TODOs call out the O(cells²) loop and
row-wise st_distance as "WAAAAY to slow", :270-275):

  1. grid points: each patch's polygon is rasterised to a regular grid of
     spacing grid_by = max_distance/grid_resolution (Arrow-batched UDF,
     map-only) — the same grid construction as :202-205;
  2. pair generation: points bucketed into coarse cells of size
     max_distance; candidate pairs come from the 3x3 neighbouring buckets
     (equi-join — never an N² cross join; optimisation R5/R10);
  3. kernel: contributions f(dist) zeroed beyond max_distance, matching the
     intended C++ grid kernel (:92-95 `Distance > max_distance ~ 0.0`);
  4. aggregate: Connectedness(Source, Target) =
        sum f(d(s,t)) / n_points(Source) * grid_by²
     = mean over source points of the Riemann sum ∫_target f(d(s, y)) dy —
     the grid-density correction of :243-244 applied to the per-source-point
     kernel sums the (unshipped) C++ grid kernel accumulates (:84-102).
     This form CONVERGES as grid_resolution grows (the reference's own
     convergence check, notebooks/connectedness_testing.R:25-39), unlike a
     mean-of-means x grid_by² which vanishes with refinement.

The user-supplied kernel is a vectorised numpy callable (the reference's
`connectedness_fun`, its UDF surface per SURVEY §2.9), evaluated inside the
pair-join pandas UDF.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo


def patch_grid_points(patches: DataFrame, grid_by: float,
                      idx: str = "Index", geom: str = "geom_wkb") -> DataFrame:
    """Regular grid points inside each patch, aligned to the global origin
    (x = (i+0.5)*grid_by) so that point totals are consistent across
    patches (the reference's TODO at :81)."""
    schema = f"{idx} LONG, px DOUBLE, py DOUBLE"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows_idx, rows_x, rows_y = [], [], []
            for _, row in pdf.iterrows():
                polys = geo.wkb_to_polygons(bytes(row[geom]))
                x0, y0, x1, y1 = geo.polygons_bounds(polys)
                ix0 = int(np.floor(x0 / grid_by))
                ix1 = int(np.ceil(x1 / grid_by))
                iy0 = int(np.floor(y0 / grid_by))
                iy1 = int(np.ceil(y1 / grid_by))
                xs = (np.arange(ix0, ix1) + 0.5) * grid_by
                ys = (np.arange(iy0, iy1) + 0.5) * grid_by
                gx, gy = np.meshgrid(xs, ys)
                gx = gx.ravel()
                gy = gy.ravel()
                ok = geo.points_in_polygons(gx, gy, polys)
                rows_idx.append(np.full(int(ok.sum()), int(row[idx])))
                rows_x.append(gx[ok])
                rows_y.append(gy[ok])
            if rows_idx:
                yield pd.DataFrame({idx: np.concatenate(rows_idx),
                                    "px": np.concatenate(rows_x),
                                    "py": np.concatenate(rows_y)})

    return patches.select(idx, geom).mapInPandas(run, schema=schema)


def generate_connectedness(patches: DataFrame,
                           connectedness_fun: Callable[[np.ndarray], np.ndarray],
                           max_distance: float,
                           grid_resolution: int,
                           idx: str = "Index",
                           geom: str = "geom_wkb") -> DataFrame:
    """Sparse long-form connectedness table (Source, Target, Connectedness).

    Self-pairs (zero distance) are excluded, as in the reference grid kernel
    (Col==0 & Row==0 -> NA, :93).
    """
    grid_by = max_distance / grid_resolution
    pts = patch_grid_points(patches, grid_by, idx=idx, geom=geom)
    pts = pts.withColumn("bx", F.floor(F.col("px") / max_distance)) \
             .withColumn("by", F.floor(F.col("py") / max_distance))
    counts = pts.groupBy(idx).agg(F.count(F.lit(1)).alias("n_pts"))

    # 3x3 bucket-neighbourhood candidate join
    offs = pts.sparkSession.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx INT, dy INT")
    left = (pts.crossJoin(F.broadcast(offs))
            .select(F.col(idx).alias("Source"), F.col("px").alias("sx"),
                    F.col("py").alias("sy"),
                    (F.col("bx") + F.col("dx")).alias("bx"),
                    (F.col("by") + F.col("dy")).alias("by")))
    right = pts.select(F.col(idx).alias("Target"), F.col("px").alias("tx"),
                       F.col("py").alias("ty"), "bx", "by")

    fun = connectedness_fun
    maxd = float(max_distance)

    pair_schema = "Source LONG, Target LONG, s DOUBLE"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            d = np.hypot(pdf["sx"].to_numpy() - pdf["tx"].to_numpy(),
                         pdf["sy"].to_numpy() - pdf["ty"].to_numpy())
            ok = (d <= maxd) & (d > 0.0)
            v = np.zeros(len(pdf))
            if ok.any():
                v[ok] = fun(d[ok])
            out = pdf[["Source", "Target"]].copy()
            out["s"] = v
            yield out[ok]

    pairs = left.join(right, on=["bx", "by"]).drop("bx", "by")
    contrib = pairs.mapInPandas(kernel, schema=pair_schema)
    agg = contrib.groupBy("Source", "Target").agg(F.sum("s").alias("ssum"))
    nsrc = counts.select(F.col(idx).alias("Source"), F.col("n_pts").alias("n_src"))
    return (agg.join(F.broadcast(nsrc), "Source")
            .select("Source", "Target",
                    (F.col("ssum") / F.col("n_src")
                     * F.lit(grid_by * grid_by)).alias("Connectedness")))


def connectedness_wide(conn: DataFrame) -> DataFrame:
    """Dense-matrix output option (R/generate_connectedness.R:249-260):
    one row per Source, one zero-filled column per Target.  The target
    ids come from one distinct pass and are handed to the pivot sorted;
    zero fill matches the reference's dense matrix (absent pair == kernel
    contribution 0 beyond max_distance)."""
    targets = [r["Target"] for r in
               conn.select("Target").distinct().orderBy("Target").collect()]
    wide = (conn.groupBy("Source")
            .pivot("Target", values=targets)
            .agg(F.first("Connectedness")))
    return wide.na.fill(0.0)
