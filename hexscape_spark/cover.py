"""Polygon -> hex-cell cover and the point-in-polygon join over it (J6/J7
at scale).

The broadcast clip path in tiling.py matches the reference's regime (small
polygon layers).  At continent scale the layer itself is huge, so the join
must be polygon-side parallel: explode every polygon into the hex cells it
overlaps (map-only, bounded by its bbox), mark fully-covered cells (no
clipping needed — the R4-style constant fast path), and equi-join on
cell_id.  Area weights for partial cells are computed exactly with the
convex clipper, only for the partial minority.

This is the engine's core custom join strategy (SURVEY §2.3 J6, §4 R3/R5):
an equi-join Catalyst can shuffle/skew-handle, never a geometric N².
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from . import hexgrid
from . import params as P


def polygon_cell_cover(polys: DataFrame, hex_width: float = P.HEX_WIDTH,
                       poly_id: str = "poly_id", geom: str = "geom_wkb"
                       ) -> DataFrame:
    """Explode polygons into overlapped hex cells.

    Output: poly_id, q, r, cell_id, full (bool), cover_area (double; the
    exact hex∩polygon area).  A NULL or empty geometry covers no cell.
    Map-only: each polygon is processed independently; a 10^9-polygon layer
    shards across executors with no shuffle.
    """
    w = hex_width
    h = P.hex_height(w)
    step = hexgrid.row_step(w)
    hexarea = P.hex_area(w)
    schema = (f"{poly_id} LONG, q LONG, r LONG, cell_id LONG, "
              "full BOOLEAN, cover_area DOUBLE")

    circ = h / 2.0                       # hex circumradius
    block_cells = 65536                  # candidate-lattice block size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_pid, out_q, out_r, out_full, out_area = [], [], [], [], []

            def emit(pid, qg, rg, ccx, ccy, polys_np, segs, ring_segs):
                """One candidate block: fast-path/clip decisions.

                Memory is bounded: the distance and containment tests see
                only the segments near/left-reaching this block (bbox
                prefilter), and the distance kernel chunks over segments —
                so a 10^6-cell x 10^4-vertex polygon never allocates a
                (cells x segments) temporary (ADVICE r01)."""
                bx0, bx1 = float(ccx.min()), float(ccx.max())
                by0, by1 = float(ccy.min()), float(ccy.max())
                ax, ay, bxx, byy = segs
                # distance prefilter: only segments within circ of the
                # block matter — min over farther segments is > circ anyway
                keep = ((np.minimum(ax, bxx) <= bx1 + circ) &
                        (np.maximum(ax, bxx) >= bx0 - circ) &
                        (np.minimum(ay, byy) <= by1 + circ) &
                        (np.maximum(ay, byy) >= by0 - circ))
                bdist = geo.dist_points_to_segment_arrays(
                    ccx, ccy, ax[keep], ay[keep], bxx[keep], byy[keep])
                # containment prefilter per ring: a rightward ray from the
                # block can only cross segments straddling its y-range that
                # are not entirely left of it (parity is per-segment
                # additive, so the subset preserves it)
                inside = np.zeros(len(ccx), dtype=bool)
                for rings in ring_segs:
                    inn = None
                    for (sx1, sy1, sx2, sy2) in rings:
                        rk = ((np.minimum(sy1, sy2) <= by1) &
                              (np.maximum(sy1, sy2) >= by0) &
                              (np.maximum(sx1, sx2) >= bx0))
                        got = geo.points_in_ring_segments(
                            ccx, ccy, sx1[rk], sy1[rk], sx2[rk], sy2[rk])
                        inn = got if inn is None else inn & ~got
                    inside |= inn
                clear = bdist > circ
                for j in np.nonzero(clear & inside)[0]:
                    out_pid.append(pid)
                    out_q.append(int(qg[j]))
                    out_r.append(int(rg[j]))
                    out_full.append(True)
                    out_area.append(hexarea)
                boundary = np.nonzero(~clear)[0]
                if len(boundary) == 0:
                    return
                # pre-clip a complex polygon to the block window (every
                # boundary hex lies inside it), so each per-cell clip
                # touches only the LOCAL coastline — clip cost per cell is
                # then O(nearby boundary), not O(total polygon vertices).
                # Simple polygons skip it (pre-clip would cost more).
                if sum(len(r_) for poly in polys_np for r_ in poly) > 256:
                    win = geo.rect_ring(bx0 - w, by0 - h, bx1 + w, by1 + h)
                    pieces = [c for poly in polys_np
                              for c in geo.clip_polygon_components(poly, win)]
                else:
                    pieces = polys_np
                for j in boundary:
                    hexring = hexgrid.hex_ring(float(ccx[j]), float(ccy[j]),
                                               w)
                    a = geo.area_polygons_in_convex(pieces, hexring)
                    if a <= 0.0:
                        continue
                    full = a >= hexarea * (1.0 - 1e-12)
                    out_pid.append(pid)
                    out_q.append(int(qg[j]))
                    out_r.append(int(rg[j]))
                    out_full.append(bool(full))
                    out_area.append(hexarea if full else a)

            for _, row in pdf.iterrows():
                wkb = row[geom]
                polys_np = [] if wkb is None else \
                    geo.wkb_to_polygons(bytes(wkb))
                if not polys_np:
                    continue
                x0, y0, x1, y1 = geo.polygons_bounds(polys_np)
                all_rings = [r_ for poly in polys_np for r_ in poly]
                seg_parts = [geo.ring_segments(r_) for r_ in all_rings]
                segs = tuple(np.concatenate([p[i] for p in seg_parts])
                             for i in range(4))
                ring_segs = [[geo.ring_segments(r_) for r_ in poly]
                             for poly in polys_np]
                # candidate axial range of the bbox, padded by one ring
                q_lo, q_hi, r_lo, r_hi = hexgrid.axial_range(
                    x0, y0, x1, y1, w, P.REFX, P.REFY)
                q_lo, q_hi, r_lo, r_hi = q_lo - 1, q_hi + 1, r_lo - 1, r_hi + 1
                n_edges = sum(len(r_) for r_ in all_rings)
                # complex polygons block into SQUARE tiles so the per-tile
                # window (and hence the pre-clipped local coastline and the
                # prefiltered segment sets) stays genuinely local; simple
                # polygons keep cheap full-width row strips
                if n_edges > 256:
                    q_step = r_step = 64
                else:
                    q_step = q_hi - q_lo + 1
                    r_step = max(1, block_cells // max(1, q_step))
                for qb in range(q_lo, q_hi + 1, q_step):
                    qs = np.arange(qb, min(qb + q_step, q_hi + 1))
                    for rb in range(r_lo, r_hi + 1, r_step):
                        rs = np.arange(rb, min(rb + r_step, r_hi + 1))
                        rg, qg = np.meshgrid(rs, qs, indexing="ij")
                        rg = rg.ravel()
                        qg = qg.ravel()
                        ccx = P.REFX + rg * (w / 2.0) + qg * w
                        ccy = P.REFY - rg * step
                        inbb = (ccx >= x0 - w / 2) & (ccx <= x1 + w / 2) & \
                               (ccy >= y0 - h / 2) & (ccy <= y1 + h / 2)
                        if not inbb.any():
                            continue
                        emit(int(row[poly_id]), qg[inbb], rg[inbb],
                             ccx[inbb], ccy[inbb], polys_np, segs,
                             ring_segs)
            res = pd.DataFrame({
                poly_id: pd.Series(out_pid, dtype="int64"),
                "q": pd.Series(out_q, dtype="int64"),
                "r": pd.Series(out_r, dtype="int64"),
                "full": pd.Series(out_full, dtype="bool"),
                "cover_area": pd.Series(out_area, dtype="float64"),
            })
            res["cell_id"] = (res["q"] + P.CELL_OFF) * P.CELL_MUL + (res["r"] + P.CELL_OFF)
            yield res[[poly_id, "q", "r", "cell_id", "full", "cover_area"]]

    return polys.select(poly_id, geom).mapInPandas(run, schema=schema)


def pip_join(points_with_cells: DataFrame, cover: DataFrame,
             polys: DataFrame, point_x: str = "lon", point_y: str = "lat",
             poly_id: str = "poly_id", geom: str = "geom_wkb") -> DataFrame:
    """Point-in-polygon join (J7, R/download_maps.R:89-118):

      1. equi-join points to polygon cover on cell_id (cheap prefilter, R3);
      2. FULL cells need no geometry — containment is implied;
      3. partial cells get an exact vectorized PIP refine against the
         polygon (Arrow-batched, minority of rows).

    polys must be joinable on poly_id and carry geom_wkb.  The polygon
    geometry reaches the refine UDF THROUGH the join (Catalyst broadcasts a
    small layer, shuffles a big one) — nothing is ever materialised on the
    driver, so a continent-scale layer cannot OOM it."""
    import pyspark.sql.functions as F2

    cand = points_with_cells.join(cover.select(poly_id, "cell_id", "full"),
                                  on="cell_id")
    sure = cand.where(F2.col("full")).drop("full")
    maybe = cand.where(~F2.col("full")).drop("full")

    out_schema = maybe.schema
    with_geom = maybe.join(polys.select(poly_id, geom), on=poly_id) \
                     .select(*maybe.columns, geom)

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for pid, grp in pdf.groupby(poly_id):
                # one WKB parse per (batch, polygon), not per row
                pg = geo.wkb_to_polygons(bytes(grp[geom].iloc[0]))
                keep[grp.index.to_numpy()] = geo.points_in_polygons(
                    grp[point_x].to_numpy(), grp[point_y].to_numpy(), pg)
            yield pdf.loc[keep, [f.name for f in out_schema.fields]]

    refined = with_geom.mapInPandas(refine, schema=out_schema)
    return sure.unionByName(refined)


def landuse_rollup_from_cover(cover: DataFrame,
                              category_col: str = "category") -> DataFrame:
    """Per-cell fractional land-use weights from a cover table that carries
    a category per polygon: sums exact cover areas per (cell, category) —
    the area-weighted rollup of R/generate_patches.R:252-326 expressed as
    one hash aggregation."""
    from pyspark.sql.window import Window
    per_cat = (cover.groupBy("cell_id", "q", "r", category_col)
               .agg(F.sum("cover_area").alias("cat_area")))
    # per-cell total via a window instead of a self-join: a single lineage,
    # so the cover UDF executes once (A6, R/generate_patches.R:313-314)
    w = Window.partitionBy("cell_id")
    return (per_cat.withColumn("lu_sum", F.sum("cat_area").over(w))
            .withColumn("proportion", F.col("cat_area") / F.col("lu_sum")))
