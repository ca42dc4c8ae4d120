"""Hex tiling of a landscape + area-weighted land-use rollup.

The Spark-first reimplementation of the reference's central query,
``generate_patches`` (R/generate_patches.R:38-399):

  lattice (spark.range, no driver materialisation)
    -> centroid distance prefilter            [R3 cheap-before-expensive]
    -> exact hex ∩ landscape clip + area       (Arrow-batched pandas UDF)
    -> min_prop fragment filter                (R/generate_patches.R:141,197)
    -> impassable subtraction (area)           (R/generate_patches.R:148-166)
    -> dense re-index over (q, r)              (R/generate_patches.R:200-201)
    -> per-category clip areas -> proportions  (R/generate_patches.R:252-326)
    -> LU_* wide columns + Σ==1 checksum       (R/generate_patches.R:334-355)

Scale notes: the lattice + clip is a single map-only stage (no shuffle);
polygon layers are broadcast when small (the reference's regime) — the
cell-cover equi-join path for continent-scale layers is
cover.polygon_cell_cover + cover.pip_join.
All geometry math is geo.py NumPy over WKB; nothing is per-row Python.

Split patches (one (q,r) cell cut into disconnected pieces by the
landscape) produce one row per exact connected component
(geo.clip_polygon_components), sharing (q,r) with distinct dense Index —
the reference's st_cast-to-POLYGON semantics (F3 fixture golden facts in
tests/test_split_patches.py).

Category and impassable areas are EXACT per connected component: each
layer is clipped to the hex (convex clip) and then boolean-intersected
with each landscape component (geo.intersection_area), matching the
reference's st_intersection(patch, layer) on split patches
(R/generate_patches.R:148-166, 252-266).  The one remaining assumption,
asserted in tests, is that land_use categories are mutually DISJOINT
(true of CORINE partitions) — lu_sum would double-count overlap.
"""

from __future__ import annotations

from contextlib import ExitStack
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geo
from . import params as P
from . import hexgrid
from .checkpoint import cached
from .indexing import dense_index


def generate_patches(spark: SparkSession, landscape_wkb: bytes,
                     hex_width: float = P.HEX_WIDTH,
                     reference_point: tuple[float, float] = (P.REFX, P.REFY),
                     land_use: list[tuple[str, str, bytes]] | None = None,
                     keep_geometry: bool = False,
                     name: str = "patch", name_index: bool = False,
                     add_removed: bool = False,
                     simplify_keep: float | None = None) -> DataFrame:
    """Tile `landscape_wkb` with hexagons; returns the patches DataFrame.

    land_use: list of (category, kind, wkb) where kind in
    {"Impassable", "Passable", other} — mirrors the reference's ordered
    Category factor with an Impassable level (R/generate_patches.R:68-73).
    Output columns: Index, q, r, cell_id, hex_cx, hex_cy, centroid_x,
    centroid_y, area, lu_sum, LU_<cat>... (+ geom_wkb if keep_geometry).
    """
    refx, refy = reference_point
    hexarea = P.hex_area(hex_width)
    hexhgt = P.hex_height(hex_width)
    if simplify_keep is not None:
        # layer prep exactly like the reference's ms_simplify(keep=,
        # method="dp") before tiling (R/extract_corine.R:273,
        # R/generate_patches.R:153,193,241)
        landscape_wkb = geo.multipolygon_to_wkb(
            geo.simplify_polygons_keep(geo.wkb_to_polygons(landscape_wkb),
                                       simplify_keep))
        if land_use:
            land_use = [
                (c, k, geo.multipolygon_to_wkb(
                    geo.simplify_polygons_keep(geo.wkb_to_polygons(wkb),
                                               simplify_keep)))
                for c, k, wkb in land_use]
    landscape = geo.wkb_to_polygons(landscape_wkb)
    minx, miny, maxx, maxy = geo.polygons_bounds(landscape)

    lat = hexgrid.lattice(spark, minx, miny, maxx, maxy, hex_width,
                          refx, refy)

    impassable = [(c, wkb) for c, k, wkb in (land_use or []) if k == "Impassable"]
    categories = [(c, wkb) for c, k, wkb in (land_use or []) if k != "Impassable"]
    cat_names = [c for c, _ in categories]

    # ---- one map-only stage: distance prefilter + exact clip + areas ------
    ls_bytes = landscape_wkb
    imp_bytes = [wkb for _, wkb in impassable]
    cat_bytes = [wkb for _, wkb in categories]
    w_ = hex_width
    thresh = hexhgt / 1.9                     # R/generate_patches.R:105-107
    min_area = P.MIN_PROP * hexarea

    out_fields = ("q LONG, r LONG, cell_id LONG, `__part` INT, "
                  "hex_cx DOUBLE, hex_cy DOUBLE, "
                  "area DOUBLE, centroid_x DOUBLE, centroid_y DOUBLE, "
                  "geom_wkb BINARY, __imp DOUBLE, "
                  + ", ".join(f"`__cat_{i}` DOUBLE" for i in range(len(cat_names))))
    if not cat_names:
        out_fields = out_fields.rstrip(", ")

    def clip_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ls = geo.wkb_to_polygons(ls_bytes)
        imps = [geo.wkb_to_polygons(b) for b in imp_bytes]
        cats = [geo.wkb_to_polygons(b) for b in cat_bytes]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cx = pdf["hex_cx"].to_numpy()
            cy = pdf["hex_cy"].to_numpy()
            # R3: cheap distance prefilter before any clipping
            dist = geo.dist_points_to_polygons(cx, cy, ls)
            keep = dist < thresh
            pdf = pdf[keep]
            if len(pdf) == 0:
                continue
            cx, cy = cx[keep], cy[keep]
            n = len(pdf)
            rows: list[tuple] = []
            # pre-clip complex layers to this batch's window: each per-cell
            # clip below then touches only the LOCAL boundary — cost per
            # boundary cell is O(nearby coastline), not O(layer vertices).
            # Skipped for simple layers, where the pre-clip costs more than
            # it saves.
            pad = max(w_, P.hex_height(w_))
            win = geo.rect_ring(cx.min() - pad, cy.min() - pad,
                                cx.max() + pad, cy.max() + pad)

            def localise(polys):
                if sum(len(r) for poly in polys for r in poly) <= 256:
                    return polys
                return [c for poly in polys
                        for c in geo.clip_polygon_components(poly, win)]

            ls_local = localise(ls)
            imps_local = [localise(ip) for ip in imps]
            cats_local = [localise(cp) for cp in cats]
            qv = pdf["q"].to_numpy()
            rv = pdf["r"].to_numpy()
            cv = pdf["cell_id"].to_numpy()
            # R4 fast path, generalised: a hex whose centroid clears every
            # boundary by more than the circumradius (hexhgt/2) is entirely
            # inside (or outside) each layer — zero geometry work.  At
            # continent scale this is the overwhelming majority of cells.
            circ = P.hex_height(w_) / 2
            ls_clear = geo.boundary_distance(cx, cy, ls) > circ
            ls_inside = geo.points_in_polygons(cx, cy, ls)
            imp_flat = [p for ip in imps for p in ip]
            imp_clear = geo.boundary_distance(cx, cy, imp_flat) > circ \
                if imp_flat else np.ones(n, dtype=bool)
            imp_inside = geo.points_in_polygons(cx, cy, imp_flat) \
                if imp_flat else np.zeros(n, dtype=bool)
            cat_clear = [geo.boundary_distance(cx, cy, cp) > circ for cp in cats]
            cat_inside = [geo.points_in_polygons(cx, cy, cp) for cp in cats]
            hexarea_ = P.hex_area(w_)
            for i in range(n):
                if ls_clear[i] and not (imp_flat and not imp_clear[i]) and \
                        all(cat_clear[k][i] for k in range(len(cats))):
                    if not ls_inside[i]:
                        continue          # hex fully outside the landscape
                    imp_a = hexarea_ if (imp_flat and imp_inside[i]) else 0.0
                    net = hexarea_ - imp_a
                    if net > 0.0 or imp_a > 0.0:
                        rows.append((
                            qv[i], rv[i], cv[i], 0, cx[i], cy[i], net,
                            cx[i], cy[i],
                            geo.polygon_to_wkb(
                                [hexgrid.hex_ring(cx[i], cy[i], w_)]),
                            imp_a,
                            *[(hexarea_ if cat_inside[k][i] else 0.0)
                              for k in range(len(cats))]))
                    continue
                hexring = hexgrid.hex_ring(cx[i], cy[i], w_)
                # exact connected components of hex ∩ landscape — split
                # patches get their own rows (st_cast POLYGON semantics,
                # R/generate_patches.R:160,182)
                comps: list[list[np.ndarray]] = []
                for poly in ls_local:
                    comps.extend(geo.clip_polygon_components(poly, hexring))
                if not comps:
                    continue
                infos = []
                for comp in comps:
                    a = geo.polygon_area(comp)
                    if a <= 0:
                        continue
                    ccx, ccy = geo.polygons_centroid([comp])
                    infos.append([a, ccx, ccy, comp, 0.0,
                                  [0.0] * len(cats)])
                if not infos:
                    continue
                # the overwhelmingly common boundary case: one component
                # that IS the whole hex (hex inside the landscape, some
                # other layer's boundary nearby) — clips against it are
                # plain convex clips
                single_full = (len(infos) == 1 and
                               infos[0][0] >= hexarea_ * (1.0 - 1e-12))
                # impassable subtraction: pieces are clipped to the hex AND
                # to the landscape components (exact boolean area), so an
                # Impassable layer crossing the landscape boundary never
                # overcounts (R/generate_patches.R:148-166)
                for ip in imps_local:
                    for ipc in (geo.clip_polygon_components(p, hexring)
                                for p in ip):
                        for piece in ipc:
                            pa = geo.polygon_area(piece)
                            if pa <= 0:
                                continue
                            if single_full:
                                infos[0][4] += pa
                            else:
                                for info in infos:
                                    info[4] += geo.intersection_area(
                                        [piece], [info[3]])
                # category areas: exact per connected component — each
                # category is clipped to the hex, then boolean-intersected
                # with each component (st_intersection(patch, category)
                # semantics, R/generate_patches.R:252-266)
                for k, cp in enumerate(cats_local):
                    if single_full:
                        infos[0][5][k] = geo.area_polygons_in_convex(
                            cp, hexring)
                        continue
                    pieces = [pc for poly in cp
                              for pc in geo.clip_polygon_components(
                                  poly, hexring)]
                    if not pieces:
                        continue
                    for info in infos:
                        info[5][k] = geo.intersection_area(pieces, [info[3]])
                # deterministic part order: area desc, then centroid
                infos.sort(key=lambda x: (-x[0], x[1], x[2]))
                for part, info in enumerate(infos):
                    a, ccx, ccy, comp, imp_a, cat_areas = info
                    net = a - imp_a
                    rows.append((
                        qv[i], rv[i], cv[i], part, cx[i], cy[i], net,
                        ccx, ccy, geo.polygon_to_wkb(comp), imp_a,
                        *cat_areas))
            cols = ["q", "r", "cell_id", "__part", "hex_cx", "hex_cy",
                    "area", "centroid_x", "centroid_y", "geom_wkb", "__imp",
                    *[f"__cat_{k}" for k in range(len(cats))]]
            res = pd.DataFrame(rows, columns=cols)
            # keep sub-threshold rows that carry impassable area so the
            # add_removed aggregate (R/generate_patches.R:169-177) is exact
            yield res[(res["area"] >= min_area) | (res["__imp"] > 0.0)]

    clipped_all = lat.mapInPandas(clip_cells, schema=out_fields)

    # dense Index over (q, r): exact reference ordering (is.na first is moot
    # here — removed/impassable rows are not emitted).  Split parts within a
    # cell get consecutive indices in deterministic (area desc) part order.
    # r7: the lattice dimensions are known driver-side, so a bounded
    # lattice (< 2^18 cells) takes dense_index's one-job single-window
    # path — identical numbering, two fewer planning jobs per call.
    q_lo, q_hi, r_lo, r_hi = hexgrid.axial_range(minx, miny, maxx, maxy,
                                                 hex_width, refx, refy)
    n_cells = (q_hi - q_lo + 1) * (r_hi - r_lo + 1)
    with ExitStack() as scope:
        if add_removed and impassable:
            # the removed-area collect and dense_index both read the clip
            clipped_all = scope.enter_context(cached(clipped_all))
            removed = clipped_all.agg(
                F.sum("__imp").alias("area")).collect()[0]["area"] or 0.0
        patches = dense_index(clipped_all.where(F.col("area") >= min_area),
                              ["q", "r", "__part"], out="Index",
                              small=n_cells < (1 << 18)).drop("__part")

    # ---- land-use proportions + wide LU_* columns --------------------------
    if cat_names:
        sum_expr = " + ".join(f"`__cat_{i}`" for i in range(len(cat_names)))
        patches = patches.withColumn("lu_sum", F.expr(sum_expr))
        eps = float(np.sqrt(np.finfo(float).eps))
        lu_cols = []
        passable_others = [i for i, c in enumerate(cat_names) if c != "Passable"]
        for i, c in enumerate(cat_names):
            prop = F.when(F.col("lu_sum") > 0, F.col(f"__cat_{i}") / F.col("lu_sum")).otherwise(F.lit(0.0))
            if c == "Passable":
                # area_sum ~ 0 -> attribute everything to Passable
                # (R/generate_patches.R:338-343)
                others = sum((F.when(F.col("lu_sum") > eps,
                                     F.col(f"__cat_{j}") / F.col("lu_sum")).otherwise(F.lit(0.0))
                              for j in passable_others), F.lit(0.0))
                prop = F.when(F.col("lu_sum") < eps, F.lit(1.0) - others).otherwise(prop)
            lu_cols.append(prop.alias(f"LU_{c}"))
        patches = patches.select("Index", "q", "r", "cell_id", "hex_cx", "hex_cy",
                                 "centroid_x", "centroid_y", "area", "lu_sum",
                                 *lu_cols, "geom_wkb")
    else:
        patches = patches.withColumn("lu_sum", F.col("area")) \
            .select("Index", "q", "r", "cell_id", "hex_cx", "hex_cy",
                    "centroid_x", "centroid_y", "area", "lu_sum", "geom_wkb")

    if add_removed and impassable:
        # one Index=NULL row holding everything removed as impassable
        # (R/generate_patches.R:169-177); geometry/centroid omitted (area
        # engine), LU_* NULL as in the reference's wide bind (:320-323)
        removed_row = spark.createDataFrame(
            [(None, None, None, None, None, None, None, None,
              float(removed), None)],
            "Index LONG, q LONG, r LONG, cell_id LONG, hex_cx DOUBLE, "
            "hex_cy DOUBLE, centroid_x DOUBLE, centroid_y DOUBLE, "
            "area DOUBLE, lu_sum DOUBLE")
        patches = patches.unionByName(removed_row, allowMissingColumns=True)

    if name_index:
        # "{name}_{zero-padded}" (R/generate_patches.R:381-385); pad width =
        # width of the largest index, as R's format() does
        n_max = patches.agg(F.max("Index")).collect()[0][0] or 0
        width = len(str(n_max))
        patches = patches.withColumn(
            "Index_str",
            F.when(F.col("Index").isNotNull(),
                   F.concat(F.lit(name), F.lit("_"),
                            F.lpad(F.col("Index").cast("string"), width, "0"))))
    if not keep_geometry:
        patches = patches.drop("geom_wkb")
    return patches
