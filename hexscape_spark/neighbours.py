"""Patch adjacency graph — neighbours with border lengths and directions.

Spark-first reimplementation of generate_neighbours
(R/generate_neighbours.R:8-179):

  * candidate enumeration = the 6 axial offsets cross-joined and
    equi-joined back on (q, r) — never an N² spatial join
    (R/generate_neighbours.R:57-72; optimisation R5 in SURVEY.md §4);
  * fast path: both patches "complete" (area > (1-MIN_PROP)*hexarea) ->
    Border = hex side length exactly, zero geometry work
    (R/generate_neighbours.R:86-93; optimisation R4);
  * slow path: Border = length of the shared hex edge inside the landscape,
    the exact buffer->0 limit of the reference's
    area(buffer∩buffer)/(2*buffer) estimate (R/generate_neighbours.R:100-133);
  * Direction from the (dq, dr) offset — exact, since hex centroids are a
    pure function of (q, r) (R/generate_neighbours.R:146-157);
  * final filter Border > MIN_PROP * hexlth (R/generate_neighbours.R:132).

Output: Index, Neighbour, Border, Direction, nb_area  — the reference's
"neighbours" table (R/generate_neighbours.R:146-159,174).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from . import params as P
from .hexgrid import hex_vertex_offsets, offsets_df

# Shared-edge vertex offsets (relative to the centroid of the *source* hex)
# for each direction, as index pairs into hexgrid.hex_vertex_offsets.
def _edge_offsets(w: float) -> dict[str, tuple[tuple[float, float], tuple[float, float]]]:
    v = hex_vertex_offsets(w)
    return {d: (v[a], v[b]) for d, a, b in (
        ("E", 5, 4), ("W", 1, 2), ("NE", 0, 5),
        ("NW", 1, 0), ("SE", 4, 3), ("SW", 3, 2))}


def generate_neighbours(patches: DataFrame, landscape_wkb: bytes,
                        hex_width: float = P.HEX_WIDTH) -> DataFrame:
    """patches: needs Index, q, r, area, hex_cx, hex_cy."""
    spark = patches.sparkSession
    hexarea = P.hex_area(hex_width)
    hexlth = P.hex_side(hex_width)

    has_geom = "geom_wkb" in patches.columns
    cols = ["Index", "q", "r", "area", "hex_cx", "hex_cy"] + \
        (["geom_wkb"] if has_geom else [])
    base = patches.select(*cols)
    offs = F.broadcast(offsets_df(spark))

    shifted = (base.crossJoin(offs)
               .select((F.col("q") + F.col("dq")).alias("q"),
                       (F.col("r") + F.col("dr")).alias("r"),
                       F.col("Index").alias("Neighbour"),
                       F.col("area").alias("nb_area"),
                       *([F.col("geom_wkb").alias("nb_geom")] if has_geom else []),
                       F.col("direction").alias("_rev_dir")))
    # direction seen FROM the source patch = opposite of the shift we applied
    flip = {"NE": "SW", "SW": "NE", "NW": "SE", "SE": "NW", "E": "W", "W": "E"}
    flip_expr = F.create_map(*[F.lit(x) for kv in flip.items() for x in kv])
    edges = (base.join(shifted, on=["q", "r"], how="inner")
             .where(F.col("Index") != F.col("Neighbour"))
             .withColumn("Direction", flip_expr[F.col("_rev_dir")])
             .drop("_rev_dir"))

    # r7 (guide §2.4): the fast/slow split used to evaluate the `edges`
    # join subtree TWICE (one branch per filter) and union the results;
    # a single pass computes the fast-path constant inside the UDF row-
    # wise instead — identical values, one join execution, no union.
    # Geometry payloads are nulled for complete edges first, so the
    # fast-path majority still ships no polygon bytes through Arrow.
    complete = (F.col("area") > (1.0 - P.MIN_PROP) * hexarea) & \
               (F.col("nb_area") > (1.0 - P.MIN_PROP) * hexarea)
    edges = edges.withColumn("__complete", complete)
    if has_geom:
        edges = (edges
                 .withColumn("geom_wkb", F.when(~F.col("__complete"),
                                                F.col("geom_wkb")))
                 .withColumn("nb_geom", F.when(~F.col("__complete"),
                                               F.col("nb_geom"))))
    ls_bytes = landscape_wkb
    w_ = hex_width
    schema = ("Index LONG, Neighbour LONG, Border DOUBLE, Direction STRING, "
              "nb_area DOUBLE")

    use_geom = has_geom
    eps = 1e-7 * hex_width
    hexlth_f = float(hexlth)

    def border_lengths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ls = geo.wkb_to_polygons(ls_bytes)
        eo = _edge_offsets(w_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            borders = np.zeros(len(pdf))
            cx = pdf["hex_cx"].to_numpy()
            cy = pdf["hex_cy"].to_numpy()
            dirs = pdf["Direction"].to_numpy()
            comp = pdf["__complete"].to_numpy()
            for i in range(len(pdf)):
                if comp[i]:
                    # both patches complete: Border = hex side exactly
                    # (R/generate_neighbours.R:86-93), zero geometry work
                    borders[i] = hexlth_f
                    continue
                (ax, ay), (bx, by) = eo[dirs[i]]
                p0 = np.array([cx[i] + ax, cy[i] + ay])
                p1 = np.array([cx[i] + bx, cy[i] + by])
                if use_geom:
                    # per-part geometries: the shared border is where the
                    # edge has the SOURCE part on its inside side and the
                    # NEIGHBOUR part on its outside side — measured by
                    # nudging the edge eps into each cell and intersecting
                    # the inside intervals (exact for split patches)
                    src = geo.wkb_to_polygons(bytes(pdf["geom_wkb"].iloc[i]))
                    nb = geo.wkb_to_polygons(bytes(pdf["nb_geom"].iloc[i]))
                    edge = p1 - p0
                    nrm = np.array([-edge[1], edge[0]])
                    nrm = nrm / np.hypot(*nrm)
                    # orient nrm toward the source hex centroid
                    mid = 0.5 * (p0 + p1)
                    to_src = np.array([cx[i], cy[i]]) - mid
                    if np.dot(nrm, to_src) < 0:
                        nrm = -nrm
                    iv_src = geo.segment_intervals_in_polygons(
                        p0 + eps * nrm, p1 + eps * nrm, src)
                    iv_nb = geo.segment_intervals_in_polygons(
                        p0 - eps * nrm, p1 - eps * nrm, nb)
                    borders[i] = geo.intervals_intersect_length(iv_src, iv_nb) \
                        * float(np.hypot(*edge))
                else:
                    borders[i] = geo.segment_length_in_polygons(p0, p1, ls)
            out = pdf[["Index", "Neighbour"]].copy()
            out["Border"] = borders
            out["Direction"] = pdf["Direction"].to_numpy()
            out["nb_area"] = pdf["nb_area"].to_numpy()
            yield out

    bordered = edges.mapInPandas(border_lengths, schema=schema)
    cols = ["Index", "Neighbour", "Border", "Direction", "nb_area"]
    return bordered.select(*cols).where(F.col("Border") > P.MIN_PROP * hexlth)
