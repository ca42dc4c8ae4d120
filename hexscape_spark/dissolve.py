"""A2: geometric union aggregate (dissolve) per group.

summarise(geometry = st_union(geometry)) (R/extract_corine.R:156,
R/load_corine.R:254,278) in the distributed shape SURVEY §2.4 A2
prescribes: a partition-local pre-union, then a final merge, so one CLC
class with 10^7 features never lands in a single task with the raw
inputs.

The emitted `geom_wkb` is the true dissolved boundary
(geo.union_component: exact trapezoid-sweep boundary trace — every vertex
an input vertex, a segment crossing, or an exact evaluation at an event
x).  `area` is the exact union area (overlap counted once) and `n_parts`
the number of touch/overlap-connected components (the st_union merge
criterion, crossing-aware).

If boundary tracing fails on degenerate input (UnionTraceError — the
trace self-validates against the trapezoid-sum area), that component
keeps its source rings as geometry; its area stays exact via the
independent strip-sweep kernel (geo.union_area).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geo
from .checkpoint import cached, materialise, spread

# level-1 slices per key: a ~sqrt(_NUM_SALTS)² grid of bbox-centre tiles
_NUM_SALTS = 32


def _polygons(wkb) -> list[list[np.ndarray]]:
    """Polygons of one geometry value; NULL reads as the empty geometry."""
    return [] if wkb is None else geo.wkb_to_polygons(bytes(wkb))


def _canonical_order(polys: list[list[np.ndarray]]
                     ) -> list[list[np.ndarray]]:
    """Sort polygons by (bbox, coordinate digest): grouped-map UDFs see
    rows in SHUFFLE ARRIVAL order, which varies with parallelism — without
    a canonical order the float area summation and the emitted piece order
    (hence geom_wkb bytes) would differ run to run (caught by a
    local[4]-vs-local[16] determinism check)."""
    import hashlib

    def key(p):
        return (*geo.polygons_bounds([p]),
                hashlib.md5(b"".join(np.ascontiguousarray(r).tobytes()
                                     for r in p)).hexdigest())

    return sorted(polys, key=key)


def _union_or_rings(sub: list[list[np.ndarray]]
                    ) -> tuple[list[list[np.ndarray]], float]:
    """(union pieces, exact area) of one connected component: its traced
    boundary, or its source rings when the trace fails.  The area is the
    trapezoid-sweep one either way — exact even when the traced boundary
    carries a tolerated near-tangency sliver (geo.union_component's
    precision contract)."""
    if not sub:
        return [], 0.0
    try:
        return geo.union_component(sub)
    except geo.UnionTraceError:
        return sub, geo.union_area(sub)


def dissolve(df: DataFrame, key: str = "clc", geom: str = "geom_wkb"
             ) -> DataFrame:
    """groupBy(key) -> true-union multipolygon + exact union area and
    connected-part count.  A NULL geometry reads as empty; a key with no
    polygons emits (key, empty, 0.0, 0).

    Level 1 pre-unions each (key, salt) slice.  The salt is a tile of a
    ~sqrt(_NUM_SALTS)² grid over the bbox centres, so features that touch
    land in one slice and level 2 merges little more than the tile seams.
    The extent comes from one aggregation; a zero-extent input keeps the
    hash salt.  A heavy tile is not split further: every caller passes a
    coverage (touching, non-overlapping pieces), and a hash sub-split of
    a coverage tile fragments it into partials that level 2 re-traces.
    On a 4-core box at local[4], a 2,500-cell coverage in one tile
    dissolved in 1.15 s unsplit against 2.94 s split four ways, the
    3,240-rect landcover probe in 1.41 s against 1.98 s; only a pile of
    3,000 mutually overlapping squares was faster split (1.99 s against
    4.69 s unsplit).

    Level 2 is component-parallel, in three grouped-map stages: split
    each key's partial boundaries into touch/overlap-connected
    components, trace them spread round-robin over one group per shuffle
    partition, concatenate per key in component order.  Trace cost
    decomposes exactly over components, so a task's work is bounded by
    its share of a key's components (at worst the largest connected
    piece) rather than by the whole key.  (A log-round salt tree was
    measured first and was slower: partials that meet only at seams
    re-trace the same growing boundary every round.)

    Component criterion: raw features group at exact distance 0 (tol=0 in
    level 1); traced partial boundaries group under the default 1e-9-of-
    extent snap, because their shared seams carry interpolated vertices
    ~1 ulp apart.  Every union pass orders its inputs canonically
    (_canonical_order), so for one input set the output bytes and float
    sums do not depend on parallelism or input order.  They can depend on
    the tile grid, and so on the extent: where shared edges agree only
    to within an ulp, which features level 1 unions at distance 0 and
    which level 2 joins under the snap depends on where the tile seams
    fall, and geom_wkb may then hold more polygons than n_parts.

    dissolve() runs two eager jobs (extent, level-1 checkpoint) and
    returns the lazy 3-stage merge plan.
    """
    l1_schema = f"{key} STRING, __salt LONG, geom_wkb BINARY"

    def pre_union(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = _canonical_order([p for w in pdf[geom] for p in _polygons(w)])
        pieces: list[list[np.ndarray]] = []
        # raw source polygons: exact distance==0 merge criterion (tol=0)
        for comp in geo.overlap_components(polys, tol=0.0):
            pieces.extend(_union_or_rings([polys[i] for i in comp])[0])
        return pd.DataFrame({
            key: [pdf[key].iloc[0]],
            "__salt": pdf["__salt"].iloc[:1].to_list(),   # may be NULL
            "geom_wkb": [geo.multipolygon_to_wkb(pieces)],
        })

    @F.pandas_udf("array<double>")
    def _bbox_centre(wkbs: pd.Series) -> pd.Series:
        out = []
        for w in wkbs:
            polys = _polygons(w)
            if not polys:
                out.append(None)           # no centre: stays out of the
                continue                   # extent, salts as NULL
            b = geo.polygons_bounds(polys)
            out.append([0.5 * (b[0] + b[2]), 0.5 * (b[1] + b[3])])
        return pd.Series(out)

    base = (df.select(key, geom)
            .withColumn("__ctr", _bbox_centre(F.col(geom)))
            .withColumn("__cx", F.element_at("__ctr", 1))
            .withColumn("__cy", F.element_at("__ctr", 2)).drop("__ctr"))
    salt = F.pmod(F.xxhash64(F.col(geom)), F.lit(_NUM_SALTS))
    # the extent job and level 1 would each re-run df's upstream lineage
    # (and the centre UDF): cache `base` until level 1 is materialised
    with cached(base) as base:
        row = base.agg(F.min("__cx").alias("x0"), F.max("__cx").alias("x1"),
                       F.min("__cy").alias("y0"),
                       F.max("__cy").alias("y1")).collect()[0]
        if row["x0"] is not None and \
                (row["x1"] > row["x0"] or row["y1"] > row["y0"]):
            nb = max(1, int(math.ceil(math.sqrt(_NUM_SALTS))))
            bx = max((row["x1"] - row["x0"]) / nb, 1e-300)
            by = max((row["y1"] - row["y0"]) / nb, 1e-300)
            gx = F.least(F.floor((F.col("__cx") - F.lit(row["x0"])) / bx),
                         F.lit(nb - 1))
            gy = F.least(F.floor((F.col("__cy") - F.lit(row["y0"])) / by),
                         F.lit(nb - 1))
            salt = (gx * nb + gy).cast("long")
        salted = base.withColumn("__salt", salt).drop("__cx", "__cy")
        # Python stage: the level-1 union runs once, then the cache goes
        partial = materialise(
            spread(salted, key, "__salt").groupBy(key, "__salt")
            .applyInPandas(pre_union, schema=l1_schema))

    stage_schema = (f"{key} STRING, __comp LONG, geom_wkb BINARY, "
                    "area DOUBLE, n_parts INT")
    out_schema = f"{key} STRING, geom_wkb BINARY, area DOUBLE, n_parts INT"

    def split(pdf: pd.DataFrame) -> pd.DataFrame:
        polys = _canonical_order([p for w in pdf["geom_wkb"]
                                  for p in geo.wkb_to_polygons(bytes(w))])
        # traced partials: default snap; a key with no polygons keeps one
        # empty component so it still emits its row
        comps = geo.overlap_components(polys) or [[]]
        return pd.DataFrame({
            key: [pdf[key].iloc[0]] * len(comps),
            "__comp": list(range(len(comps))),
            "geom_wkb": [geo.multipolygon_to_wkb([polys[i] for i in comp])
                         for comp in comps],
            "area": [None] * len(comps),
            "n_parts": [None] * len(comps),
        })

    def union_each(pdf: pd.DataFrame) -> pd.DataFrame:
        subs = [geo.wkb_to_polygons(bytes(w)) for w in pdf["geom_wkb"]]
        done = [_union_or_rings(sub) for sub in subs]
        return pd.DataFrame({
            key: pdf[key].to_list(),
            "__comp": pdf["__comp"].to_list(),
            "geom_wkb": [geo.multipolygon_to_wkb(pieces) for pieces, _ in done],
            "area": [area for _, area in done],
            "n_parts": [1 if sub else 0 for sub in subs],
        })

    def concat(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__comp")
        pieces: list[list[np.ndarray]] = []
        area = 0.0
        for w, a in zip(pdf["geom_wkb"], pdf["area"]):
            pieces.extend(geo.wkb_to_polygons(bytes(w)))
            area += float(a)                       # component-order sum
        return pd.DataFrame({
            key: [pdf[key].iloc[0]],
            "geom_wkb": [geo.multipolygon_to_wkb(pieces)],
            "area": [area],
            "n_parts": [int(pdf["n_parts"].sum())],
        })

    # `split` and `union_each` read a `spread` of their groups: the
    # shuffle their groupBy needs anyway, in partitions AQE does not
    # coalesce into one task
    staged = spread(partial, key).groupBy(key) \
        .applyInPandas(split, schema=stage_schema)
    # one group per shuffle partition, not per component: each group is
    # one grouped-map call, and on a coverage of ~1,400 small components
    # a call per component doubled the merge's time
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    staged = staged.withColumn("__slot", F.col("__comp") % width)
    unioned = spread(staged, key, "__slot").groupBy(key, "__slot") \
        .applyInPandas(union_each, schema=stage_schema)
    # `concat` stays one coalesced task: it only joins each key's few
    # pieces, and spread over every core it was 1-5% slower (warm A/B on
    # `dissolve_layers`' 160 rects and the 3,240-rect landcover probe)
    return unioned.groupBy(key).applyInPandas(concat, schema=out_schema)
