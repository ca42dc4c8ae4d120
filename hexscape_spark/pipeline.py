"""The load_corine lifecycle, Spark-first (SURVEY §3.1).

Reference flow (R/load_corine.R:24-294 + R/extract_corine.R:47-205):
validate/filter codes -> per-layer planning counts -> pushdown scan ->
clip to region mask -> per-code union -> coverage-gap row -> cached ->
label join.  Engine form:

  1. P3 code filter + P1 projection (Catalyst pushes both into the scan
     when the layer is parquet-backed — R1/R2 for free);
  2. S2 planning counts (groupBy(clc).count) drive skew salting thresholds;
  3. J6 cell cover of the land-cover polygons AND of the mask;
  4. per-(cell, clc) area rollup = hash aggregation over cover areas;
  5. J10 coverage gap: MISSING_CC area per cell = mask-cell area minus the
     sum of covered areas (the relational form of
     st_difference(mask, st_union(corine)), R/extract_corine.R:177-205);
  6. A2 dissolve per code for geometry output;
  7. J1 broadcast label join;
  8. R8 checkpoints with lineage + resume at the cover and rollup stages.

Assumes land-cover features are disjoint and lie within the mask (true of
CORINE land-cover partitions; asserted by the Σ==mask-area invariant test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import params as P
from .checkpoint import checkpoint, materialise
from .cover import polygon_cell_cover
from .dissolve import dissolve

MISSING_CC = "MISSING_CC"        # R/extract_corine.R:191-193


def _regroup_fingerprint(regroup: "int | DataFrame | None"):
    """Checkpoint-params fingerprint of a regroup spec.  A mapping DataFrame
    is fingerprinted by its CONTENT (sorted (code, group) rows hashed), so
    two runs with different mappings never share a checkpoint (ADVICE r02:
    the old boolean collapse let resume=True silently reuse a stale cover
    computed under another mapping)."""
    if regroup is None or isinstance(regroup, int):
        return regroup
    import hashlib
    rows = sorted((str(r[0]), str(r[1]))
                  for r in regroup.select("clc", "clc_group").collect())
    return "map:" + hashlib.md5(repr(rows).encode("utf-8")).hexdigest()


def regroup_landcover(df: DataFrame, regroup: "int | DataFrame",
                      code: str = "clc") -> DataFrame:
    """CLC regrouping (R/load_corine.R:61-93).

    ``regroup`` is either an integer hierarchy level (1-3): codes collapse
    to their level-k digit prefix, exactly the reference's
    ``str_sub(CLC_CODE, 1, level)``; or a user mapping DataFrame with
    columns (``code``, 'clc_group'): codes re-key via broadcast join, and
    unmapped codes keep their original value (the reference keeps
    unmatched rows and appends a "Missing data" group — our MISSING_CC
    rows pass through both paths untouched).
    """
    if isinstance(regroup, int):
        if not 1 <= regroup <= 3:
            raise ValueError(f"regroup level must be 1..3, got {regroup}")
        return df.withColumn(
            code, F.when(F.col(code) == MISSING_CC, F.col(code))
                   .otherwise(F.substring(F.col(code), 1, regroup)))
    m = regroup.select(F.col(code).alias("__rk"),
                       F.col("clc_group").alias("__rg"))
    return (df.join(F.broadcast(m), F.col(code) == F.col("__rk"), "left")
            .withColumn(code, F.coalesce("__rg", F.col(code)))
            .drop("__rk", "__rg"))


def regroup_colours(legend: DataFrame, level: int, code: str = "clc",
                    colour: str = "colour") -> DataFrame:
    """Averaged group colours (R/load_corine.R:73-76): when codes regroup
    to a digit-prefix level, the group's display colour is the per-channel
    mean of its members' #RRGGBB colours, rendered back to hex.  Pure
    column expressions (conv/hex) over the tiny legend dimension."""

    def chan(pos: int):
        return F.expr(f"CAST(conv(substring({colour}, {pos}, 2), 16, 10) "
                      "AS DOUBLE)")

    g = (legend.groupBy(F.substring(F.col(code), 1, level).alias(code))
         .agg(*[F.round(F.avg(chan(2 + 2 * i))).cast("int").alias(f"__c{i}")
                for i in range(3)]))
    parts = [F.lpad(F.expr(f"hex(__c{i})"), 2, "0") for i in range(3)]
    return g.select(code, F.concat(F.lit("#"), *parts).alias(colour))


def with_clc_labels(df: DataFrame, legend: DataFrame,
                    code: str = "clc") -> DataFrame:
    """Three-level label join (R/load_corine.R:291-294).

    ``legend`` is DataFrame(code STRING, label STRING) holding labels for
    1-, 2- and 3-digit prefixes; adds label1/label2/label3 columns from
    the code's prefixes via broadcast joins (labels are a tiny dimension).
    """
    for lvl in (1, 2, 3):
        lx = legend.select(F.col("code").alias(f"__c{lvl}"),
                           F.col("label").alias(f"label{lvl}"))
        df = (df.join(F.broadcast(lx),
                      F.substring(F.col(code), 1, lvl) == F.col(f"__c{lvl}"),
                      "left")
              .drop(f"__c{lvl}"))
    return df


def extract_landcover(spark: SparkSession, landcover: DataFrame,
                      mask_wkb: bytes,
                      clc_labels: DataFrame | None = None,
                      clc_filter: list[str] | None = None,
                      regroup: "int | DataFrame | None" = None,
                      hex_width: float = P.HEX_WIDTH,
                      checkpoint_root: str | None = None,
                      resume: bool = True) -> dict[str, DataFrame]:
    """landcover: DataFrame(poly_id LONG, clc STRING, geom_wkb BINARY).
    Returns {"cells": per-(cell, clc) areas incl. MISSING_CC rows,
             "dissolved": per-clc union geometry + area (+labels)}."""
    mode = "reuse" if resume else "overwrite"
    regroup_fp = _regroup_fingerprint(regroup) if checkpoint_root else None

    # 1. pushdown-friendly filter + projection
    lc = landcover.select("poly_id", "clc", "geom_wkb")
    if clc_filter:
        lc = lc.where(F.col("clc").isin(clc_filter))
    if regroup is not None:
        # regroup BEFORE the cover so per-(cell, clc) rollups and the
        # per-code dissolve aggregate over the regrouped keys, matching the
        # reference's regroup-then-union order (R/load_corine.R:61-93,254)
        lc = regroup_landcover(lc, regroup)

    # 2. planning counts (reference plans chunking from these,
    #    R/extract_corine.R:63-78; we surface them for salting/telemetry)
    plan = lc.groupBy("clc").agg(F.count(F.lit(1)).alias("n_features"))

    # 3. cell covers (map-only)
    cover = polygon_cell_cover(lc, hex_width=hex_width)
    cover = cover.join(lc.select("poly_id", "clc"), "poly_id")
    mask_df = spark.createDataFrame([(0, bytearray(mask_wkb))],
                                    "poly_id LONG, geom_wkb BINARY")
    mask_cover = polygon_cell_cover(mask_df, hex_width=hex_width) \
        .select("cell_id", "q", "r", F.col("cover_area").alias("mask_area"))
    if checkpoint_root:
        cover = checkpoint(cover, checkpoint_root, "lc_cover",
                           params={"hex_width": hex_width,
                                   "clc_filter": clc_filter,
                                   "regroup": regroup_fp},
                           mode=mode)
    else:
        # Python stage: the per-cell sums and the gap union read the cover
        cover = materialise(cover)

    # 4. per-(cell, clc) areas
    per_cell = (cover.groupBy("cell_id", "clc")
                .agg(F.sum("cover_area").alias("area")))

    # 5. coverage gap: J10 as arithmetic on the covers
    covered = per_cell.groupBy("cell_id").agg(F.sum("area").alias("covered"))
    missing = (mask_cover.join(covered, "cell_id", "left")
               .withColumn("gap", F.col("mask_area") - F.coalesce("covered", F.lit(0.0)))
               .where(F.col("gap") > 1e-9)
               .select("cell_id", F.lit(MISSING_CC).alias("clc"),
                       F.col("gap").alias("area")))
    cells = (per_cell.unionByName(missing)
             .join(mask_cover.select("cell_id", "q", "r", "mask_area"), "cell_id"))
    if checkpoint_root:
        cells = checkpoint(cells, checkpoint_root, "lc_cells",
                           params={"hex_width": hex_width,
                                   "clc_filter": clc_filter,
                                   "regroup": regroup_fp},
                           mode=mode)

    # 6. dissolve per code + 7. broadcast label join.  The dissolved table
    # also gains the reference's coverage-gap GEOMETRY row: MISSING_CC =
    # st_difference(mask, st_union(all codes)) (R/extract_corine.R:177-205)
    # — geo.difference_polygons over the per-code union boundaries, run as
    # a single grouped-map over the tiny dissolved table (one row per
    # code; the heavy lifting already happened in the two-level dissolve).
    dis = dissolve(lc, key="clc")
    mask_bytes = bytes(mask_wkb)

    def add_gap(batches):
        import pandas as pd

        from . import geo
        parts = list(batches)
        cols = ["clc", "geom_wkb", "area", "n_parts"]
        pdf = (pd.concat(parts, ignore_index=True) if parts
               else pd.DataFrame(columns=cols))
        mask_polys = geo.wkb_to_polygons(mask_bytes)
        covered = [p for w in pdf["geom_wkb"]
                   for p in geo.wkb_to_polygons(bytes(w))]
        try:
            gap = geo.difference_polygons(mask_polys, covered)
            gap_wkb = geo.multipolygon_to_wkb(gap)
            gap_area = geo.polygons_area(gap)
            n_parts = len(geo.overlap_components(gap))
        except geo.UnionTraceError:
            # degrade like dissolve's _union_or_rings (ADVICE r03 #1):
            # the AREA stays exact via boolean arithmetic — gap =
            # mask − mask∩covered — only the traced gap GEOMETRY is
            # omitted (empty multipolygon, n_parts NULL) instead of
            # crashing the whole extract_landcover job on one degenerate
            # per-code boundary.
            gap_wkb = geo.multipolygon_to_wkb([])
            gap_area = max(0.0, geo.polygons_area(mask_polys)
                           - geo.intersection_area(mask_polys, covered))
            n_parts = None
        row = pd.DataFrame({
            "clc": [MISSING_CC],
            "geom_wkb": [gap_wkb],
            "area": [gap_area],
            "n_parts": [n_parts],
        })
        yield pd.concat([pdf[row.columns], row], ignore_index=True)

    dis = dis.repartition(1).mapInPandas(
        add_gap, schema="clc STRING, geom_wkb BINARY, area DOUBLE, "
                        "n_parts INT")
    if clc_labels is not None:
        dis = dis.join(F.broadcast(clc_labels), "clc", "left")

    return {"cells": cells, "dissolved": dis, "plan": plan}
