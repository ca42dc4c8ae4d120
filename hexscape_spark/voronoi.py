"""Voronoi discretisation, in-polygon sampling, and point anonymisation.

Spark-first reimplementations of the reference's Voronoi family:

  * discretise_voronoi (R/discretise_voronoi.R:12-49): each seed's Voronoi
    cell is the intersection of half-planes against nearby seeds —
    CONVEX, so it composes with the engine's convex clipper.  Seeds never
    funnel through the driver: they hash into square blocks, each seed's
    candidates are the seeds in its block k-ring (an equi-join), and a
    provable bound accepts the cell or retries the seed with doubled k.
    No global tessellation structure is needed, which sidesteps the
    partition-locality problem flagged in SURVEY §7.3.
  * sample_points (R/sample_points.R:12-74): seeded per-polygon rejection
    sampling in the polygon bbox; exactly `size` points per polygon,
    deterministic under retries (rng seeded by hash(seed, Index)).
  * randomise_voronoi (R/randomise_voronoi.R:38-251): rank-distance kNN
    candidate sets (W1 random-tie ranks, seeded), per-cell sample pools,
    then the reference's inherently-sequential no-replacement weighted
    assignment — run driver-side over the collected bounded candidate table
    exactly as flagged in SURVEY §3.3/§7.3 item 4.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geo
from .checkpoint import materialise


# ---------------------------------------------------------------------------
# Voronoi cells via half-plane clipping (exact, convex)
# ---------------------------------------------------------------------------

def voronoi_cell(p: np.ndarray, cands: np.ndarray,
                 envelope: np.ndarray) -> np.ndarray:
    """Convex Voronoi cell of point p against the seeds `cands` within a
    convex envelope ring.  Seeds at p itself (d2 == 0: p's own row) never
    cut the cell and are skipped."""
    cell = envelope
    d2 = (cands[:, 0] - p[0]) ** 2 + (cands[:, 1] - p[1]) ** 2
    for j in np.argsort(d2):
        if d2[j] == 0.0 or len(cell) < 3:
            continue
        # prune: if the bisector of p,cands[j] cannot cut the current cell
        # (all cell vertices strictly closer to p), skip the clip
        far = np.max((cell[:, 0] - p[0]) ** 2 + (cell[:, 1] - p[1]) ** 2)
        if d2[j] > 4.0 * far:
            break                 # sorted by distance: no later seed can cut
        # keep the half-plane closer to p: dot(x - mid, cands[j] - p) <= 0
        mid = 0.5 * (p + cands[j])
        d = cands[j] - p
        s = (cell[:, 0] - mid[0]) * d[0] + (cell[:, 1] - mid[1]) * d[1]
        cell = geo.clip_ring_to_side(cell, -s)
    return cell


def discretise_voronoi(spark: SparkSession, map_wkb: bytes,
                       points: DataFrame, block_size: float,
                       idx: str = "Index", x: str = "x", y: str = "y",
                       max_doublings: int = 16) -> DataFrame:
    """Voronoi cells of `points` clipped to the map (R/discretise_voronoi.R;
    SURVEY §7.3.3: seeds never funnel through the driver).

    Output: Index, x, y, Area (map units²), centroid_x, centroid_y,
    geom_wkb.  Every input point is inside its own cell by construction
    (the reference asserts this via st_intersects, :28-31).  Seeds must be
    distinct points: two seeds at one point raise ValueError naming both.

    Seeds hash into square blocks of `block_size`; each seed's candidate
    set is every seed within Chebyshev block distance k (a broadcast
    offset equi-join, exactly the hex kRing pattern).  The cell computed
    from candidates is PROVABLY the true Voronoi cell when
    k*block_size > 2*R (R = max distance from the seed to its cell
    vertices): any non-candidate seed is at distance >= k*block_size, so
    its bisector cannot cut the cell.  Seeds failing the bound (sparse
    regions) retry with doubled k — a shrinking frontier, like bfs_hops.
    A block_size of at least the envelope diagonal accepts every seed in
    the first round, with every seed as a candidate.
    """
    map_polys = geo.wkb_to_polygons(map_wkb)
    minx, miny, maxx, maxy = geo.polygons_bounds(map_polys)
    envelope = geo.rect_ring(minx, miny, maxx, maxy)
    env_diag = float(np.hypot(maxx - minx, maxy - miny))
    bs = float(block_size)

    seeds = points.select(idx, x, y).withColumn(
        "bx", F.floor(F.col(x) / bs).cast("long")).withColumn(
        "by", F.floor(F.col(y) / bs).cast("long"))
    seeds = materialise(seeds)   # shared subtree: every round joins seeds

    out_schema = (f"{idx} LONG, {x} DOUBLE, {y} DOUBLE, Area DOUBLE, "
                  "centroid_x DOUBLE, centroid_y DOUBLE, geom_wkb BINARY, "
                  "__ok BOOLEAN")

    def solver(k: int):
        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            polys = geo.wkb_to_polygons(map_wkb)
            cands = pdf[[x, y]].to_numpy(dtype=np.float64)
            rows = []
            for _, row in pdf[pdf["__self"]].iterrows():
                p = np.array([row[x], row[y]])
                # duplicates share a block, so they are candidates here
                same = pdf.loc[(cands[:, 0] == p[0]) & (cands[:, 1] == p[1]),
                               idx]
                if len(same) > 1:
                    raise ValueError(
                        f"discretise_voronoi: seeds {sorted(map(int, same))} "
                        f"share the point ({p[0]}, {p[1]}); Voronoi seeds "
                        "must be distinct")
                cell = voronoi_cell(p, cands, envelope)
                r_max = float(np.sqrt(np.max(
                    (cell[:, 0] - p[0]) ** 2 + (cell[:, 1] - p[1]) ** 2))) \
                    if len(cell) >= 3 else 0.0
                ok = (k * bs > 2.0 * r_max) or (k * bs >= env_diag)
                if ok and len(cell) >= 3:
                    clipped = [geo.clip_polygon_to_convex(
                        poly, geo.ensure_ccw(cell)) for poly in polys]
                    clipped = [c for c in clipped if c]
                    area = geo.polygons_area(clipped)
                    if clipped:
                        cx, cy = geo.polygons_centroid(clipped)
                        wkb = geo.multipolygon_to_wkb(clipped)
                    else:
                        cx, cy, wkb = float("nan"), float("nan"), None
                    rows.append((int(row[idx]), float(p[0]), float(p[1]),
                                 area, cx, cy, wkb, True))
                else:
                    rows.append((int(row[idx]), float(p[0]), float(p[1]),
                                 0.0, 0.0, 0.0, None, False))
            return pd.DataFrame(rows, columns=[idx, x, y, "Area",
                                               "centroid_x", "centroid_y",
                                               "geom_wkb", "__ok"])
        return run

    done = None
    todo = seeds
    k = 1
    for _ in range(max_doublings):
        tried = k
        offs = spark.createDataFrame(
            [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)],
            "dx LONG, dy LONG")
        # candidates: all seeds in the k-ring of each TODO seed's block
        target_blocks = (todo.select("bx", "by").distinct()
                         .crossJoin(F.broadcast(offs))
                         .selectExpr("bx + dx AS bx", "by + dy AS by",
                                     "bx AS hbx", "by AS hby"))
        cand = seeds.join(target_blocks, on=["bx", "by"]) \
            .select(idx, x, y, F.col("hbx"), F.col("hby"))
        own = todo.select(idx, x, y,
                          F.col("bx").alias("hbx"), F.col("by").alias("hby")) \
            .withColumn("__self", F.lit(True))
        cand = cand.join(own.select(idx, "hbx", "hby", "__self"),
                         on=[idx, "hbx", "hby"], how="left") \
            .withColumn("__self", F.coalesce("__self", F.lit(False)))
        # Python stage: the solver feeds both the good and failed rows
        res = materialise(cand.groupBy("hbx", "hby").applyInPandas(
            solver(k), schema=out_schema))
        good = res.where("__ok").drop("__ok")
        done = good if done is None else done.unionByName(good)
        failed = res.where("NOT __ok").select(idx)
        if failed.isEmpty():
            todo = None
            break
        # loop boundary: the next round's seeds
        todo = materialise(seeds.join(failed, on=idx, how="left_semi"))
        # at k*bs >= env_diag the bound accepts unconditionally, so k never
        # needs to exceed the envelope (offsets stay (2k+1)^2-bounded)
        k = min(k * 2, int(np.ceil(env_diag / bs)) + 1)
    if todo is not None:
        raise RuntimeError(f"discretise_voronoi: unresolved seeds after "
                           f"{max_doublings} rounds (last k={tried})")
    return materialise(done)   # plan barrier: cut the per-round unions


# ---------------------------------------------------------------------------
# Seeded in-polygon sampling
# ---------------------------------------------------------------------------

# rejection rounds per polygon before sample_points gives up on it
_SAMPLE_TRIES = 10000


def sample_points(patches: DataFrame, size: int = 1, seed: int = 42,
                  idx: str = "Index", geom: str = "geom_wkb") -> DataFrame:
    """Exactly `size` uniform points per polygon (R/sample_points.R:12-74).

    Rejection sampling in each polygon's bbox with a deterministic RNG per
    (seed, Index) — stable under task retries/speculation (SURVEY §7.3.7).
    """
    schema = f"{idx} LONG, sample_n INT, px DOUBLE, py DOUBLE"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                polys = geo.wkb_to_polygons(bytes(row[geom]))
                bx0, by0, bx1, by1 = geo.polygons_bounds(polys)
                rng = np.random.RandomState((seed * 1000003 + int(row[idx])) % (2**31))
                got = 0
                tries = 0
                while got < size and tries < _SAMPLE_TRIES:
                    m = max(64, 4 * (size - got))
                    xs = rng.uniform(bx0, bx1, m)
                    ys = rng.uniform(by0, by1, m)
                    ok = geo.points_in_polygons(xs, ys, polys)
                    for j in np.nonzero(ok)[0]:
                        if got >= size:
                            break
                        rows.append((int(row[idx]), got, float(xs[j]), float(ys[j])))
                        got += 1
                    tries += 1
                if got < size:
                    raise RuntimeError(
                        f"sample_points: polygon {row[idx]} produced {got}/{size}")
            yield pd.DataFrame(rows, columns=[idx, "sample_n", "px", "py"])

    return patches.select(idx, geom).mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# randomise_voronoi
# ---------------------------------------------------------------------------

def randomise_voronoi(spark: SparkSession, map_wkb: bytes, points: DataFrame,
                      randomise_size: int = 5,
                      sample_probs: tuple[float, ...] = (0.1, 0.01, 0.001),
                      seed: int = 42, max_tries: int = 3,
                      from_type: str = "point", to_type: str = "centroid",
                      mask_landscape: bool = False,
                      idx: str = "Index", x: str = "x", y: str = "y") -> DataFrame:
    """Anonymise point locations by resampling within the k nearest Voronoi
    cells (R/randomise_voronoi.R:38-251; defaults from_type='point',
    to_type='centroid', mask_landscape=FALSE, exactly the reference's).

    from_type/to_type ∈ {point, centroid, voronoi} choose the distance basis
    for the kNN candidate ranking (:113-133); voronoi uses polygon-polygon
    distances; mask_landscape clips cells to the map BEFORE distances
    (:104-111).  Distributed parts: Voronoi cells + per-cell sample pools
    (pandas UDF stages).  The no-replacement weighted assignment is
    order-dependent by construction (each pick consumes a sample) and runs
    driver-side over the bounded collected candidate table
    (n_points x sample_size rows), seeded — the same concession the
    reference's own loop makes (:199-227, SURVEY §7.3 item 4).
    """
    for name, kind in (("from_type", from_type), ("to_type", to_type)):
        if kind not in ("point", "centroid", "voronoi"):
            raise ValueError(f"randomise_voronoi: {name}={kind!r} is not one "
                             "of 'point', 'centroid', 'voronoi'")
    sample_size = len(sample_probs)
    # mask_landscape=False ranks distances on bbox-envelope cells
    # (:100-102); the sample pools always use map-masked cells (:180-185)
    bbox = geo.polygons_bounds(geo.wkb_to_polygons(map_wkb))
    env_wkb = geo.rect_wkb(*bbox)
    # one block as wide as the envelope diagonal: every seed is every
    # seed's candidate and the first round accepts all cells
    bs = float(np.hypot(bbox[2] - bbox[0], bbox[3] - bbox[1]))
    vor = discretise_voronoi(spark, map_wkb, points, bs, idx=idx, x=x, y=y)
    dist_vor = vor if mask_landscape else \
        discretise_voronoi(spark, env_wkb, points, bs, idx=idx, x=x, y=y)
    vor_pd = dist_vor.toPandas().sort_values(idx).reset_index(drop=True)
    n = len(vor_pd)

    # rank-distance candidate sets (W1: ties broken by seeded randomness)
    def basis(kind):
        if kind == "point":
            return vor_pd[x].to_numpy(), vor_pd[y].to_numpy(), None
        if kind == "centroid":
            return (vor_pd["centroid_x"].to_numpy(),
                    vor_pd["centroid_y"].to_numpy(), None)
        geoms = [geo.wkb_to_polygons(bytes(w)) for w in vor_pd["geom_wkb"]]
        return None, None, geoms

    fxp, fyp, fgeo = basis(from_type)
    txp, typ, tgeo = basis(to_type)
    if fgeo is None and tgeo is None:
        fx, fy, tx, ty = fxp, fyp, txp, typ
        dist = np.hypot(fx[:, None] - tx[None, :], fy[:, None] - ty[None, :])
    else:
        dist = np.zeros((n, n))
        for i in range(n):
            for j in range(n):
                if i == j:
                    continue
                if fgeo is not None and tgeo is not None:
                    dist[i, j] = geo.polygons_distance(fgeo[i], tgeo[j])
                elif fgeo is not None:
                    dist[i, j] = geo.dist_points_to_polygons(
                        np.array([txp[j]]), np.array([typ[j]]), fgeo[i])[0]
                else:
                    dist[i, j] = geo.dist_points_to_polygons(
                        np.array([fxp[i]]), np.array([fyp[i]]), tgeo[j])[0]
    np.fill_diagonal(dist, -1.0)             # self is always nearest (:142-143)
    rng = np.random.RandomState(seed)
    jitter = rng.uniform(0, 1e-9, size=dist.shape)
    order = np.argsort(dist + jitter, axis=0, kind="stable")
    rank = np.empty_like(order)
    for j in range(n):
        rank[order[:, j], j] = np.arange(1, n + 1)
    closest = []
    for i in range(n):
        row_set = set(np.nonzero(rank[i, :] <= randomise_size)[0].tolist())
        col_set = set(np.nonzero(rank[:, i] <= randomise_size)[0].tolist())
        closest.append(sorted(row_set | col_set))

    samples = sample_points(vor, size=sample_size, seed=seed, idx=idx).toPandas()
    samples = samples.sort_values([idx, "sample_n"]).reset_index(drop=True)
    samples["SampleIndex"] = np.arange(1, len(samples) + 1)
    samples["SampleProb"] = samples["sample_n"].map(
        dict(enumerate(sample_probs)))
    idx_order = {int(v): i for i, v in enumerate(vor_pd[idx])}
    sample_pos = samples[idx].map(idx_order).to_numpy()

    # sequential no-replacement weighted assignment with restart
    arng = np.random.RandomState(seed + 1)
    probs = samples["SampleProb"].to_numpy()
    for attempt in range(max_tries):
        used = np.zeros(n, dtype=np.int64)
        taken = np.zeros(len(samples), dtype=bool)
        ok = True
        for i in range(n):
            cand = np.nonzero(np.isin(sample_pos, closest[i]) & ~taken)[0]
            if len(cand) == 0:
                ok = False
                break
            w = probs[cand]
            pick = arng.choice(cand, p=w / w.sum())
            used[i] = pick + 1
            taken[pick] = True
        if ok:
            break
    if not ok:
        raise RuntimeError("randomise_voronoi failed after max_tries")

    chosen = samples.iloc[used - 1].reset_index(drop=True)
    out = vor_pd[[idx, x, y]].copy()
    out["new_x"] = chosen["px"].to_numpy()
    out["new_y"] = chosen["py"].to_numpy()
    out["from_cell"] = chosen[idx].to_numpy()
    return spark.createDataFrame(out)
