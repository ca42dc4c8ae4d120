"""Voronoi family parity tests (FIXTURES.md F5 golden facts)."""

import numpy as np
import pytest

from hexscape_spark import geo
from hexscape_spark.voronoi import (discretise_voronoi, randomise_voronoi,
                                    sample_points, voronoi_cell)


@pytest.fixture(scope="module")
def farm_points(spark):
    rng = np.random.RandomState(42)
    pts = rng.uniform(0, 10, size=(100, 2))
    return spark.createDataFrame(
        [(i + 1, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "Index LONG, x DOUBLE, y DOUBLE")


def test_voronoi_cells_partition_the_map(spark, farm_points):
    land = geo.rect_wkb(0, 0, 10, 10)
    cells = discretise_voronoi(spark, land, farm_points, 2.0).toPandas()
    assert len(cells) == 100
    # cells tile the map exactly
    assert cells.Area.sum() == pytest.approx(100.0, abs=1e-6)
    # every input point lies inside its own cell (R/discretise_voronoi.R:28-31)
    for _, row in cells.iterrows():
        polys = geo.wkb_to_polygons(bytes(row.geom_wkb))
        assert geo.points_in_polygons(
            np.array([row.x]), np.array([row.y]), polys)[0], row.Index


def test_voronoi_cell_is_nearest_region(farm_points, spark):
    pts = farm_points.toPandas()[["x", "y"]].to_numpy()
    env = geo.rect_ring(0, 0, 10, 10)
    cell = voronoi_cell(pts[0], pts, env)
    # random points inside the cell are nearest to seed 0
    rng = np.random.RandomState(1)
    x0, y0, x1, y1 = geo.polygons_bounds([[cell]])
    for _ in range(200):
        p = rng.uniform([x0, y0], [x1, y1])
        if geo.points_in_polygons(np.array([p[0]]), np.array([p[1]]), [[cell]])[0]:
            d = np.hypot(pts[:, 0] - p[0], pts[:, 1] - p[1])
            assert d.argmin() == 0


def test_sample_points_exact_count_and_containment(spark, farm_points):
    land = geo.rect_wkb(0, 0, 10, 10)
    cells = discretise_voronoi(spark, land, farm_points, 2.0)
    samp = sample_points(cells, size=5, seed=7).toPandas()
    # exactly `size` samples per polygon (R/sample_points.R:63)
    assert (samp.groupby("Index").size() == 5).all()
    assert len(samp) == 500
    cell_pd = cells.toPandas().set_index("Index")
    for gidx, grp in samp.groupby("Index"):
        polys = geo.wkb_to_polygons(bytes(cell_pd.loc[gidx].geom_wkb))
        ok = geo.points_in_polygons(grp.px.to_numpy(), grp.py.to_numpy(), polys)
        assert ok.all()


def test_sample_points_deterministic(spark, farm_points):
    land = geo.rect_wkb(0, 0, 10, 10)
    cells = discretise_voronoi(spark, land, farm_points, 2.0)
    a = sample_points(cells, size=3, seed=7).toPandas().sort_values(
        ["Index", "sample_n"]).reset_index(drop=True)
    b = sample_points(cells, size=3, seed=7).toPandas().sort_values(
        ["Index", "sample_n"]).reset_index(drop=True)
    assert (a.px.values == b.px.values).all()


def test_randomise_voronoi_type_options(spark):
    """from_type/to_type variants all run and keep the core invariants."""
    rng = np.random.RandomState(5)
    pts = rng.uniform(0, 10, size=(15, 2))
    points = spark.createDataFrame(
        [(i + 1, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "Index LONG, x DOUBLE, y DOUBLE")
    land = geo.rect_wkb(0, 0, 10, 10)
    for ft, tt in [("point", "point"), ("centroid", "centroid"),
                   ("voronoi", "voronoi"), ("point", "voronoi")]:
        out = randomise_voronoi(spark, land, points, randomise_size=4,
                                seed=3, from_type=ft, to_type=tt,
                                mask_landscape=(ft == "voronoi")).toPandas()
        assert len(out) == 15, (ft, tt)
        assert len(out[["new_x", "new_y"]].drop_duplicates()) == 15


def test_polygons_distance():
    a = [[geo.rect_ring(0, 0, 1, 1)]]
    b = [[geo.rect_ring(3, 0, 4, 1)]]
    assert geo.polygons_distance(a, b) == pytest.approx(2.0)
    c = [[geo.rect_ring(0.5, 0.5, 2, 2)]]
    assert geo.polygons_distance(a, c) == 0.0


def test_randomise_voronoi_invariants(spark):
    rng = np.random.RandomState(3)
    pts = rng.uniform(0, 10, size=(30, 2))
    points = spark.createDataFrame(
        [(i + 1, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "Index LONG, x DOUBLE, y DOUBLE")
    land = geo.rect_wkb(0, 0, 10, 10)
    out = randomise_voronoi(spark, land, points, randomise_size=5,
                            seed=11).toPandas()
    # total assignments == n_points (R/randomise_voronoi.R:232)
    assert len(out) == 30
    # every replacement lies inside the map
    assert ((out.new_x >= 0) & (out.new_x <= 10) &
            (out.new_y >= 0) & (out.new_y <= 10)).all()
    # no sample reused twice: all replacement coords distinct
    assert len(out[["new_x", "new_y"]].drop_duplicates()) == 30


def test_voronoi_matches_all_seeds_reference(spark):
    """Block-ring candidates give the exact cells: the distributed result
    equals a NumPy reference that cuts every cell against ALL seeds
    (SURVEY 7.3.3 / VERDICT r01 #7).  Blocks of 1.0 against a ~1.6 seed
    spacing leave k = 1 short for some seeds, so the bound must work."""
    rng = np.random.RandomState(9)
    pts = rng.uniform(0, 20, size=(150, 2))
    points = spark.createDataFrame(
        [(i + 1, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        "Index LONG, x DOUBLE, y DOUBLE")
    env = geo.rect_ring(0, 0, 20, 20)
    ref = []
    for p in pts:
        cell = geo.clip_polygon_to_convex(
            [env], geo.ensure_ccw(voronoi_cell(p, pts, env)))
        ref.append((geo.polygons_area([cell]), *geo.polygons_centroid([cell])))
    ref = np.array(ref)
    got = discretise_voronoi(spark, geo.rect_wkb(0, 0, 20, 20), points,
                             block_size=1.0) \
        .toPandas().sort_values("Index").reset_index(drop=True)
    assert got.Index.tolist() == list(range(1, 151))
    for i, col in enumerate(("Area", "centroid_x", "centroid_y")):
        assert np.allclose(got[col].values, ref[:, i], atol=1e-9), col
    # partition invariant: cells tile the landscape exactly
    assert got.Area.sum() == pytest.approx(400.0, abs=1e-6)


def test_blocked_voronoi_sparse_seeds_need_doubling(spark):
    """Two far-apart seeds force the k-doubling path (cells span many
    blocks) and still resolve exactly."""
    points = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 99.0, 99.0)], "Index LONG, x DOUBLE, y DOUBLE")
    land = geo.rect_wkb(0, 0, 100, 100)
    out = discretise_voronoi(spark, land, points,
                             block_size=2.0).toPandas()
    assert len(out) == 2
    assert out.Area.sum() == pytest.approx(100.0 * 100.0, abs=1e-6)
    # symmetric seeds -> equal halves
    assert out.Area.max() == pytest.approx(5000.0, abs=1e-6)


def test_voronoi_rejects_duplicate_seeds(spark):
    """Two seeds at one point have no Voronoi cells of their own: the
    solver names both instead of returning overlapping cells."""
    points = spark.createDataFrame(
        [(1, 8.0, 8.0), (2, 2.0, 2.0), (3, 2.0, 2.0)],
        "Index LONG, x DOUBLE, y DOUBLE")
    with pytest.raises(Exception, match=r"ValueError: .*seeds \[2, 3\]"):
        discretise_voronoi(spark, geo.rect_wkb(0, 0, 10, 10), points,
                           block_size=2.0)


def test_voronoi_unresolved_reports_last_k(spark):
    """Seed 2 lies off the map and seed 1 is nearer to every map point,
    so seed 2's cell is empty and never resolves; the error names the
    last k tried, the envelope cap ceil(14.14 / 2) + 1 = 9 (k runs
    1, 2, 4, 8, 9)."""
    points = spark.createDataFrame(
        [(1, 9.0, 5.0), (2, 13.0, 5.0)], "Index LONG, x DOUBLE, y DOUBLE")
    with pytest.raises(RuntimeError, match=r"after 5 rounds \(last k=9\)"):
        discretise_voronoi(spark, geo.rect_wkb(0, 0, 10, 10), points,
                           block_size=2.0, max_doublings=5)


@pytest.mark.parametrize("kind", ["from_type", "to_type"])
def test_randomise_voronoi_rejects_unknown_type(spark, farm_points, kind):
    with pytest.raises(ValueError, match=f"{kind}='bogus'"):
        randomise_voronoi(spark, geo.rect_wkb(0, 0, 10, 10), farm_points,
                          **{kind: "bogus"})
