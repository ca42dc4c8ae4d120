"""F3 split-patch fixture: polygon with a hole cutting hexes into parts
(notebooks/example_for_mossa.R:9-44, notebooks/row_column.R:18-20)."""

import numpy as np
import pytest

from hexscape_spark import geo, params as P
from hexscape_spark.neighbours import generate_neighbours
from hexscape_spark.tiling import generate_patches

OUTER = np.array([[0, 0], [10, 0], [30, 20], [20, 40], [10, 40]], float)
HOLE = np.array([[10, 10], [10, 20], [20, 20]], float)
HEXW = 5.0
REF = (0.0, 40.0)


@pytest.fixture(scope="module")
def split_setup(spark):
    land = geo.polygon_to_wkb([OUTER, HOLE])
    p = generate_patches(spark, land, hex_width=HEXW, reference_point=REF,
                         keep_geometry=True).persist()
    p.count()
    return land, p


def test_total_area_conserved(split_setup):
    _, p = split_setup
    want = abs(geo.ring_area_signed(OUTER)) - abs(geo.ring_area_signed(HOLE))
    got = p.toPandas().area.sum()
    # min_prop drops tiny fragments; conservation within that tolerance
    assert got == pytest.approx(want, rel=0.02)


def test_split_patches_share_qr_distinct_index(split_setup):
    """Reference golden fact: patches split by the landscape share (q, r)
    but get distinct Index values (notebooks/example_for_mossa.R:27-33)."""
    _, p = split_setup
    pdf = p.toPandas()
    dup = pdf.groupby(["q", "r"]).size()
    split_cells = dup[dup > 1]
    assert len(split_cells) >= 1, "fixture must produce at least one split"
    for (q, r), _ in split_cells.items():
        idxs = pdf[(pdf.q == q) & (pdf.r == r)].Index
        assert idxs.is_unique
    # index remains dense 1..n
    assert (np.sort(pdf.Index.values) == np.arange(1, len(pdf) + 1)).all()


def test_split_parts_are_disjoint_components(split_setup):
    _, p = split_setup
    pdf = p.toPandas()
    dup = pdf.groupby(["q", "r"]).size()
    for (q, r), _ in dup[dup > 1].items():
        parts = pdf[(pdf.q == q) & (pdf.r == r)]
        # each part's centroid lies inside its own geometry only
        geoms = [geo.wkb_to_polygons(bytes(w)) for w in parts.geom_wkb]
        for i, (_, row) in enumerate(parts.iterrows()):
            for j, g in enumerate(geoms):
                inside = geo.points_in_polygons(
                    np.array([row.centroid_x]), np.array([row.centroid_y]), g)[0]
                assert inside == (i == j), (q, r, i, j)


def test_split_cell_category_areas_exact(spark):
    """A category straddling the F3 hole: each split part's LU_* area must
    equal the exact clip of the category against THAT component
    (R/generate_patches.R:252-266), not an area-share distribution."""
    land = geo.polygon_to_wkb([OUTER, HOLE])
    # vertical band through the hole region: intersects both parts of any
    # hex the hole splits
    band = geo.rect_wkb(8.0, 8.0, 22.0, 24.0)
    p = generate_patches(
        spark, land, hex_width=HEXW, reference_point=REF, keep_geometry=True,
        land_use=[("Band", "Passable", band)]).toPandas()
    band_np = geo.wkb_to_polygons(band)
    dup = p.groupby(["q", "r"]).size()
    split = dup[dup > 1]
    assert len(split) >= 1
    checked_nonzero = 0
    for _, row in p.iterrows():
        comp = geo.wkb_to_polygons(bytes(row.geom_wkb))
        want = geo.intersection_area(band_np, comp)
        got = row.lu_sum * row.LU_Band if row.lu_sum > 0 else 0.0
        # LU_Band is a proportion of lu_sum; lu_sum is the per-part band
        # area itself (single category), so got == exact clip area
        assert got == pytest.approx(want, abs=1e-9), (row.q, row.r)
        if (row.q, row.r) in split.index and want > 0:
            checked_nonzero += 1
    assert checked_nonzero >= 1, "band must hit at least one split part"


def test_impassable_clipped_to_landscape(spark):
    """An Impassable layer crossing the landscape boundary must only charge
    the overlap INSIDE the landscape (R/generate_patches.R:148-153)."""
    land = geo.rect_wkb(0.0, 0.0, 20.0, 20.0)
    # half in, half out of the landscape
    imp = geo.rect_wkb(15.0, 5.0, 25.0, 10.0)
    p = generate_patches(
        spark, land, hex_width=5.0, reference_point=(0.0, 20.0),
        add_removed=True,
        land_use=[("Imp", "Impassable", imp)]).toPandas()
    removed = p[p.Index.isna()].area.sum()
    inside_area = 5.0 * 5.0           # imp ∩ landscape = [15,20]x[5,10]
    assert removed == pytest.approx(inside_area, rel=1e-9)
    # min_prop drops tiny boundary fragments; conservation within that
    net = p[p.Index.notna()].area.sum()
    assert net == pytest.approx(400.0 - inside_area, rel=0.02)


def test_seven_neighbours_exist(split_setup):
    """Reference golden fact: split patches create a patch with 7
    neighbours (notebooks/example_for_mossa.R:43-44)."""
    land, p = split_setup
    nb = generate_neighbours(p, land, hex_width=HEXW).toPandas()
    counts = nb.groupby("Index").size()
    assert counts.max() >= 7, counts.sort_values().tail()
    # symmetry still holds
    pairs = set(zip(nb.Index, nb.Neighbour))
    assert all((b, a) in pairs for a, b in pairs)
    # parts of the same (q,r) are NOT each other's neighbours (offsets
    # exclude (0,0), matching the reference join)
    pdf = p.toPandas()
    by_cell = pdf.groupby(["q", "r"]).Index.apply(list)
    for idxs in by_cell:
        for a in idxs:
            for b in idxs:
                if a != b:
                    assert (a, b) not in pairs


def test_borders_use_part_geometry(split_setup):
    """Each edge's border length can't exceed the hex side, and borders to
    split parts are strictly smaller than the full side where the hole cuts
    the shared edge."""
    land, p = split_setup
    nb = generate_neighbours(p, land, hex_width=HEXW).toPandas()
    side = P.hex_side(HEXW)
    assert (nb.Border <= side + 1e-9).all()
    assert (nb.Border > 0.01 * side).all()


def test_split_oracle_matches_kernel_for_every_cell():
    """Fixture precondition for the r6 rect-minus-slot ORACLE
    (__spark_entry__._sql_split_patches_hole_duck): the closed-form
    severed/unsevered classifier assumes no hex forms a SEALED POCKET
    at a slot end (possible for convex∖rect: x_min(y) is V-shaped, so
    it can dip inside the slot's x-range mid-band only).  This compares
    the NumPy kernel's min_prop-filtered component areas against the
    oracle rows for EVERY lattice cell — no Spark, no driver — so any
    fixture-constant edit that breaks the classifier fails here."""
    import duckdb

    import __spark_entry__ as m
    from hexscape_spark import hexgrid

    ax0, ay0, ax1, ay1 = m._SPH_A
    bx0, by0, bx1, by1 = m._SPH_B
    w = m._SPH_W
    refx, refy = m._SPH_REF
    outer = np.array([[ax0, ay0], [ax1, ay0], [ax1, ay1], [ax0, ay1]], float)
    hole = np.array([[bx0, by0], [bx0, by1], [bx1, by1], [bx1, by0]], float)
    q_lo, q_hi, r_lo, r_hi = hexgrid.axial_range(ax0, ay0, ax1, ay1, w,
                                                 refx, refy)
    min_area = 0.01 * P.hex_area(w)
    kernel = {}
    for q in range(q_lo, q_hi + 1):
        for r in range(r_lo, r_hi + 1):
            cx = refx + r * (w / 2.0) + q * w
            cy = refy - r * hexgrid.row_step(w)
            hexring = hexgrid.hex_ring(cx, cy, w)
            comps = geo.clip_polygon_components([outer, hole], hexring)
            areas = sorted(round(a, 9) for a in
                           (geo.polygon_area(c) for c in comps)
                           if a >= min_area)
            if areas:
                kernel[(q, r)] = areas
    odf = duckdb.connect().execute(m._sql_split_patches_hole_duck()).df()
    oracle = {}
    for row in odf.itertuples(index=False):
        oracle.setdefault((row.q, row.r), []).append(row.area_r)
    oracle = {k: sorted(v) for k, v in oracle.items()}
    assert set(kernel) == set(oracle)
    for cell in kernel:
        assert kernel[cell] == pytest.approx(oracle[cell], abs=1e-9), cell
    # the fixture genuinely exercises splitting
    assert sum(len(v) > 1 for v in kernel.values()) >= 2
