"""generate_patches / generate_neighbours parity tests on the F2/F4 fixtures.

Golden facts come from the reference's executable examples and inline
assertions (SURVEY.md §5): hex constants (R/generate_patches.R:45-50),
interior patches have 6 neighbours with Border == side
(R/generate_neighbours.R:86-93), Index dense over (q, r)
(R/generate_patches.R:200-201), per-patch ΣLU == 1
(R/generate_patches.R:345-355).
"""

import numpy as np
import pytest

from hexscape_spark import geo, params as P
from hexscape_spark.neighbours import generate_neighbours
from hexscape_spark.synth import land_use_square
from hexscape_spark.tiling import generate_patches

HEXW = 2.0


@pytest.fixture(scope="module")
def square_patches_df(spark):
    land = geo.rect_wkb(0, 0, 50, 50)
    p = generate_patches(spark, land, hex_width=HEXW,
                         reference_point=(0, 0)).persist()
    p.count()
    return p


@pytest.fixture(scope="module")
def square_patches(square_patches_df):
    return square_patches_df.toPandas().sort_values("Index").reset_index(drop=True)


@pytest.fixture(scope="module")
def lu_patches(spark):
    land = geo.rect_wkb(0, 0, 50, 50)
    p = generate_patches(spark, land, hex_width=HEXW, reference_point=(0, 0),
                         land_use=land_use_square(1.0))
    return p.toPandas()


def test_total_area_conserved(square_patches):
    # the tiling exactly partitions the landscape
    assert square_patches.area.sum() == pytest.approx(2500.0, abs=1e-6)


def test_index_dense_over_qr(square_patches):
    pdf = square_patches
    assert (np.sort(pdf.Index.values) == np.arange(1, len(pdf) + 1)).all()
    srt = pdf.sort_values(["q", "r"])
    assert (srt.Index.values == np.arange(1, len(pdf) + 1)).all()


def test_fragment_filter(square_patches):
    assert (square_patches.area >= P.MIN_PROP * P.hex_area(HEXW) - 1e-12).all()


def test_interior_patch_area_is_full_hex(square_patches):
    full = square_patches[square_patches.area >
                          (1 - P.MIN_PROP) * P.hex_area(HEXW)]
    assert len(full) > 0
    assert np.allclose(full.area, P.hex_area(HEXW))


def test_neighbours_fast_path_and_symmetry(square_patches_df, square_patches):
    land = geo.rect_wkb(0, 0, 50, 50)
    nb = generate_neighbours(square_patches_df, land, hex_width=HEXW).toPandas()
    side = P.hex_side(HEXW)
    full = square_patches[square_patches.area >
                          (1 - P.MIN_PROP) * P.hex_area(HEXW)]
    interior = set(full.Index)
    nbi = nb[nb.Index.isin(interior) & nb.Neighbour.isin(interior)]
    assert np.allclose(nbi.Border, side)
    # deep-interior golden fact (R/generate_neighbours.R:86-93): a full hex
    # whose entire 1-ring is also full has exactly 6 neighbours
    full_qr = set(zip(full.q, full.r))
    deep = [row.Index for row in full.itertuples()
            if all((row.q + dq, row.r + dr) in full_qr
                   for dr, dq in [(-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0)])]
    assert len(deep) > 300
    cnt = nb[nb.Index.isin(deep)].groupby("Index").size()
    assert (cnt == 6).all()
    pairs = set(zip(nb.Index, nb.Neighbour))
    assert all((b, a) in pairs for a, b in pairs)
    # every edge passes the reference's Border > min_prop*side filter
    assert (nb.Border > P.MIN_PROP * side).all()
    assert set(nb.Direction) <= {"NE", "E", "SE", "SW", "W", "NW"}


def test_landuse_proportions_sum_to_one(lu_patches):
    pdf = lu_patches
    lu_cols = [c for c in pdf.columns if c.startswith("LU_")]
    assert len(lu_cols) == 4  # Passable, Low, Medium, High
    sums = pdf[lu_cols].sum(axis=1)
    assert np.allclose(sums, 1.0), f"max dev {np.abs(sums - 1).max()}"


def test_landuse_area_reduced_by_impassable(square_patches, lu_patches):
    # Impassable block = 10x8 rectangle => total area drops by exactly 80
    assert square_patches.area.sum() - lu_patches.area.sum() == \
        pytest.approx(80.0, abs=1e-6)


def test_add_removed_row(spark):
    """add_removed appends one Index=NULL row with the impassable area
    (R/generate_patches.R:169-177): 10x8 block = 80."""
    land = geo.rect_wkb(0, 0, 50, 50)
    p = generate_patches(spark, land, hex_width=HEXW, reference_point=(0, 0),
                         land_use=land_use_square(1.0), add_removed=True)
    pdf = p.toPandas()
    removed = pdf[pdf.Index.isna()]
    assert len(removed) == 1
    assert removed.area.iloc[0] == pytest.approx(80.0, abs=1e-6)
    assert pdf.area.sum() == pytest.approx(2500.0, abs=1e-6)


def test_name_index(spark):
    """name_index prepends the landscape name with zero padding
    (R/generate_patches.R:381-385)."""
    land = geo.rect_wkb(0, 0, 50, 50)
    p = generate_patches(spark, land, hex_width=HEXW, reference_point=(0, 0),
                         name="dk", name_index=True).toPandas()
    assert p.Index_str.str.match(r"^dk_\d{3}$").all()
    assert p.sort_values("Index").Index_str.iloc[0] == "dk_001"


def test_landuse_category_totals_match_layer_areas(lu_patches):
    p = lu_patches
    got_low = (p.lu_sum * p.LU_Low).sum()
    # Low layer = L-shape: 25x10 + 10x12 = 370
    assert got_low == pytest.approx(370.0, abs=1e-6)
    got_med = (p.lu_sum * p.LU_Medium).sum()
    assert got_med == pytest.approx(18 * 18, abs=1e-6)
    got_high = (p.lu_sum * p.LU_High).sum()
    assert got_high == pytest.approx(22 * 18, abs=1e-6)
