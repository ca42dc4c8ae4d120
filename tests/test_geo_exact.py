"""geo_exact: the rational-arithmetic trace must agree with the float
sweep on clean inputs and be exact on the degenerate ones."""

import numpy as np
import pytest

from hexscape_spark import geo, geo_exact
from tests.helpers import union_polygons


def test_exact_union_two_rects():
    polys = [[geo.rect_ring(0, 0, 2, 2)], [geo.rect_ring(1, 1, 3, 3)]]
    out, area = geo_exact.exact_union_trace(polys)
    assert area == pytest.approx(7.0, abs=0)       # exact rational -> exact
    assert geo.polygons_area(out) == pytest.approx(7.0, rel=1e-15)
    assert len(out) == 1


def test_exact_union_corner_touch_stays_separate():
    """Two rects touching at exactly one corner: the leftmost-turn rule
    keeps them separate components (same semantics as the float path)."""
    polys = [[geo.rect_ring(0, 0, 1, 1)], [geo.rect_ring(1, 1, 2, 2)]]
    out, area = geo_exact.exact_union_trace(polys)
    assert area == pytest.approx(2.0, abs=0)
    assert len(out) == 2


def test_exact_union_makes_hole():
    """A ring of four rects around an empty middle produces one outer
    and one hole, with exact frame area."""
    polys = [[geo.rect_ring(0, 0, 3, 1)], [geo.rect_ring(0, 2, 3, 3)],
             [geo.rect_ring(0, 0, 1, 3)], [geo.rect_ring(2, 0, 3, 3)]]
    out, area = geo_exact.exact_union_trace(polys)
    assert area == pytest.approx(8.0, abs=0)
    assert len(out) == 1 and len(out[0]) == 2      # outer + hole


def test_exact_boolean_difference_and_intersection():
    """The exact difference trace removes A∩B from A: its area is the
    union area less the strip-sweep intersection area, and a contained
    B leaves a hole."""
    a = [[geo.rect_ring(0, 0, 4, 4)]]
    b = [[geo.rect_ring(1, 1, 3, 3)]]
    assert geo.intersection_area(a, b) == pytest.approx(4.0, abs=0)
    diff, ad = geo_exact.exact_difference_trace(a, b)
    assert ad == pytest.approx(12.0, abs=0)
    assert ad == geo.union_area(a) - geo.intersection_area(a, b)
    assert len(diff) == 1 and len(diff[0]) == 2    # rect with a hole


def test_exact_matches_float_on_random_fixtures():
    """On clean random inputs (no near-tangencies) the exact trace and
    the float sweep agree to float tolerance — same algorithm, two
    arithmetics."""
    from tests.test_geo_property import _union_fixture
    rng = np.random.RandomState(7)
    for _ in range(5):
        polys = _union_fixture(int(rng.randint(0, 10000)),
                               int(rng.randint(2, 7)))
        for comp in geo.overlap_components(polys):
            sub = [polys[i] for i in comp]
            fl = geo.union_component(sub, with_area=True)
            ex_out, ex_area = geo_exact.exact_union_trace(sub)
            assert ex_area == pytest.approx(fl[1], rel=1e-12, abs=1e-12)
            assert geo.polygons_area(ex_out) == pytest.approx(
                fl[1], rel=1e-12, abs=1e-12)


def test_exact_near_tangent_vertex_on_edge():
    """A vertex EXACTLY on another polygon's edge — the fully degenerate
    form of the r5 sliver class — traces exactly."""
    a = [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 2.0], [0.0, 2.0]])]
    # triangle whose apex lies exactly on a's top edge
    b = [np.array([[1.0, 2.0], [3.0, 5.0], [-1.0, 5.0]])]
    out, area = geo_exact.exact_union_trace([a, b])
    want = 8.0 + 6.0                 # rect + triangle, touching at a point
    assert area == pytest.approx(want, abs=0)
    assert geo.polygons_area(out) == pytest.approx(want, rel=1e-15)


def test_adversarial_near_tangency_unions_are_exact():
    """Directed stress on the r5 sliver class the r6 exact fallback
    closes: polygons whose vertices are planted within 1e-5..1e-12 of
    another polygon's edge (both sides), plus exactly-on-edge.  The
    float-first path must either trace within 1e-9·area or fall back to
    the exact kernel — either way the returned boundary's area must
    match the independent strip-sweep union_area."""
    rng = np.random.RandomState(11)
    for trial in range(60):
        # base: a random quad
        base = np.array([[0.0, 0.0], [10.0, 0.0],
                         [10.0 + rng.uniform(-2, 2), 8.0],
                         [rng.uniform(-2, 2), 9.0]])
        # partner triangle with one vertex planted eps off base's top edge
        a, b = base[2], base[3]
        t = rng.uniform(0.2, 0.8)
        p = a + t * (b - a)
        nrm = np.array([-(b - a)[1], (b - a)[0]])
        nrm = nrm / np.linalg.norm(nrm)
        eps = [1e-5, 1e-7, 1e-9, 1e-12, 0.0][trial % 5]
        side = 1 if trial % 2 == 0 else -1
        apex = p + side * eps * nrm
        tri = np.array([apex,
                        apex + [rng.uniform(1, 3), rng.uniform(2, 4)],
                        apex + [rng.uniform(-3, -1), rng.uniform(2, 4)]])
        polys = [[base], [tri]]
        want = geo.union_area(polys)
        u = union_polygons(polys)
        got = geo.polygons_area(u)
        assert abs(got - want) <= max(2e-9, 1e-9 * want), \
            (trial, eps, side, got - want)


def test_exact_union_shared_edge_merges_seamlessly():
    """Coincident collinear boundaries (the hex-dissolve case): rects
    sharing a full edge union into ONE component with exact area and no
    interior seam vertices on the shared edge."""
    polys = [[geo.rect_ring(0, 0, 1, 1)], [geo.rect_ring(1, 0, 2, 1)],
             [geo.rect_ring(0, 1, 2, 2)]]
    out, area = geo_exact.exact_union_trace(polys)
    assert area == pytest.approx(4.0, abs=0)
    assert len(out) == 1 and len(out[0]) == 1
    assert geo.polygon_area(out[0]) == pytest.approx(4.0, rel=1e-15)
