"""Property-based cross-validation of the geometry kernel.

The engine has TWO independent area implementations: the
Sutherland–Hodgman convex clipper (+ half-plane component stitcher) and
the strip-sweep boolean-area kernel.  They share no code path, so
agreement over random inputs is strong evidence for both (the reference's
testthat strategy of validating against an independent oracle, SURVEY §5).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from hexscape_spark import geo
from tests.helpers import union_polygons


def _rand_poly(seed: int, n: int, concave: bool) -> np.ndarray:
    """Simple (non-self-intersecting) polygon: radial star around the
    origin.  Angles are a jittered FULL-circle partition (pure sorted
    random angles can span < 2π, making the closure edge cut across the
    star — hypothesis found exactly that degenerate case)."""
    rng = np.random.RandomState(seed)
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    t = t + rng.uniform(0.05, 0.95, n) * (2 * np.pi / n)
    r = rng.uniform(2.0, 10.0 if concave else 4.0, n)
    return np.c_[r * np.cos(t), r * np.sin(t)]


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 24),
       concave=st.booleans(),
       cx=st.floats(-6, 6), cy=st.floats(-6, 6),
       half=st.floats(0.5, 8.0))
def test_convex_clip_area_equals_strip_sweep(seed, n, concave, cx, cy, half):
    poly = [_rand_poly(seed, n, concave)]
    window = geo.rect_ring(cx - half, cy - half, cx + half, cy + half)
    a_clip = geo.area_polygons_in_convex([poly], window)
    a_sweep = geo.intersection_area([poly], [[window]])
    assert a_clip == pytest.approx(a_sweep, abs=1e-8)


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 20),
       cx=st.floats(-5, 5), cy=st.floats(-5, 5),
       half=st.floats(0.5, 7.0))
def test_component_areas_sum_to_clip_area(seed, n, cx, cy, half):
    """clip_polygon_components (half-plane stitcher) must conserve area
    against the Sutherland–Hodgman total, for arbitrary star polygons."""
    poly = [_rand_poly(seed, n, True)]
    window = geo.rect_ring(cx - half, cy - half, cx + half, cy + half)
    comps = geo.clip_polygon_components(poly, window)
    total = sum(geo.polygon_area(c) for c in comps)
    want = geo.area_polygons_in_convex([poly], window)
    assert total == pytest.approx(want, abs=1e-8)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), m=st.integers(1, 5))
def test_union_area_bounds(seed, m):
    """max(area_i) <= union <= sum(area_i); equality cases at m == 1."""
    rng = np.random.RandomState(seed)
    polys = []
    for i in range(m):
        ring = _rand_poly(seed * 7 + i, int(rng.randint(4, 12)), True)
        off = rng.uniform(-8, 8, 2)
        polys.append([ring + off])
    areas = [geo.polygons_area([p]) for p in polys]
    u = geo.union_area(polys)
    assert u <= sum(areas) + 1e-8
    assert u >= max(areas) - 1e-8
    if m == 1:
        assert u == pytest.approx(areas[0], abs=1e-8)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(4, 16))
def test_interior_point_is_inside(seed, n):
    poly = [_rand_poly(seed, n, True)]
    ix, iy = geo.interior_point(poly)
    assert geo.points_in_polygons(np.array([ix]), np.array([iy]), [poly])[0]


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(6, 30),
       keep=st.floats(0.3, 0.9))
def test_simplify_never_gains_vertices(seed, n, keep):
    ring = _rand_poly(seed, n, True)
    simp = geo.simplify_polygons_keep([[ring]], keep)
    assert 3 <= len(simp[0][0]) <= len(ring)


def _union_fixture(seed, m):
    rng = np.random.RandomState(seed)
    polys = []
    for i in range(m):
        if rng.rand() < 0.5:
            x0, y0 = rng.uniform(0, 12, 2)
            w, h = rng.uniform(0.5, 5, 2)
            polys.append([geo.rect_ring(x0, y0, x0 + w, y0 + h)])
        else:
            ring = _rand_poly(seed * 13 + i, int(rng.randint(4, 10)), True)
            polys.append([ring + rng.uniform(0, 12, 2)])
    return polys


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), m=st.integers(2, 25))
def test_union_polygons_area_matches_sweep(seed, m):
    """union_component's PRECISION CONTRACT (tightened r6), on random
    rects AND random convex-ish polygons (crossing-heavy): the with_area
    trapezoid-sum area (what dissolve reports) reproduces the
    independent strip-sweep union_area to 1e-9, and the traced
    BOUNDARY's shoelace area is within max(2e-9, 1e-9 x area) — the
    float sweep validates at that bound and any near-tangency failure
    (the r5 seed-4476 sliver class) re-traces through the exact rational
    fallback, so no sliver survives."""
    polys = _union_fixture(seed, m)
    want = geo.union_area(polys)
    # the reported area is sweep-exact
    total = 0.0
    for comp in geo.overlap_components(polys):
        _, a = geo.union_component([polys[i] for i in comp],
                                   with_area=True)
        total += a
    assert total == pytest.approx(want, rel=1e-9, abs=1e-9)
    # the traced geometry is exact up to the tightened validation bound
    u = union_polygons(polys)
    assert abs(geo.polygons_area(u) - want) <= max(2e-9, 1e-9 * abs(want))
    # every piece's area is positive and pieces partition the union
    for p in u:
        assert geo.polygon_area(p) > -1e-12


def test_union_near_tangent_sliver_regression():
    """The hypothesis counterexample pinned (r5), FIXED (r6): poly0's
    vertex lies 1.05e-5 off another polygon's edge, putting two crossing
    breakpoints 1.8e-15 apart; the float sweep's degenerate strip used
    to chord a 7.4e-6 sliver.  The tightened 1e-9·area validation now
    rejects that trace and the exact rational fallback (geo_exact)
    produces the exact boundary — and the fallback genuinely fires on
    this input (the regression stays meaningful, not vacuous)."""
    from unittest import mock

    from hexscape_spark import geo_exact
    polys = _union_fixture(4476, 16)
    want = geo.union_area(polys)
    total = 0.0
    for comp in geo.overlap_components(polys):
        _, a = geo.union_component([polys[i] for i in comp],
                                   with_area=True)
        total += a
    assert total == pytest.approx(want, rel=1e-10)
    with mock.patch.object(geo_exact, "exact_union_trace",
                           wraps=geo_exact.exact_union_trace) as spy:
        traced = geo.polygons_area(union_polygons(polys))
        assert spy.call_count >= 1          # the degenerate input routes exact
    # the boundary is now EXACT up to float64 output rounding
    assert abs(traced - want) <= 1e-9 * want


def test_union_polygons_hole_and_containment():
    """A ring of rects produces a true hole; interior points classify
    correctly against the traced boundary."""
    polys = [[geo.rect_ring(0, 0, 3, 1)], [geo.rect_ring(0, 2, 3, 3)],
             [geo.rect_ring(0, 0, 1, 3)], [geo.rect_ring(2, 0, 3, 3)]]
    u = union_polygons(polys)
    assert geo.polygons_area(u) == pytest.approx(8.0)
    assert not geo.points_in_polygons(np.array([1.5]), np.array([1.5]), u)[0]
    assert geo.points_in_polygons(np.array([0.5]), np.array([0.5]), u)[0]


def test_polygons_distance_detects_pure_crossing():
    """ADVICE r02: plus-sign rectangles cross with no vertex of either
    inside the other — distance must be 0 and they form ONE component."""
    a = [geo.rect_ring(-3, -1, 3, 1)]
    b = [geo.rect_ring(-1, -3, 1, 3)]
    assert geo.polygons_distance([a], [b]) == 0.0
    assert len(geo.overlap_components([a, b])) == 1
    assert geo.polygons_area(union_polygons([a, b])) == pytest.approx(20.0)


def test_union_polygons_with_holes_in_input():
    """Inputs that already carry holes union correctly: a plug inside the
    hole stays a separate component; a bridge across the hole merges and
    shrinks the hole."""
    frame = [geo.rect_ring(0, 0, 10, 10), geo.rect_ring(3, 3, 7, 7)[::-1]]
    plug = [geo.rect_ring(4, 4, 6, 6)]
    u = union_polygons([frame, plug])
    assert len(geo.overlap_components([frame, plug])) == 2
    assert geo.polygons_area(u) == pytest.approx(100 - 16 + 4)
    bridge = [geo.rect_ring(2, 4, 8, 6)]
    u2 = union_polygons([frame, bridge])
    assert geo.polygons_area(u2) == pytest.approx(
        geo.union_area([frame, bridge]))
    # the bridged union is one polygon with two holes
    assert len(u2) == 1 and len(u2[0]) == 3


def test_dissolve_fallback_stays_exact(monkeypatch):
    """If boundary tracing ever fails (UnionTraceError), a component
    falls back to its source rings while its area stays exact via the
    independent strip-sweep kernel."""
    from hexscape_spark import dissolve as dmod

    def boom(polys, _depth=0, with_area=False):
        raise geo.UnionTraceError("forced")

    monkeypatch.setattr(dmod.geo, "union_component", boom)
    polys = [[geo.rect_ring(0, 0, 2, 2)], [geo.rect_ring(1, 1, 3, 3)],
             [geo.rect_ring(5, 5, 6, 6)]]
    comps = geo.overlap_components(polys, tol=0.0)
    assert len(comps) == 2
    out = [dmod._union_or_rings([polys[i] for i in c]) for c in comps]
    assert sum(area for _, area in out) == pytest.approx(7.0 + 1.0)
    assert sum(len(pieces) for pieces, _ in out) == 3   # source rings


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_intersection_difference_polygons_area_identities(seed):
    """The difference GEOMETRY agrees with the independent area kernels:
    area(A−B) == area(∪A) − intersection_area(A, B)."""
    rng = np.random.RandomState(seed)

    def rand_set():
        out = []
        for _ in range(rng.randint(1, 5)):
            if rng.rand() < 0.6:
                x0, y0 = rng.uniform(0, 10, 2)
                w, h = rng.uniform(0.5, 5, 2)
                out.append([geo.rect_ring(x0, y0, x0 + w, y0 + h)])
            else:
                c = rng.uniform(0, 10, 2)
                out.append([geo.ensure_ccw(c + rng.uniform(-2.5, 2.5, (3, 2)))])
        return out

    a, b = rand_set(), rand_set()
    d = geo.difference_polygons(a, b)
    assert geo.polygons_area(d) == pytest.approx(
        geo.union_area(a) - geo.intersection_area(a, b), abs=1e-7)


def test_difference_polygons_makes_holes_and_splits():
    """A centred subtraction yields a polygon WITH A HOLE; a through-cut
    splits into two disjoint polygons."""
    frame = geo.difference_polygons([[geo.rect_ring(0, 0, 10, 10)]],
                                    [[geo.rect_ring(3, 3, 7, 7)]])
    assert len(frame) == 1 and len(frame[0]) == 2
    assert geo.polygons_area(frame) == pytest.approx(84.0)
    assert not geo.points_in_polygons(np.array([5.0]), np.array([5.0]),
                                      frame)[0]
    halves = geo.difference_polygons([[geo.rect_ring(0, 0, 10, 4)]],
                                     [[geo.rect_ring(4, -1, 6, 5)]])
    assert len(halves) == 2
    assert geo.polygons_area(halves) == pytest.approx(32.0)


def test_boolean_polygons_with_holes():
    """Difference with a holey operand: the hole subtracts from the
    overlap and the area matches the independent kernels."""
    frame = [geo.rect_ring(0, 0, 10, 10), geo.rect_ring(3, 3, 7, 7)[::-1]]
    band = [geo.rect_ring(-2, 4, 12, 6)]
    # band through the hole: 10*2 minus the 4-wide hole span = 12
    assert geo.intersection_area([frame], [band]) == pytest.approx(12.0)
    d = geo.difference_polygons([frame], [band])
    assert geo.polygons_area(d) == pytest.approx(
        geo.union_area([frame]) - geo.intersection_area([frame], [band]))
    assert geo.polygons_area(d) == pytest.approx(84.0 - 12.0)


@given(seed=st.integers(0, 10_000), nl=st.integers(0, 6),
       nr=st.integers(0, 6))
@settings(max_examples=200, deadline=None)
def test_seam_edges_vectorised_equals_naive(seed, nl, nr):
    """The r4 searchsorted interval-membership vectorisation of
    geo._seam_edges must emit exactly the edges of the naive per-midpoint
    `any()` form it replaced, including tol-scale touching intervals and
    duplicated breakpoints."""
    rng = np.random.RandomState(seed)
    tol = 1e-9

    def intervals(n):
        # the CONTRACT input: strips split at crossings, so a strip's
        # merged intervals are vertically ordered and DISJOINT — they may
        # touch (shared vertex exactly on the seam, hi == next lo up to
        # ~ulp) but never properly overlap
        out = []
        y = float(rng.randint(0, 8)) / 4.0
        for _ in range(n):
            gap = 0.0 if rng.rand() < 0.4 else \
                float(rng.randint(2, 10)) / 4.0
            lo = y + gap
            hi = lo + float(rng.randint(1, 12)) / 4.0
            # ~tol endpoint jitter exercises the snap clustering and the
            # touching-interval idx/idx-1 probes
            if rng.rand() < 0.5:
                lo += rng.choice([-1.0, 1.0]) * 0.3 * tol
            if rng.rand() < 0.5:
                hi += rng.choice([-1.0, 1.0]) * 0.3 * tol
            out.append((lo, hi))
            y = hi
        return out

    left, right = intervals(nl), intervals(nr)

    def naive(x, left, right, tol):
        pts = sorted(set([v for iv in left for v in iv] +
                         [v for iv in right for v in iv]))
        rep = []
        for p in pts:
            if not rep or p - rep[-1] > tol:
                rep.append(p)
        out = []
        for u, v in zip(rep, rep[1:]):
            m = 0.5 * (u + v)
            in_l = any(lo - tol <= m <= hi + tol for lo, hi in left)
            in_r = any(lo - tol <= m <= hi + tol for lo, hi in right)
            if in_l and not in_r:
                out.append((x, u, x, v))
            elif in_r and not in_l:
                out.append((x, v, x, u))
        return out

    got = geo._seam_edges(3.25, left, right, tol)
    want = naive(3.25, left, right, tol)
    assert got == want
