"""Geometry kernel unit tests — property-tested against closed forms."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hexscape_spark import geo, params as P
from tests.helpers import hex_vertices


def test_hex_constants():
    # reference: R/generate_patches.R:45-50
    w = 2.0
    assert P.hex_height(w) == pytest.approx(2 * w / np.sqrt(3))
    assert P.hex_side(w) == pytest.approx(P.hex_height(w) / 2)
    assert P.hex_area(w) == pytest.approx(np.sqrt(3) * w * w / 2)


def test_hex_ring_area_matches_closed_form():
    ring = np.array(hex_vertices(3, -2, 7.0)[:-1])
    assert abs(geo.ring_area_signed(ring)) == pytest.approx(P.hex_area(7.0))


def test_polygon_with_hole_area_and_centroid():
    outer = geo.rect_ring(0, 0, 10, 10)
    hole = geo.rect_ring(1, 1, 3, 3)
    assert geo.polygon_area([outer, hole]) == pytest.approx(96.0)
    cx, cy = geo.polygons_centroid([[outer, hole]])
    # centroid shifts away from the hole
    assert cx > 5.0 and cy > 5.0


@given(st.floats(-20, 20), st.floats(-20, 20), st.floats(0.5, 10))
@settings(max_examples=50, deadline=None)
def test_clip_rect_rect_matches_closed_form(x0, y0, s):
    a = geo.rect_ring(0, 0, 10, 10)
    b = geo.rect_ring(x0, y0, x0 + s, y0 + s)
    clipped = geo.clip_ring_convex(a, geo.ensure_ccw(b))
    got = abs(geo.ring_area_signed(clipped)) if len(clipped) >= 3 else 0.0
    w = max(0.0, min(10, x0 + s) - max(0, x0))
    h = max(0.0, min(10, y0 + s) - max(0, y0))
    assert got == pytest.approx(w * h, abs=1e-9)


def test_clip_against_hex_monte_carlo():
    hexring = geo.ensure_ccw(np.array(hex_vertices(0, 0, 2.0)[:-1]))
    subject = geo.rect_ring(-0.5, -0.5, 3.0, 3.0)
    clipped = geo.clip_ring_convex(subject, hexring)
    area = abs(geo.ring_area_signed(clipped))
    rng = np.random.RandomState(7)
    pts = rng.uniform(-2, 3.5, size=(400000, 2))
    inside = geo.points_in_ring(pts[:, 0], pts[:, 1], hexring) & \
        (pts[:, 0] >= -0.5) & (pts[:, 0] <= 3.0) & \
        (pts[:, 1] >= -0.5) & (pts[:, 1] <= 3.0)
    mc = inside.mean() * 5.5 * 5.5
    assert area == pytest.approx(mc, rel=0.02)


def test_point_in_polygon_with_hole():
    outer = geo.rect_ring(0, 0, 10, 10)
    hole = geo.rect_ring(4, 4, 6, 6)
    px = np.array([5.0, 1.0, 11.0])
    py = np.array([5.0, 1.0, 5.0])
    got = geo.points_in_polygons(px, py, [[outer, hole]])
    assert got.tolist() == [False, True, False]


def test_distance_to_polygon():
    poly = [[geo.rect_ring(0, 0, 10, 10)]]
    d = geo.dist_points_to_polygons(
        np.array([5.0, 13.0, -3.0]), np.array([5.0, 14.0, 5.0]), poly)
    assert d[0] == 0.0
    assert d[1] == pytest.approx(5.0)
    assert d[2] == pytest.approx(3.0)


def test_segment_length_in_polygons():
    poly = [[geo.rect_ring(0, 0, 10, 10), geo.rect_ring(2, 2, 4, 4)]]
    L = geo.segment_length_in_polygons(
        np.array([-5.0, 3.0]), np.array([15.0, 3.0]), poly)
    assert L == pytest.approx(8.0)


def test_wkb_roundtrip():
    poly = [geo.rect_ring(0, 0, 10, 10), geo.rect_ring(2, 2, 4, 4)]
    wkb = geo.polygon_to_wkb(poly)
    kind, decoded = geo.wkb_to_geom(wkb)
    assert kind == "polygon"
    assert np.allclose(decoded[0], poly[0])
    assert np.allclose(decoded[1], poly[1])
    mw = geo.multipolygon_to_wkb([poly, [geo.rect_ring(20, 20, 21, 21)]])
    assert geo.polygons_area(geo.wkb_to_polygons(mw)) == pytest.approx(97.0)


def test_douglas_peucker_reduces_vertices():
    t = np.linspace(0, 2 * np.pi, 200, endpoint=False)
    ring = np.c_[np.cos(t), np.sin(t)]
    simp = geo.douglas_peucker(ring, 0.05)
    assert 3 <= len(simp) < 50
    assert abs(geo.ring_area_signed(simp)) == pytest.approx(np.pi, rel=0.1)


def test_simplify_keep_ratio_calibration():
    """ms_simplify(keep=0.25) parity: the binary-searched tolerance lands
    the kept-vertex ratio within +/-5% of the target on a rough coastline
    (SURVEY 7.3.2 / VERDICT r01 #9)."""
    rng = np.random.RandomState(3)
    t = np.linspace(0, 2 * np.pi, 400, endpoint=False)
    radii = 10.0 + np.cumsum(rng.normal(scale=0.15, size=len(t)))
    radii -= np.linspace(0, radii[-1] - radii[0], len(t))  # close the walk
    ring = np.c_[radii * np.cos(t), radii * np.sin(t)]
    simp = geo.simplify_polygons_keep([[ring]], keep=0.25)
    ratio = len(simp[0][0]) / len(ring)
    assert abs(ratio - 0.25) <= 0.05, ratio
    # area roughly conserved
    a0 = abs(geo.ring_area_signed(ring))
    a1 = abs(geo.ring_area_signed(simp[0][0]))
    assert a1 == pytest.approx(a0, rel=0.05)


def test_generate_patches_simplify_keep_knob(spark):
    """The simplify_keep knob preps layers without breaking conservation."""
    from hexscape_spark.tiling import generate_patches
    rng = np.random.RandomState(5)
    t = np.linspace(0, 2 * np.pi, 300, endpoint=False)
    radii = 20.0 + rng.normal(scale=0.05, size=len(t))
    ring = np.c_[25 + radii * np.cos(t), 25 + radii * np.sin(t)]
    land = geo.polygon_to_wkb([ring])
    p = generate_patches(spark, land, hex_width=5.0,
                         reference_point=(0.0, 50.0),
                         simplify_keep=0.3).toPandas()
    want = abs(geo.ring_area_signed(ring))
    assert p.area.sum() == pytest.approx(want, rel=0.05)


def test_clip_components_touching_vertex_and_hole():
    """Degenerate stitching cases (ADVICE r01): a vertex exactly on the cut
    line and a hole tangent to the clip boundary must still produce
    components whose total area equals the exact Sutherland-Hodgman area."""
    clip = geo.rect_ring(0, 0, 10, 10)
    # diamond with vertices exactly on the clip edges
    diamond = [np.array([[5, -2], [12, 5], [5, 12], [-2, 5]], float)]
    comps = geo.clip_polygon_components(diamond, clip)
    got = sum(geo.polygon_area(c) for c in comps)
    want = geo.area_polygons_in_convex([diamond], clip)
    assert got == pytest.approx(want, abs=1e-9)

    # hole tangent to the clip boundary from inside (touches y=0 at a point)
    outer = geo.rect_ring(-5, -5, 15, 15)
    hole = np.array([[5, 0], [8, 4], [2, 4]], float)
    poly = [outer, hole]
    comps = geo.clip_polygon_components(poly, clip)
    got = sum(geo.polygon_area(c) for c in comps)
    want = geo.area_polygons_in_convex([poly], clip)
    assert got == pytest.approx(want, abs=1e-9)

    # hole vertex exactly on the cut line splitting into two touching lobes
    outer2 = geo.rect_ring(-5, -5, 15, 15)
    hole2 = np.array([[0, 5], [4, 9], [4, 1]], float)  # vertex at x=0 edge
    comps = geo.clip_polygon_components([outer2, hole2], clip)
    got = sum(geo.polygon_area(c) for c in comps)
    want = geo.area_polygons_in_convex([[outer2, hole2]], clip)
    assert got == pytest.approx(want, abs=1e-9)


def test_wkb_decoder_malformed_raises_valueerror():
    """Truncated / random / bit-flipped WKB raises ValueError (clear task
    failure), never a raw struct.error from inside the parser (r5 fuzz:
    3,596 adversarial byte strings)."""
    import numpy as np

    from hexscape_spark import geo
    valid = geo.rect_wkb(0, 0, 3, 3)
    multi = geo.multipolygon_to_wkb([[geo.rect_ring(0, 0, 2, 2)],
                                     [geo.rect_ring(5, 5, 7, 8)]])
    rng = np.random.RandomState(5)
    cases = [blob[:cut] for blob in (valid, multi)
             for cut in range(0, len(blob), 3)]
    cases += [bytes(rng.randint(0, 256, rng.randint(0, 60), dtype=np.uint8))
              for _ in range(300)]
    for c in cases:
        try:
            geo.wkb_to_polygons(c)
        except ValueError:
            pass                    # the contract: clear ValueError only
    assert len(geo.wkb_to_polygons(valid)) == 1
    assert len(geo.wkb_to_polygons(multi)) == 2
