"""LAEA reprojection kernel (st_transform to EPSG:3035)."""

import pytest

from tests.helpers import laea_inverse


def test_laea_epsg3035_worked_example():
    """EPSG Guidance Note 7-2 example for ETRS89-LAEA (the reference's
    GISCO CRS, R/download_maps.R:53): 50N 5E -> E 3962799.45, N 2999718.85;
    the projection centre maps exactly to the false origin."""
    import numpy as np
    from hexscape_spark import geo_crs as gc
    e, n = gc.laea_forward(np.array([50.0]), np.array([5.0]))
    assert e[0] == pytest.approx(3962799.45, abs=0.01)
    assert n[0] == pytest.approx(2999718.85, abs=0.01)
    e0, n0 = gc.laea_forward(np.array([52.0]), np.array([10.0]))
    assert e0[0] == 4321000.0 and n0[0] == 3210000.0


def test_laea_roundtrip_and_equal_area():
    """Forward/inverse roundtrip to nanometre-equivalent; the numerical
    Jacobian matches the ellipsoid area element (equal-area property) —
    an independent check of the Snyder series."""
    import numpy as np
    from hexscape_spark import geo_crs as gc
    rng = np.random.RandomState(0)
    lat = rng.uniform(30, 72, 1000)
    lon = rng.uniform(-12, 35, 1000)
    e, n = gc.laea_forward(lat, lon)
    la, lo = laea_inverse(e, n)
    assert np.abs(la - lat).max() < 1e-11
    assert np.abs(lo - lon).max() < 1e-11
    a, f = 6378137.0, 1 / 298.257222101
    e2 = f * (2 - f)
    h = 1e-6
    for la0, lo0 in ((50.0, 5.0), (40.0, 20.0), (65.0, -5.0)):
        e1, n1 = gc.laea_forward(np.array([la0]), np.array([lo0]))
        e2_, n2 = gc.laea_forward(np.array([la0 + h]), np.array([lo0]))
        e3, n3 = gc.laea_forward(np.array([la0]), np.array([lo0 + h]))
        jac = abs((e2_ - e1) * (n3 - n1) - (e3 - e1) * (n2 - n1))[0] \
            / np.radians(h) ** 2
        phi = np.radians(la0)
        want = a * a * (1 - e2) * np.cos(phi) / (1 - e2 * np.sin(phi) ** 2) ** 2
        assert jac / want == pytest.approx(1.0, rel=1e-6)


def test_with_laea_dataframe(spark):
    from hexscape_spark import geo_crs as gc
    df = spark.createDataFrame([(50.0, 5.0), (52.0, 10.0)],
                               "lat_deg DOUBLE, lon_deg DOUBLE")
    out = gc.with_laea(df).toPandas().sort_values("lat_deg")
    assert out.easting.iloc[0] == pytest.approx(3962799.45, abs=0.01)
    assert out.easting.iloc[1] == pytest.approx(4321000.0)
