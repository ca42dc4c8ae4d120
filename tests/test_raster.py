"""Raster <-> hex resampling (north-star raster↔vector op)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexscape_spark.raster import hex_to_raster, raster_to_hex
from tests.helpers import hex_vertices


@pytest.fixture(scope="module")
def raster(spark):
    # 40x25 raster, pixel 500 m, origin (0,0): value = ix + 100*iy
    return spark.range(1000).selectExpr(
        "CAST(id % 40 AS BIGINT) AS ix",
        "CAST(id DIV 40 AS BIGINT) AS iy",
        "CAST(id % 40 + 100 * (id DIV 40) AS DOUBLE) AS value")


def test_raster_to_hex_conserves_pixels_and_sums(spark, raster):
    out = raster_to_hex(raster, 0.0, 0.0, 500.0, hex_width=1000.0).toPandas()
    assert out.n_pixels.sum() == 1000
    want_sum = raster.agg(F.sum("value")).collect()[0][0]
    assert out.sum_value.sum() == pytest.approx(want_sum)
    # pixel (500m) vs hex (1000m): each hex holds a handful of pixels
    assert 1 <= out.n_pixels.max() <= 8


def test_raster_to_hex_assigns_nearest_centre(spark, raster):
    """Spot-check: each pixel centre is inside its assigned hexagon."""
    from hexscape_spark import geo, hexgrid
    px = raster.selectExpr("ix", "iy",
                           "0.0E0 + (ix + 0.5E0) * 500.0E0 AS lon",
                           "0.0E0 + (iy + 0.5E0) * 500.0E0 AS lat")
    assigned = hexgrid.with_hex_cell(px).toPandas()
    for _, row in assigned.sample(50, random_state=0).iterrows():
        ring = np.array(hex_vertices(int(row.q), int(row.r), 1000.0)[:-1])
        d = geo.dist_points_to_polygons(np.array([row.lon]),
                                        np.array([row.lat]), [[ring]])
        assert d[0] == 0.0


def test_hex_to_raster_roundtrip(spark, raster):
    """hex -> raster -> hex reproduces the per-cell values exactly."""
    cells = raster_to_hex(raster, 0.0, 0.0, 500.0, hex_width=1000.0) \
        .select("cell_id", F.col("avg_value").alias("value"))
    ras = hex_to_raster(cells, spark, 0, 0, 20000, 12500, 500.0,
                        hex_width=1000.0)
    back = raster_to_hex(ras.where("value IS NOT NULL").drop("cell_id"),
                         0.0, 0.0, 500.0, hex_width=1000.0)
    j = (cells.withColumnRenamed("value", "orig")
         .join(back.select("cell_id", "avg_value"), "cell_id").toPandas())
    assert np.allclose(j.orig, j.avg_value)


def test_raster_to_hex_area_weighted_conserves_mass(spark):
    """Exact area-weighted resampling: Σ per-cell covered_area == raster
    area, Σ weighted sums == Σ pixel value*area (conservative remap), and
    a constant raster averages to that constant everywhere."""
    from hexscape_spark.raster import raster_to_hex_area_weighted
    n = 12
    pixel = 700.0
    rows = [(ix, iy, float(ix * n + iy)) for ix in range(n) for iy in range(n)]
    raster = spark.createDataFrame(rows, "ix LONG, iy LONG, value DOUBLE")
    out = raster_to_hex_area_weighted(raster, 0.0, 0.0, pixel).toPandas()
    total_area = out.covered_area.sum()
    assert total_area == pytest.approx(n * n * pixel * pixel, rel=1e-9)
    want_mass = sum(v * pixel * pixel for _, _, v in rows)
    assert out.wsum_value.sum() == pytest.approx(want_mass, rel=1e-9)
    const = spark.createDataFrame([(ix, iy, 7.5) for ix in range(4)
                                   for iy in range(4)],
                                  "ix LONG, iy LONG, value DOUBLE")
    cout = raster_to_hex_area_weighted(const, 0.0, 0.0, pixel).toPandas()
    assert (abs(cout.wavg_value - 7.5) < 1e-9).all()
