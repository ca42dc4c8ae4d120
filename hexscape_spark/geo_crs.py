"""CRS reprojection kernel — st_transform without pyproj.

The container ships no pyproj, so the reference's st_transform to its
primary CRS, EPSG:3035 (ETRS89-LAEA, R/extract_corine.R:140,
R/download_maps.R:53), is a from-scratch, vectorized ellipsoidal Lambert
azimuthal equal-area projection.  It is exposed as a NumPy function
(used inside the Arrow-batched DataFrame helper `with_laea`).  Nothing in
the engine projects to another CRS.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# GRS80/WGS84 (identical to double precision for our purposes)
_A = 6378137.0
_F = 1.0 / 298.257222101        # GRS80 (EPSG:3035 datum ETRS89)
_E = math.sqrt(_F * (2 - _F))   # eccentricity


# --- Lambert azimuthal equal-area (ellipsoidal) -------------------------------
#
# EPSG:3035 (ETRS89-LAEA) is the reference's primary CRS — its GISCO layers
# are distributed in LAEA (R/download_maps.R:53).  Implemented from Snyder,
# "Map Projections: A Working Manual" (USGS PP 1395), pp. 187-190, oblique
# aspect: authalic-latitude mapping beta = arcsin(q/q_p), then the spherical
# LAEA on the authalic sphere with the D stretch.  Exactly equal-area by
# construction.

_E2 = _F * (2 - _F)


def _q_authalic(sphi: np.ndarray) -> np.ndarray:
    """Snyder eq. 3-12: q(phi) from sin(phi)."""
    esphi = _E * sphi
    return (1 - _E2) * (sphi / (1 - _E2 * sphi * sphi)
                        - np.log((1 - esphi) / (1 + esphi)) / (2 * _E))


_QP = float(_q_authalic(np.array([1.0]))[0])
_RQ = _A * math.sqrt(_QP / 2.0)
# EPSG:3035 (ETRS89-extended / LAEA Europe): natural origin 52°N 10°E,
# false easting and northing
_LAT0, _LON0 = 52.0, 10.0
_FE, _FN = 4321000.0, 3210000.0


def laea_forward(lat_deg: np.ndarray, lon_deg: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Geographic (degrees) -> EPSG:3035 LAEA easting/northing (m)."""
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - _LON0)
    phi1 = math.radians(_LAT0)
    q = _q_authalic(np.sin(phi))
    q1 = float(_q_authalic(np.array([math.sin(phi1)]))[0])
    beta = np.arcsin(np.clip(q / _QP, -1.0, 1.0))
    beta1 = math.asin(min(1.0, max(-1.0, q1 / _QP)))
    m1 = math.cos(phi1) / math.sqrt(1 - _E2 * math.sin(phi1) ** 2)
    d = _A * m1 / (_RQ * math.cos(beta1))
    cosb, sinb = np.cos(beta), np.sin(beta)
    b = _RQ * np.sqrt(2.0 / (1.0 + math.sin(beta1) * sinb
                             + math.cos(beta1) * cosb * np.cos(lam)))
    e = _FE + b * d * cosb * np.sin(lam)
    n = _FN + (b / d) * (math.cos(beta1) * sinb
                        - math.sin(beta1) * cosb * np.cos(lam))
    return e, n


def with_laea(df: DataFrame, lat: str = "lat_deg", lon: str = "lon_deg",
              out_e: str = "easting", out_n: str = "northing") -> DataFrame:
    """st_transform to EPSG:3035 LAEA, Arrow-batched."""
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema += f", {out_e} DOUBLE, {out_n} DOUBLE"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            e, n = laea_forward(pdf[lat].to_numpy(), pdf[lon].to_numpy())
            pdf[out_e] = e
            pdf[out_n] = n
            yield pdf

    return df.mapInPandas(run, schema=schema)
