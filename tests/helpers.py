"""Test-side helpers: fixture writers and independent references.

Fixture writers build inputs the engine reads (BMP images, ``.warc.gz``
segments, geocoded pages).  The references are second implementations
that tests compare the engine against: the reference's genpoly hexagon
ring (the engine's ring is ``hexgrid.hex_ring``), the LAEA inverse
(the engine only projects forward, ``geo_crs.with_laea``) and the exact
brute-force cosine top-k the ANN paths are checked against.
``union_polygons`` composes the engine's exact union kernels over a whole
polygon set, the way ``dissolve`` runs them per group.  None of this is
engine code: nothing outside ``tests/`` imports it.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hexscape_spark import geo, hexgrid
from hexscape_spark import params as P
from hexscape_spark.geo_crs import _A, _E, _E2, _QP, _RQ, _q_authalic
from hexscape_spark.similarity import _unit_rows
from hexscape_spark.synth import pages


def encode_bmp(rgb: np.ndarray) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up, BGR,
    4-byte-padded rows) from an (h, w, 3) uint8 array."""
    h, w, c = rgb.shape
    assert c == 3
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    bgr = rgb[:, :, ::-1].astype(np.uint8)
    for y in range(h - 1, -1, -1):               # bottom-up
        body += bgr[y].tobytes() + b"\x00" * pad
    data_off = 14 + 40
    size = data_off + len(body)
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return hdr + info + bytes(body)


def write_warc_gz(records: list[dict], path: str) -> None:
    """Serialise records (url, warc_date, content_type, payload) as a
    member-per-record `.warc.gz` — the synthesis half that makes the
    reader deterministically testable without external data."""
    import gzip

    out = bytearray()
    for rec in records:
        payload = rec["payload"]
        hdr = (f"WARC/1.0\r\n"
               f"WARC-Type: {rec.get('record_type', 'response')}\r\n"
               f"WARC-Target-URI: {rec['url']}\r\n"
               f"WARC-Date: {rec['warc_date']}\r\n"
               f"Content-Type: {rec['content_type']}\r\n"
               f"Content-Length: {len(payload)}\r\n\r\n").encode()
        member = hdr + payload + b"\r\n\r\n"
        out += gzip.compress(member)
    with open(path, "wb") as f:
        f.write(bytes(out))


def geocoded_pages(spark: SparkSession, n: int,
                   num_partitions: int | None = None) -> DataFrame:
    """pages + deterministic (lon, lat) + hex cell assignment."""
    df = pages(spark, n, num_partitions)
    df = hexgrid.with_geocode(df, "page_id")
    return hexgrid.with_hex_cell(df)


def hex_vertices(q: int, r: int, hex_width: float = P.HEX_WIDTH,
                 refx: float = P.REFX, refy: float = P.REFY):
    """Driver-side 7-vertex ring of hexagon (q, r).

    Exactly genpoly (reference: R/generate_patches.R:53-64): vertices at
    (0,+h/2),(+w/2,+s/2),(+w/2,-s/2),(0,-h/2),(-w/2,-s/2),(-w/2,+s/2),(0,+h/2)
    translated to the cell centroid.
    """
    h = P.hex_height(hex_width)
    s = P.hex_side(hex_width)
    cx = refx + r * hex_width / 2.0 + q * hex_width
    cy = refy - r * (s + h) / 2.0
    pts = [(0.0, h / 2), (hex_width / 2, s / 2), (hex_width / 2, -s / 2),
           (0.0, -h / 2), (-hex_width / 2, -s / 2), (-hex_width / 2, s / 2),
           (0.0, h / 2)]
    return [(cx + x, cy + y) for x, y in pts]


def laea_inverse(e: np.ndarray, n: np.ndarray,
                 lat0_deg: float = 52.0, lon0_deg: float = 10.0,
                 fe: float = 4321000.0, fn: float = 3210000.0
                 ) -> tuple[np.ndarray, np.ndarray]:
    """LAEA easting/northing (m) -> geographic (degrees)."""
    x = np.asarray(e, dtype=np.float64) - fe
    y = np.asarray(n, dtype=np.float64) - fn
    phi1 = math.radians(lat0_deg)
    q1 = float(_q_authalic(np.array([math.sin(phi1)]))[0])
    beta1 = math.asin(min(1.0, max(-1.0, q1 / _QP)))
    m1 = math.cos(phi1) / math.sqrt(1 - _E2 * math.sin(phi1) ** 2)
    d = _A * m1 / (_RQ * math.cos(beta1))
    rho = np.hypot(x / d, d * y)
    with np.errstate(invalid="ignore", divide="ignore"):
        ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * _RQ), -1.0, 1.0))
        q = _QP * (np.cos(ce) * math.sin(beta1)
                   + d * y * np.sin(ce) * math.cos(beta1) / rho)
    q = np.where(rho == 0.0, _QP * math.sin(beta1), q)
    lam = np.arctan2(x * np.sin(ce),
                     d * rho * math.cos(beta1) * np.cos(ce)
                     - d * d * y * math.sin(beta1) * np.sin(ce))
    # Snyder eq. 3-16 iteration for phi from q
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(8):
        sphi = np.sin(phi)
        esphi = _E * sphi
        denom = 1 - _E2 * sphi * sphi
        corr = (denom * denom / (2.0 * np.cos(phi))) * (
            q / (1 - _E2) - sphi / denom
            + np.log((1 - esphi) / (1 + esphi)) / (2 * _E))
        phi = phi + np.where(np.isfinite(corr), corr, 0.0)
    return np.degrees(phi), lon0_deg + np.degrees(lam)


def union_polygons(polys: list) -> list:
    """Exact union of arbitrary (multi)polygon parts as polygons: each
    touch/overlap component (geo.overlap_components) boundary-traced by
    geo.union_component, disjoint parts passed through."""
    return [piece for comp in geo.overlap_components(polys)
            for piece in geo.union_component([polys[i] for i in comp])]


def cosine_topk_bruteforce(df: DataFrame, queries: DataFrame,
                           key: str = "vec_id", vec: str = "embedding",
                           k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbours of each (small) query set row over
    the corpus `df`, self-pairs and NULL embeddings skipped, ties by id.
    The query matrix broadcasts; each corpus batch keeps its rows at or
    above the (k+1)-th best score per query, so the final window is exact
    under any partitioning."""
    qpd = queries.select(F.col(key).alias("query_id"),
                         F.col(vec).alias("qv")) \
        .where(F.col(vec).isNotNull()).toPandas()
    qm = np.array([np.asarray(v, dtype=np.float64) for v in qpd["qv"]])
    bq = df.sparkSession.sparkContext.broadcast(
        (qpd["query_id"].to_numpy(), _unit_rows(qm) if len(qm) else qm))
    key_t = dict(df.dtypes)[key]
    schema = f"query_id {key_t}, nn_id {key_t}, cosine DOUBLE"

    def score(batches):
        qids, qm = bq.value
        for pdf in batches:
            nb = len(pdf)
            if nb == 0 or len(qids) == 0:
                continue
            cm = _unit_rows(np.array([np.asarray(v, dtype=np.float64)
                                      for v in pdf["cv"]]))
            sims = cm @ qm.T
            kk = min(k + 1, nb)
            thr = np.partition(sims, nb - kk, axis=0)[nb - kk, :]
            ci, qi = np.nonzero(sims >= thr[None, :])
            yield pd.DataFrame({"query_id": qids[qi],
                                "nn_id": pdf["nn_id"].to_numpy()[ci],
                                "cosine": sims[ci, qi]})

    scored = df.select(F.col(key).alias("nn_id"), F.col(vec).alias("cv")) \
        .where(F.col(vec).isNotNull()) \
        .mapInPandas(score, schema) \
        .where(F.col("nn_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
