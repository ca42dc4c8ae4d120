"""Hex-grid column math: encode/decode inverses, kRing, lattice ranges."""

import math

import duckdb
import numpy as np

from hexscape_spark import geo, params as P
from hexscape_spark import hexgrid, sqlgen
from tests.helpers import geocoded_pages, hex_vertices


def test_encode_decode_roundtrip(spark):
    """cell -> centroid -> cell is the identity (centroid is interior)."""
    df = spark.createDataFrame(
        [(q, r) for q in range(-5, 6) for r in range(-5, 6)], "q LONG, r LONG")
    cx, cy = sqlgen.centroid_exprs("q", "r")
    df = df.selectExpr("*", f"{cx} AS x", f"{cy} AS y")
    got = hexgrid.with_hex_cell(df.selectExpr("q AS q0", "r AS r0", "x", "y"),
                                lon="x", lat="y").toPandas()
    assert (got.q == got.q0).all()
    assert (got.r == got.r0).all()


ROUND_CASES = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 3.5, -3.5,
               0.49999999999999994, -0.49999999999999994, 0.5000000000000001,
               -0.0, -0.4, 2.0 ** 52 - 0.5, 1e15 + 0.5, None]


def _duck_table(con, name: str, ddl: str, rows) -> None:
    con.execute(f"CREATE TABLE {name} ({ddl})")
    con.executemany(f"INSERT INTO {name} VALUES ({', '.join('?' * len(rows[0]))})",
                    rows)


def test_round_half_away_matches_round(spark):
    """The cube-rounding helper equals ROUND(x) in Spark and in DuckDB on
    ties, near-ties, large values and NULL, and never returns -0.0."""
    rows = list(enumerate(ROUND_CASES))
    sql = (f"SELECT i, ROUND(x) AS rd, {sqlgen.round_half_away_expr('x')} AS h "
           "FROM t ORDER BY i")
    spark.createDataFrame(rows, "i INT, x DOUBLE").createOrReplaceTempView("t")
    sp = [(r.rd, r.h) for r in spark.sql(sql).collect()]
    con = duckdb.connect()
    _duck_table(con, "t", "i INTEGER, x DOUBLE", rows)
    dk = [(rd, h) for _, rd, h in con.execute(sql).fetchall()]
    assert len(sp) == len(dk) == len(ROUND_CASES)
    for x, (s_rd, s_h), (d_rd, d_h) in zip(ROUND_CASES, sp, dk):
        if x is None:
            assert s_rd is s_h is d_rd is d_h is None
            continue
        assert s_h == s_rd and d_h == d_rd and s_h == d_h, x
        # +0.0, never -0.0, in both engines (DuckDB's ROUND keeps -0.0)
        if s_h == 0.0:
            assert math.copysign(1.0, s_h) == math.copysign(1.0, d_h) == 1.0, x


def test_null_point_gets_null_cell(spark):
    """NULL coordinates give a NULL cell_id in both engines: a NULL lat
    nulls q and r, a NULL lon nulls q (r is a function of lat alone)."""
    rows = [(0, None, 10.0), (1, 10.0, None), (2, None, None), (3, 10.0, 10.0)]
    got = (hexgrid.with_hex_cell(
        spark.createDataFrame(rows, "i INT, lon DOUBLE, lat DOUBLE"))
        .orderBy("i").select("q", "r", "cell_id").collect())
    con = duckdb.connect()
    _duck_table(con, "pts", "i INTEGER, lon DOUBLE, lat DOUBLE", rows)
    dk = con.execute(sqlgen.build_query(
        "pts", sqlgen.hex_layers(), select="i, q, r, cell_id")
        + " ORDER BY i").fetchall()
    assert len(got) == len(dk) == len(rows)
    for (_, lon, lat), s_row, d_row in zip(rows, got, dk):
        assert tuple(s_row) == d_row[1:]
        if lon is None or lat is None:
            assert s_row.cell_id is None and s_row.q is None
        if lat is None:
            assert s_row.r is None
    assert None not in dk[3]


def test_points_assigned_to_containing_hex(spark):
    """Every geocoded point lies inside its assigned hexagon's ring."""
    pdf = geocoded_pages(spark, 2000).select("lon", "lat", "q", "r").toPandas()
    for _, row in pdf.sample(200, random_state=1).iterrows():
        ring = np.array(hex_vertices(int(row.q), int(row.r))[:-1])
        d = geo.dist_points_to_polygons(
            np.array([row.lon]), np.array([row.lat]), [[ring]])
        assert d[0] == 0.0, f"point outside hex {row.q},{row.r}"


def test_kring_offsets_count():
    """|disk(k)| = 1 + 3k(k+1) — the H3 grid_disk cardinality — with unique
    offsets, every ring <= k, and 6k cells on the ring-k shell."""
    for k in (0, 1, 2, 3):
        offs = hexgrid.kring_offsets(k)
        assert len(offs) == 1 + 3 * k * (k + 1)
        assert len({(dq, dr) for dq, dr, _ in offs}) == len(offs)
        assert all(ring <= k for _, _, ring in offs)
        if k >= 1:
            assert sum(ring == k for _, _, ring in offs) == 6 * k


def test_neighbour_offsets_are_ring1():
    for dr, dq, _ in hexgrid.NEIGHBOUR_OFFSETS:
        assert (abs(dq) + abs(dr) + abs(dq + dr)) // 2 == 1
    assert len(hexgrid.NEIGHBOUR_OFFSETS) == 6


def test_lattice_covers_bbox(spark):
    lat = hexgrid.lattice(spark, 0, 0, 50, 50, hex_width=2.0).toPandas()
    # the reference range derivation: r in [floor(-50/step), 0]
    step = (P.hex_side(2.0) + P.hex_height(2.0)) / 2.0
    assert lat.r.min() == math.floor(-50 / step)
    assert lat.r.max() == math.ceil(0 / step)
    # all bbox corners are within one hex of some centroid
    assert len(lat) == lat[["q", "r"]].drop_duplicates().shape[0]


def test_axial_range_holds_assigned_points_and_sizes_lattice(spark):
    """hexgrid.axial_range on random bboxes, widths and reference points:
    every bbox point (corners and interior) lands, under the shared
    hex-assign SQL, in a cell inside the range, and the lattice over the
    bbox has one row per cell of the range."""
    rng = np.random.default_rng(10)
    con = duckdb.connect()
    for case in range(40):
        w = float(rng.uniform(0.5, 50.0))
        refx, refy = (float(v) for v in rng.uniform(-100.0, 100.0, 2))
        x0, y0 = (float(v) for v in rng.uniform(-500.0, 500.0, 2))
        x1, y1 = (float(v) for v in (x0, y0) + rng.uniform(0.0, 8 * w, 2))
        q_lo, q_hi, r_lo, r_hi = hexgrid.axial_range(x0, y0, x1, y1, w,
                                                     refx, refy)
        pts = [(x0, y0), (x0, y1), (x1, y0), (x1, y1)] + [
            (float(x), float(y)) for x, y in
            zip(rng.uniform(x0, x1, 200), rng.uniform(y0, y1, 200))]
        _duck_table(con, f"pts{case}", "x DOUBLE, y DOUBLE", pts)
        cells = con.execute(sqlgen.build_query(
            f"pts{case}", sqlgen.hex_layers("x", "y", w, refx, refy),
            select="q, r")).fetchall()
        assert len(cells) == len(pts)
        assert all(q_lo <= q <= q_hi and r_lo <= r <= r_hi
                   for q, r in cells), case
        if case < 4:
            lat = hexgrid.lattice(spark, x0, y0, x1, y1, w, refx, refy)
            assert lat.count() == (q_hi - q_lo + 1) * (r_hi - r_lo + 1)


def test_geocode_hotspot_share(spark):
    pdf = geocoded_pages(spark, 5000).toPandas()
    in_hot = 0
    for hx, hy in P.HOTSPOTS:
        m = ((pdf.lon - hx).abs() <= P.HOT_HALF) & ((pdf.lat - hy).abs() <= P.HOT_HALF)
        in_hot += int(m.sum())
    assert in_hot >= 0.18 * len(pdf)  # ~20% salted into hotspots


def test_text_byte_identity(spark):
    """north-rule invariant: text survives the pipeline byte-identical."""
    from pyspark.sql import functions as F
    from hexscape_spark.synth import pages
    a = pages(spark, 500).select("url", F.md5(F.encode("text", "UTF-8")).alias("h"))
    b = geocoded_pages(spark, 500).select(
        "url", F.md5(F.encode("text", "UTF-8")).alias("h2"))
    j = a.join(b, "url")
    assert j.count() == 500
    assert j.where("h != h2").count() == 0
