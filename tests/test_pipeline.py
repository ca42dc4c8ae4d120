"""extract_landcover lifecycle invariants (SURVEY §3.1,
R/extract_corine.R coverage-gap semantics)."""

import pytest
from pyspark.sql import functions as F

from hexscape_spark import geo
from hexscape_spark.pipeline import MISSING_CC, extract_landcover


@pytest.fixture(scope="module")
def landcover(spark):
    km = 1000.0
    rows = [
        (1, "211", geo.rect_wkb(0, 0, 10 * km, 8 * km)),
        (2, "211", geo.rect_wkb(12 * km, 0, 20 * km, 6 * km)),
        (3, "311", geo.rect_wkb(0, 10 * km, 15 * km, 20 * km)),
        (4, "512", geo.rect_wkb(16 * km, 10 * km, 20 * km, 14 * km)),
    ]
    return spark.createDataFrame([(i, c, bytearray(w)) for i, c, w in rows],
                                 "poly_id LONG, clc STRING, geom_wkb BINARY")


@pytest.fixture(scope="module")
def result(spark, landcover, tmp_path_factory):
    mask = geo.rect_wkb(0, 0, 20000.0, 20000.0)
    labels = spark.createDataFrame(
        [("211", "Arable land"), ("311", "Forest"), ("512", "Water")],
        "clc STRING, label STRING")
    return extract_landcover(
        spark, landcover, mask, clc_labels=labels,
        checkpoint_root=str(tmp_path_factory.mktemp("ckpt")))


def test_per_cell_areas_partition_mask(result):
    """Σ per-cell areas (incl. MISSING_CC) == mask area per cell exactly."""
    cells = result["cells"].toPandas()
    per_cell = cells.groupby("cell_id").agg(total=("area", "sum"),
                                            mask_a=("mask_area", "first"))
    assert (abs(per_cell.total - per_cell.mask_a) < 1e-6).all()


def test_missing_cc_total(result):
    """Coverage gap = mask − Σ layers = 400 − (80+48+150+16) = 106 km²."""
    cells = result["cells"].toPandas()
    gap = cells[cells.clc == MISSING_CC].area.sum() / 1e6
    assert gap == pytest.approx(400 - 294, abs=1e-6)


def test_dissolved_unions_and_labels(result):
    d = result["dissolved"].toPandas().set_index("clc")
    assert d.loc["211"].n_parts == 2
    assert d.loc["211"].area == pytest.approx((80 + 48) * 1e6)
    assert d.loc["311"].label == "Forest"
    # r3: the coverage gap is an actual GEOMETRY row now — st_difference
    # (mask, st_union(all codes)), R/extract_corine.R:177-205 — whose area
    # matches the relational per-cell gap total (400 − 294 km²)
    gap = d.loc[MISSING_CC]
    assert gap.area == pytest.approx((400 - 294) * 1e6, rel=1e-9)
    polys = geo.wkb_to_polygons(bytes(gap.geom_wkb))
    assert geo.polygons_area(polys) == pytest.approx(gap.area, rel=1e-9)


def test_dissolve_true_union_of_overlapping_inputs(spark):
    """st_union semantics: overlap counted once; touching squares merge
    into one part (VERDICT r01 'What's wrong' #3)."""
    from hexscape_spark.dissolve import dissolve
    rows = [
        # two overlapping 2x2 squares: union area 7, one part
        ("A", bytearray(geo.rect_wkb(0, 0, 2, 2))),
        ("A", bytearray(geo.rect_wkb(1, 1, 3, 3))),
        # touching squares merge to one part; disjoint third stays separate
        ("B", bytearray(geo.rect_wkb(0, 0, 1, 1))),
        ("B", bytearray(geo.rect_wkb(1, 0, 2, 1))),
        ("B", bytearray(geo.rect_wkb(5, 5, 6, 6))),
    ]
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    d = dissolve(df).toPandas().set_index("clc")
    assert d.loc["A"].area == pytest.approx(7.0)
    assert d.loc["A"].n_parts == 1
    assert d.loc["B"].area == pytest.approx(3.0)
    assert d.loc["B"].n_parts == 2


def test_regroup_landcover_levels_and_mapping(spark):
    """CLC regroup (R/load_corine.R:61-93): integer level -> digit prefix;
    mapping DataFrame -> re-key with unmapped passthrough; MISSING_CC rows
    untouched."""
    from hexscape_spark.pipeline import regroup_landcover, with_clc_labels
    rows = [("211",), ("212",), ("311",), (MISSING_CC,)]
    df = spark.createDataFrame(rows, "clc STRING")
    lvl = regroup_landcover(df, 2).toPandas().clc.tolist()
    assert lvl == ["21", "21", "31", MISSING_CC]
    mapping = spark.createDataFrame([("211", "agri"), ("311", "forest")],
                                    "clc STRING, clc_group STRING")
    mapped = regroup_landcover(df, mapping).toPandas().clc.tolist()
    assert mapped == ["agri", "212", "forest", MISSING_CC]
    legend = spark.createDataFrame(
        [("2", "L2"), ("21", "L21"), ("211", "L211")],
        "code STRING, label STRING")
    lab = with_clc_labels(df.where("clc = '211'"), legend).collect()[0]
    assert (lab.label1, lab.label2, lab.label3) == ("L2", "L21", "L211")


def test_planning_counts(result):
    plan = {r["clc"]: r["n_features"] for r in result["plan"].collect()}
    assert plan == {"211": 2, "311": 1, "512": 1}


def test_clc_filter_pushes_selection(spark, landcover):
    mask = geo.rect_wkb(0, 0, 20000.0, 20000.0)
    res = extract_landcover(spark, landcover, mask, clc_filter=["211"])
    cells = res["cells"].toPandas()
    assert set(cells.clc) == {"211", MISSING_CC}


def test_dissolve_crossing_and_true_boundary_geometry(spark):
    """ADVICE r02 crossing case + r2 gap closure: geom_wkb is now the TRUE
    dissolved boundary, so re-measuring it reproduces the union area and a
    hole in the union is a real hole in the geometry."""
    import numpy as np
    from hexscape_spark.dissolve import dissolve
    rows = [
        # plus-sign: crossing rects, no mutual vertex containment
        ("P", bytearray(geo.rect_wkb(-3, -1, 3, 1))),
        ("P", bytearray(geo.rect_wkb(-1, -3, 1, 3))),
        # ring of 4 rects -> union with a hole
        ("H", bytearray(geo.rect_wkb(0, 0, 3, 1))),
        ("H", bytearray(geo.rect_wkb(0, 2, 3, 3))),
        ("H", bytearray(geo.rect_wkb(0, 0, 1, 3))),
        ("H", bytearray(geo.rect_wkb(2, 0, 3, 3))),
    ]
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    d = dissolve(df).toPandas().set_index("clc")
    assert d.loc["P"].n_parts == 1
    assert d.loc["P"].area == pytest.approx(20.0)
    tp = geo.wkb_to_polygons(bytes(d.loc["P"].geom_wkb))
    assert geo.polygons_area(tp) == pytest.approx(20.0)
    hp = geo.wkb_to_polygons(bytes(d.loc["H"].geom_wkb))
    assert d.loc["H"].area == pytest.approx(8.0)
    assert geo.polygons_area(hp) == pytest.approx(8.0)
    assert not geo.points_in_polygons(np.array([1.5]), np.array([1.5]), hp)[0]
    assert geo.points_in_polygons(np.array([0.5]), np.array([0.5]), hp)[0]


def test_dissolve_two_level_hot_key(spark):
    """One hot key with thousands of features pre-unions per (key, salt)
    slice (level 1) before the final merge — and stays exact: a 40x40
    grid of touching unit squares plus an overlapping 5x5 block unions to
    the grid area (overlap counted once), in ONE part."""
    from hexscape_spark.dissolve import dissolve
    rows = [("G", bytearray(geo.rect_wkb(float(i), float(j),
                                         float(i + 1), float(j + 1))))
            for i in range(40) for j in range(40)]
    rows.append(("G", bytearray(geo.rect_wkb(10.0, 10.0, 15.0, 15.0))))
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    d = dissolve(df, num_salts=16).toPandas().set_index("clc")
    assert d.loc["G"].area == pytest.approx(1600.0)
    assert int(d.loc["G"].n_parts) == 1
    tp = geo.wkb_to_polygons(bytes(d.loc["G"].geom_wkb))
    assert geo.polygons_area(tp) == pytest.approx(1600.0)


def test_dissolve_adjacent_hex_patches(spark):
    """The extract_landcover input class: dissolving ADJACENT hex patches
    (bit-identical shared slanted edges) traces one clean union polygon
    whose area equals the patch-area sum — the st_union the reference runs
    per CLC code (R/extract_corine.R:156)."""
    from hexscape_spark.dissolve import dissolve
    from hexscape_spark.tiling import generate_patches
    land = geo.rect_wkb(0.0, 0.0, 14.0, 14.0)
    p = generate_patches(spark, land, hex_width=2.0,
                         reference_point=(0.0, 0.0), keep_geometry=True)
    pdfp = p.select("area", "geom_wkb").toPandas()
    rows = [("X", bytearray(bytes(w))) for w in pdfp.geom_wkb]
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    d = dissolve(df).toPandas().set_index("clc")
    assert d.loc["X"].area == pytest.approx(pdfp.area.sum(), rel=1e-9)
    assert int(d.loc["X"].n_parts) == 1
    polys = geo.wkb_to_polygons(bytes(d.loc["X"].geom_wkb))
    assert geo.polygons_area(polys) == pytest.approx(pdfp.area.sum(),
                                                     rel=1e-9)


def test_dissolve_component_parallel_merge_exact_and_deterministic(spark):
    """VERDICT r03 #4: a key routed through the COMPONENT-PARALLEL final
    merge (each union component traced in its own task) stays EXACT, its
    output bytes are independent of input row order / partitioning (the
    shuffle-arrival-order hazard the canonical ordering guards), and the
    bytes are IDENTICAL to the flat single-task merge path."""
    from pyspark.sql import functions as F

    from hexscape_spark.dissolve import dissolve

    rows = []
    # dispersed field: 200 disjoint unit squares, 3 apart (fills tiles)
    for i in range(200):
        x0 = float(3 * (i % 20))
        y0 = float(3 * (i // 20) + 40.0)
        rows.append(("T", bytearray(geo.rect_wkb(x0, y0, x0 + 1, y0 + 1))))
    # dense cluster: 1100 unit squares sliding 0.001 apart -> one spatial
    # tile holds >1024 features -> sub-split + tree rounds
    for i in range(1100):
        x0 = 10.0 + 0.001 * i
        rows.append(("T", bytearray(geo.rect_wkb(x0, 10.0, x0 + 1, 11.0))))
    exp_area = 200.0 + (1.0 + 1099 * 0.001)     # disjoint + sliding union
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    # tree_bytes=1 forces the log-round path regardless of partial size
    d = dissolve(df, tree_bytes=1).toPandas().set_index("clc").loc["T"]
    assert d.area == pytest.approx(exp_area, rel=1e-12)
    assert int(d.n_parts) == 201
    polys = geo.wkb_to_polygons(bytes(d.geom_wkb))
    assert geo.polygons_area(polys) == pytest.approx(exp_area, rel=1e-12)
    # byte determinism under a different input order and partitioning
    df2 = df.orderBy(F.xxhash64("geom_wkb")).repartition(3)
    d2 = dissolve(df2, tree_bytes=1).toPandas().set_index("clc").loc["T"]
    assert bytes(d2.geom_wkb) == bytes(d.geom_wkb)
    assert d2.area == d.area and d2.n_parts == d.n_parts
    # the flat path produces byte-identical output (same canonical order,
    # same per-component unions, same concat order)
    flat = dissolve(df).toPandas().set_index("clc").loc["T"]
    assert bytes(flat.geom_wkb) == bytes(d.geom_wkb)
    assert flat.area == d.area and int(flat.n_parts) == int(d.n_parts)


def test_dissolve_simplify_keep_reduces_boundary_only(spark):
    """simplify_keep thins the dissolved boundary's vertex count while
    area/n_parts keep their exact pre-simplification values (the
    reference's ms_simplify-after-st_union flow)."""
    import numpy as np
    from hexscape_spark.dissolve import dissolve
    rng = np.random.RandomState(4)
    rows = []
    for i in range(60):
        x0, y0 = rng.uniform(0, 30, 2)
        w, h = rng.uniform(2, 8, 2)
        rows.append(("S", bytearray(geo.rect_wkb(x0, y0, x0 + w, y0 + h))))
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    full = dissolve(df).toPandas().set_index("clc").loc["S"]
    simp = dissolve(df, simplify_keep=0.5).toPandas().set_index("clc").loc["S"]
    assert simp.area == full.area and simp.n_parts == full.n_parts
    nv = lambda w: sum(len(r) for p in geo.wkb_to_polygons(bytes(w))
                       for r in p)
    assert nv(simp.geom_wkb) < nv(full.geom_wkb)


def test_dissolve_per_key_routing_keeps_small_and_empty_keys(spark):
    """r4 review: the component-parallel merge routes PER KEY — one heavy
    key must not drag small keys through the 3-stage path, and keys whose
    geometry is entirely empty still emit their (key, empty, 0.0, 0) row;
    output is byte-identical to the all-flat run for every key."""
    from hexscape_spark.dissolve import dissolve

    rows = [("S", bytearray(geo.rect_wkb(100.0, 100.0, 101.0, 101.0))),
            ("E", bytearray(geo.multipolygon_to_wkb([])))]
    for i in range(120):
        x0 = 0.01 * i
        rows.append(("H", bytearray(geo.rect_wkb(x0, 0.0, x0 + 1.0, 1.0))))
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    d = dissolve(df, tree_bytes=1, spatial_salt=False).toPandas() \
        .set_index("clc").sort_index()
    assert list(d.index) == ["E", "H", "S"]
    assert d.loc["E", "area"] == 0.0 and d.loc["E", "n_parts"] == 0
    assert d.loc["S", "area"] == pytest.approx(1.0, rel=1e-12)
    assert d.loc["H", "area"] == pytest.approx(1.0 + 119 * 0.01, rel=1e-12)
    flat = dissolve(df, tree_bytes=1 << 40, spatial_salt=False).toPandas() \
        .set_index("clc").sort_index()
    for k in ("E", "H", "S"):
        assert bytes(flat.loc[k, "geom_wkb"]) == bytes(d.loc[k, "geom_wkb"]), k
        assert flat.loc[k, "area"] == d.loc[k, "area"], k
        assert flat.loc[k, "n_parts"] == d.loc[k, "n_parts"], k


def test_regroup_colours_average(spark):
    from hexscape_spark.pipeline import regroup_colours
    legend = spark.createDataFrame(
        [("211", "#FF0000"), ("212", "#000000"), ("311", "#0000FF")],
        "clc STRING, colour STRING")
    out = {r.clc: r.colour for r in regroup_colours(legend, 2).collect()}
    # mean(FF, 00) = 0x80 after rounding (127.5 -> 128)
    assert out["21"] == "#800000"
    assert out["31"] == "#0000FF"
