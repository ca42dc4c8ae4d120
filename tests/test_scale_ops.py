"""Scale-path operators must agree with their simple-path equivalents."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hexscape_spark import geo, params as P


def test_cover_join_matches_broadcast_clip(spark):
    """Polygon-side cell cover (J6 scale path) produces the same per-cell
    category areas as the broadcast clip path in tiling.generate_patches."""
    from hexscape_spark.cover import polygon_cell_cover
    from hexscape_spark.synth import land_use_square
    from hexscape_spark.tiling import generate_patches

    land = geo.rect_wkb(0, 0, 50, 50)
    layers = land_use_square(1.0)
    p = generate_patches(spark, land, hex_width=2.0, reference_point=(0, 0),
                         land_use=layers).toPandas()
    cats = [(i, c, w) for i, (c, k, w) in enumerate(layers) if k != "Impassable"]
    polys = spark.createDataFrame(
        [(i, c, bytearray(w)) for i, c, w in cats],
        "poly_id LONG, category STRING, geom_wkb BINARY")
    cover = polygon_cell_cover(polys, hex_width=2.0).toPandas()
    cover = cover.merge(
        __import__("pandas").DataFrame([(i, c) for i, c, _ in cats],
                                       columns=["poly_id", "category"]),
        on="poly_id")
    cov_area = cover.groupby(["q", "r", "category"]).cover_area.sum()
    for _, row in p.iterrows():
        for cat in ["Passable", "Low", "Medium", "High"]:
            want = row.lu_sum * row[f"LU_{cat}"] if row.lu_sum > 0 else 0.0
            got = cov_area.get((row.q, row.r, cat), 0.0)
            assert got == pytest.approx(want, abs=1e-9), (row.q, row.r, cat)


def test_full_cells_dominate_cover(spark):
    """R4-style fast path: most covered cells of a large rectangle are FULL
    (no clipping needed) — the constant path must be the majority."""
    from hexscape_spark.cover import polygon_cell_cover
    polys = spark.createDataFrame(
        [(1, bytearray(geo.rect_wkb(0, 0, 40, 40)))],
        "poly_id LONG, geom_wkb BINARY")
    cov = polygon_cell_cover(polys, hex_width=2.0).toPandas()
    assert cov.full.mean() > 0.7
    full = cov[cov.full]
    assert np.allclose(full.cover_area, P.hex_area(2.0))


def test_cover_null_and_empty_geometry_yield_no_cells(spark):
    """A NULL or empty polygon (MULTIPOLYGON EMPTY, POLYGON EMPTY, or a
    MULTIPOLYGON of POLYGON EMPTY) covers no cell and leaves the other
    rows' cover unchanged."""
    from hexscape_spark.cover import polygon_cell_cover
    schema = "poly_id LONG, geom_wkb BINARY"
    square = (1, bytearray(geo.rect_wkb(0, 0, 5, 5)))
    polys = spark.createDataFrame(
        [square, (2, None), (3, bytearray(geo.multipolygon_to_wkb([]))),
         (4, bytearray(geo.polygon_to_wkb([]))),
         (5, bytearray(geo.multipolygon_to_wkb([[]])))], schema)
    cov = polygon_cell_cover(polys, hex_width=2.0).toPandas()
    alone = polygon_cell_cover(spark.createDataFrame([square], schema),
                               hex_width=2.0).toPandas()
    assert set(cov.poly_id) == {1}
    key = ["q", "r"]
    assert cov.sort_values(key).reset_index(drop=True).equals(
        alone.sort_values(key).reset_index(drop=True))


def test_salted_agg_equals_plain_groupby(spark):
    """Both branches are compared: 5 heavy keys of 3,800 rows take the
    salted path, 50 light keys of 20 rows the unsalted one."""
    from hexscape_spark.skew import salted_agg
    df = spark.range(20000).select(
        F.when(F.col("id") < 19000, F.pmod(F.col("id"), F.lit(5)))
        .otherwise(5 + F.pmod(F.col("id"), F.lit(50))).alias("k"),
        F.col("id").alias("v"))
    got = salted_agg(df, key="k", sums=["v"], salt_col="v", buckets=8,
                     heavy_threshold=100) \
        .toPandas().sort_values("k").reset_index(drop=True)
    want = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                               F.sum("v").alias("sum_v")) \
        .toPandas().sort_values("k").reset_index(drop=True)
    assert (want.n >= 100).sum() == 5 and (want.n < 100).sum() == 50
    assert (got.k.values == want.k.values).all()
    assert (got.n.values == want.n.values).all()
    assert (got.sum_v.values == want.sum_v.values).all()


def test_streaming_drops_late_data(spark, tmp_path):
    """A second micro-batch with events older than the advanced watermark
    must not resurrect closed (hour_key, cell_id) windows of the streaming
    hourly per-cell rollup (late-data semantics)."""
    import pyspark.sql.functions as F2
    from hexscape_spark.streaming import (run_available_now, stream_events,
                                          streaming_events_hour_cell)
    from tests.conftest import SF_DIR
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    # batch 1: the whole table (~30 days of ts); every hour window but the
    # last two closes under the 1-hour watermark and is emitted
    events.write.parquet(src)
    run_available_now(streaming_events_hour_cell(stream_events(spark, src),
                                                 watermark="1 hour"),
                      ckpt, out)
    first = spark.read.parquet(out)
    n1 = first.count()
    # batch 2: re-append the OLDEST rows, weeks behind the watermark
    oldest = events.orderBy("ts", "event_id").limit(50)
    oldest.write.mode("append").parquet(src)
    late = streaming_events_hour_cell(oldest).select("hour_key", "cell_id")
    # not vacuous: every late row falls in a window batch 1 already emitted
    assert late.join(first, ["hour_key", "cell_id"], "left_anti").count() == 0
    run_available_now(streaming_events_hour_cell(stream_events(spark, src),
                                                 watermark="1 hour"),
                      ckpt, out)
    after = spark.read.parquet(out)
    dupes = (after.groupBy("hour_key", "cell_id")
             .agg(F2.count(F2.lit(1)).alias("c")).where("c > 1").count())
    assert dupes == 0
    assert after.count() == n1


def test_checkpoint_reuse_and_invalidation(spark, tmp_path):
    """R8: checkpoint reuses on identical params, recomputes on change."""
    from hexscape_spark.checkpoint import checkpoint, read_manifest
    root = str(tmp_path)
    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    out1 = checkpoint(df, root, "stage1", params={"n": 1000})
    m1 = read_manifest(root, "stage1")
    assert m1["rows"] == 1000
    assert sum(m1["partitions"].values()) == 1000
    # reuse: same params -> same manifest (not rewritten)
    _ = checkpoint(df, root, "stage1", params={"n": 1000})
    m2 = read_manifest(root, "stage1")
    assert m2["written_at"] == m1["written_at"]
    # invalidate: new params -> recompute
    df2 = spark.range(500)
    _ = checkpoint(df2, root, "stage1", params={"n": 500})
    m3 = read_manifest(root, "stage1")
    assert m3["rows"] == 500
    assert m3["fingerprint"] != m1["fingerprint"]


def test_checkpoint_recovers_from_half_deleted_data(spark, tmp_path):
    """A manifest whose data directory was (partially) wiped must fall
    through to recompute, not fail late or read stale rows (ADVICE r01)."""
    import shutil
    from hexscape_spark.checkpoint import checkpoint, read_manifest
    root = str(tmp_path)
    df = spark.range(100)
    _ = checkpoint(df, root, "stage", params={"n": 100})
    shutil.rmtree(str(tmp_path / "stage" / "data"))
    out = checkpoint(df, root, "stage", params={"n": 100})
    assert out.count() == 100
    assert read_manifest(root, "stage")["rows"] == 100


def test_pip_join_matches_bruteforce(spark):
    """Exact PIP join (cover prefilter + refine) == brute-force PIP."""
    from hexscape_spark.cover import pip_join, polygon_cell_cover
    from tests.helpers import geocoded_pages

    pts = geocoded_pages(spark, 3000).select("page_id", "lon", "lat",
                                             "q", "r", "cell_id")
    # one mid-sized polygon over the world bbox (metres): a 9x7 km L-shape
    wkb = geo.multipolygon_to_wkb([
        [geo.rect_ring(8000, 8000, 17000, 12000)],
        [geo.rect_ring(8000, 12000, 12000, 15000)],
    ])
    polys = spark.createDataFrame([(1, bytearray(wkb))],
                                  "poly_id LONG, geom_wkb BINARY")
    cover = polygon_cell_cover(polys)
    got = pip_join(pts, cover, polys).select("page_id").toPandas()
    pdf = pts.toPandas()
    polys_np = geo.wkb_to_polygons(wkb)
    want = pdf[geo.points_in_polygons(pdf.lon.to_numpy(),
                                      pdf.lat.to_numpy(), polys_np)]
    assert set(got.page_id) == set(want.page_id)
    assert len(got) == len(want)


def test_pip_join_never_collects_geometry():
    """Scale contract: the polygon layer reaches the refine UDF through the
    join, never via a driver-side collect (VERDICT r01 'What's wrong' #2)."""
    import inspect

    from hexscape_spark import cover as cover_mod
    src = inspect.getsource(cover_mod.pip_join)
    assert ".collect()" not in src and ".toPandas()" not in src


def test_weighted_sample_deterministic_and_biased(spark):
    """W7 Gumbel-trick weighted sampling: deterministic under re-run and
    empirically biased toward heavy weights."""
    from hexscape_spark.rollup import weighted_sample_per_group
    rows = [(g, i, 100.0 if i == 0 else 1.0, f"k{g}_{i}")
            for g in range(200) for i in range(5)]
    df = spark.createDataFrame(rows, "grp INT, item INT, w DOUBLE, key STRING")
    a = weighted_sample_per_group(df, "grp", "w", "key").toPandas() \
        .sort_values("grp").reset_index(drop=True)
    b = weighted_sample_per_group(df, "grp", "w", "key").toPandas() \
        .sort_values("grp").reset_index(drop=True)
    assert (a.item.values == b.item.values).all()
    # item 0 has weight 100 vs 1: should win the large majority of groups
    assert (a.item == 0).mean() > 0.8


def test_ivf_recall_and_exactness(spark):
    """IVF ANN: probing all lists is exact; partial probing keeps usable
    recall vs the brute-force baseline."""
    from hexscape_spark.similarity import cosine_topk_ivf
    from tests.helpers import cosine_topk_bruteforce
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 20")
    bf = cosine_topk_bruteforce(emb, q, k=5).toPandas()
    full = cosine_topk_ivf(emb, queries=emb, n_lists=8, nprobe=8).toPandas()
    full = full[full.query_id < 20]
    m = bf.merge(full, on=["query_id", "nn_id"], suffixes=("", "_ivf"))
    assert len(m) == len(bf), "nprobe == n_lists must equal brute force"
    part = cosine_topk_ivf(emb, queries=emb, n_lists=8, nprobe=3).toPandas()
    part = part[part.query_id < 20]
    m2 = bf.merge(part, on=["query_id", "nn_id"], suffixes=("", "_ivf"))
    assert len(m2) / len(bf) >= 0.5


def test_lsh_or_construction_recall(spark):
    """Multi-table cosine LSH (OR-construction) recovers >= 0.9 of planted
    nearest neighbours at fixed parameters (VERDICT r01 #6): a single
    AND-bucket at the same planes count misses most of them."""
    import numpy as np
    from hexscape_spark.similarity import cosine_topk_lsh
    rng = np.random.RandomState(7)
    base = rng.normal(size=(100, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noisy = base + rng.normal(scale=0.02, size=base.shape)
    rows = [(i, b.tolist()) for i, b in enumerate(base)] + \
           [(1000 + i, n.tolist()) for i, n in enumerate(noisy)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    top = cosine_topk_lsh(df, planes=8).toPandas()
    q = top[(top.query_id >= 1000) & (top["rank"] == 1)]
    hits = (q.nn_id == q.query_id - 1000).sum()
    assert hits / 100 >= 0.9, hits


def test_lsh_small_corpus_row_bound(spark, monkeypatch):
    """Gather scoring collects the corpus to the driver: a corpus at the
    row bound builds, one row over it fails with ValueError."""
    from hexscape_spark import similarity
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    kw = dict(planes=4)
    monkeypatch.setattr(similarity, "SMALL_CORPUS_MAX_ROWS", 40)
    assert similarity.cosine_topk_lsh(df, **kw).count() > 0
    monkeypatch.setattr(similarity, "SMALL_CORPUS_MAX_ROWS", 39)
    with pytest.raises(ValueError, match="more than 39 rows"):
        similarity.cosine_topk_lsh(df, **kw)


def test_lsh_rejects_duplicate_keys(spark):
    """Gather scoring looks each id up once in the collected matrix, so a
    repeated key would score against one of its vectors at random: it
    fails with ValueError instead."""
    from hexscape_spark.similarity import cosine_topk_lsh
    rows = [(i, [1.0, float(i), 0.5, -1.0] + [0.0] * 60)
            for i in range(10)] + [(3, [0.0, 1.0] + [0.0] * 62)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="vec_id 3 repeats"):
        cosine_topk_lsh(df, planes=4)


def test_minhash_bucket_cap_drops_degenerate_buckets(spark):
    """Same cap on the MinHash banding path: thousands of identical docs
    (an exact-dup cluster) never reach the pair join."""
    from hexscape_spark.dedup import minhash_lsh_pairs
    rows = [(i, "same boilerplate text repeated verbatim") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    assert minhash_lsh_pairs(df, num_hashes=16, bands=4,
                             max_bucket=500).count() == 0


def _leak_case(name, spark):
    """Build (not run) one operator whose working caches must not outlive
    it: generate_patches with and without the removed-area collect,
    dedup_lines on a fresh frame, and the streaming rollup query."""
    from hexscape_spark.dedup import dedup_lines
    from hexscape_spark.synth import land_use_square
    from hexscape_spark.tiling import generate_patches
    if name == "generate_patches":
        return generate_patches(spark, geo.rect_wkb(0.0, 0.0, 20.0, 20.0),
                                hex_width=5.0, reference_point=(0.0, 20.0))
    if name == "generate_patches_add_removed":
        return generate_patches(spark, geo.rect_wkb(0, 0, 50, 50),
                                hex_width=2.0, reference_point=(0, 0),
                                land_use=land_use_square(1.0),
                                add_removed=True)
    if name == "dedup_lines":
        return dedup_lines(spark.createDataFrame(
            [(i, f"doc {i}\nshared footer line") for i in range(50)],
            "doc_id LONG, text STRING"))
    import __spark_entry__ as m
    from tests.conftest import SF_DIR
    return m.queries()["streaming_cell_rollup"](spark, SF_DIR)


@pytest.mark.parametrize("name", ["generate_patches",
                                  "generate_patches_add_removed",
                                  "dedup_lines", "streaming_cell_rollup"])
def test_operator_leaves_no_pinned_rdds(spark, name):
    """Operators release their working caches (VERDICT r01 #6): no
    persisted RDDs remain after the output materialises."""
    def pinned():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        # localCheckpoint RDDs are GC-managed, not user persists; only
        # cacheManager entries (persist without unpersist) count as leaks
        return {int(k) for k in jmap.keySet().toArray()
                if "localcheckpoint" not in jmap[k].toString().lower()}

    before = pinned()
    assert _leak_case(name, spark).count() > 0
    leaked = pinned() - before
    assert not leaked, leaked


def test_csv_dimension_roundtrip(spark, tmp_path):
    """S5/S8: CSV dimension load -> broadcast join, and CSV export."""
    import pyspark.sql.functions as F2
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", True).csv(path)
    dim = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert dim.count() == nation.count()
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    joined = cust.join(F2.broadcast(dim), cust.c_nationkey == dim.n_nationkey)
    assert joined.count() == cust.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_variants_find_planted_near_dups(spark):
    """Plant near-duplicates; MinHash-LSH + exact Jaccard must find them."""
    from hexscape_spark.dedup import ngram_jaccard_pairs
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the spark engine shuffles rows across many partitions")
    rows = []
    for i in range(50):
        rows.append((i, f"document number {i} " + base[: 40 + i] +
                     f" unique tail {i * 7919}"))
    rows.append((100, base))
    rows.append((101, base + " tiny"))          # near-dup of 100
    rows.append((102, "completely different content about hexagons and maps"))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = ngram_jaccard_pairs(df)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (100, 101) in got
    assert all(a != 102 and b != 102 for a, b in got)


def test_ngram_jaccard_empty_short_and_null_text(spark):
    """Empty text and documents shorter than SHINGLE_K words are one shingle
    each (the whole lower-cased text), a leading blank is an empty first
    word, and NULL text pairs with nothing.  The non-NULL rows are the
    ones the string-set verify gave; NULL text used to crash the
    signature UDF."""
    from hexscape_spark.dedup import ngram_jaccard_pairs
    rows = [(1, "the quick brown fox jumps over"),
            (2, "the quick brown fox jumps over the"),
            (3, ""), (4, ""), (5, "hi there"), (6, "Hi  THERE"), (7, "x"),
            (8, "  the quick brown fox jumps over"), (9, None), (10, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = sorted(tuple(r) for r in
                 ngram_jaccard_pairs(df).collect())
    assert got == [(1, 2, 0.8), (1, 8, 0.8), (2, 8, 0.666667),
                   (3, 4, 1.0), (5, 6, 1.0)]


def test_cli_dedup_job_finds_planted_pair_and_caps_cluster(spark, tmp_path):
    """The CLI dedup job (called directly: main() would stop the shared
    session) writes the planted near-dup pair, and its --max-bucket cap
    keeps an exact-dup cluster out of the pair join."""
    import argparse

    from hexscape_spark import cli
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the spark engine shuffles rows across many partitions")
    rows = [(i, f"document number {i} " + base[: 40 + i] +
             f" unique tail {i * 7919}") for i in range(50)]
    rows += [(100, base), (101, base + " tiny"),
             (102, "completely different content about hexagons and maps")]
    rows += [(i, "same boilerplate text repeated verbatim")
             for i in range(10_000, 12_000)]
    pages = str(tmp_path / "pages")
    spark.createDataFrame(rows, "doc_id LONG, text STRING") \
        .write.parquet(pages)

    def run(max_bucket):
        out = str(tmp_path / f"pairs_{max_bucket}")
        cli.job_dedup(spark, argparse.Namespace(
            pages=pages, out=out, num_hashes=32, bands=8,
            max_bucket=max_bucket))
        return spark.read.parquet(out)

    in_cluster = F.col("a") >= 10_000            # then b > a is too
    uncapped = run(10_000)
    assert uncapped.where((F.col("a") == 100) & (F.col("b") == 101)).count() == 1
    assert uncapped.where(in_cluster).count() == 2000 * 1999 // 2
    assert run(500).where(in_cluster).count() == 0


def test_cli_webtext_substr_dedup_with_repeated_url(spark, tmp_path,
                                                    monkeypatch):
    """`run --job webtext --substr-dedup N` through cli.main on a WARC in
    which one url was fetched twice with different texts: both fetches
    survive, the span they share keeps exactly one full copy, and the
    output schema carries no internal key.  main() builds and stops its
    own session, so both are pointed at the shared test session."""
    from hexscape_spark import cli, session
    from tests.helpers import write_warc_gz
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    shared = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima")
    # the span sits at different token positions in the two fetches
    texts = [("https://ex.org/a", f"{shared} under a bright moon"),
             ("https://ex.org/a", "seven green owls watched while the quick "
              "red fox ran past an old mill near some quiet water and then "
              f"{shared}"),
             ("https://ex.org/b", "an unrelated page about hexagons maps "
              "and many other quiet things")]
    write_warc_gz([{"record_type": "response", "url": url,
                    "warc_date": "2026-02-01T00:00:00Z",
                    "content_type": "text/html",
                    "payload": f"<html><body><p>{t}</p></body></html>".encode()}
                   for url, t in texts], str(tmp_path / "s0.warc.gz"))
    out = str(tmp_path / "out")
    cli.main(["run", "--job", "webtext", "--substr-dedup", "5",
              "--pages", str(tmp_path / "*.warc.gz"), "--out", out])
    got = spark.read.parquet(out)
    assert "__doc_key" not in got.columns
    rows = got.select("doc_id", "text").collect()
    assert sorted(r.doc_id for r in rows) == \
        ["https://ex.org/a", "https://ex.org/a", "https://ex.org/b"]
    assert sum(shared in r.text for r in rows) == 1
    assert all("hotel" not in r.text for r in rows if shared not in r.text)


def test_nearest_features_ranks_by_polygon_not_centroid(spark):
    """J8 geometry refinement (VERDICT r02 Missing #3): the patch whose
    GEOMETRY is nearest wins even though its CENTROID is farther than the
    competitor's — matching st_nearest_feature on clipped boundary
    patches — and the surfaced distance equals the brute-force
    point-to-polygon value."""
    import numpy as np
    from hexscape_spark import geo
    from hexscape_spark.knn import nearest_features

    # w=2, ref (0,0): cell (0,0) spans x in [-1,1], cell (1,0) centre 2.0.
    # Patch A: long thin rect reaching x=0.98 (centroid x ~0.49).
    # Patch B: blob at x in [1.3,1.7] (centroid x = 1.5).
    # Point at (1.1, 0): geometry distances dA=0.12 < dB=0.2, but centroid
    # distances 0.61 > 0.4 — centroid ranking would pick B.
    a_wkb = geo.polygon_to_wkb([geo.rect_ring(0.0, -0.4, 0.98, 0.4)])
    b_wkb = geo.polygon_to_wkb([geo.rect_ring(1.3, -0.4, 1.7, 0.4)])
    patches = spark.createDataFrame(
        [(1, 0, 0, bytearray(a_wkb)), (2, 1, 0, bytearray(b_wkb))],
        "Index LONG, q LONG, r LONG, geom_wkb BINARY")
    points = spark.createDataFrame([(7, 1.1, 0.0, 0, 0)],
                                   "point_id LONG, lon DOUBLE, lat DOUBLE, "
                                   "q LONG, r LONG")
    pt = (np.array([1.1]), np.array([0.0]))
    d_a = geo.dist_points_to_polygons(*pt, geo.wkb_to_polygons(a_wkb))[0]
    d_b = geo.dist_points_to_polygons(*pt, geo.wkb_to_polygons(b_wkb))[0]
    ca = geo.polygons_centroid(geo.wkb_to_polygons(a_wkb))
    cb = geo.polygons_centroid(geo.wkb_to_polygons(b_wkb))
    assert d_a < d_b                                   # geometry says A
    assert np.hypot(1.1 - ca[0], ca[1]) > np.hypot(1.1 - cb[0], cb[1])  # centroid says B
    got = nearest_features(points, patches, k_ring=2).toPandas()
    assert got.nn_index.iloc[0] == 1
    assert got.dist.iloc[0] == pytest.approx(d_a)


def test_connected_components_matches_unionfind(spark):
    """graph.connected_components == classic union-find on a random sparse
    graph with isolated vertices (the generic CC all dedup clustering and
    grid_components now ride on)."""
    import numpy as np
    from hexscape_spark.graph import connected_components
    rng = np.random.RandomState(13)
    n = 120
    edges = [(int(rng.randint(n)), int(rng.randint(n))) for _ in range(90)]
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    ndf = spark.range(n).selectExpr("id AS node")
    got = {r.node: r.comp
           for r in connected_components(edf, nodes=ndf).collect()}
    assert set(got) == set(range(n))            # isolated nodes included
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    want_groups, got_groups = {}, {}
    for v in range(n):
        want_groups.setdefault(find(v), set()).add(v)
        got_groups.setdefault(got[v], set()).add(v)
    assert sorted(map(sorted, want_groups.values())) == \
        sorted(map(sorted, got_groups.values()))
    # comp label = component minimum (canonical-representative contract)
    for c, members in got_groups.items():
        assert c == min(members)


def test_connected_components_raises_on_round_exhaustion(spark):
    """Exhausting max_rounds without convergence raises instead of
    returning partially-merged labels (r4 ADVICE: a silent partial
    labelling is worse than an error).  local_cap=0 forces the
    distributed loop (the bounded driver path needs no rounds)."""
    import pytest
    from hexscape_spark.graph import connected_components
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "src LONG, dst LONG")
    nodes = spark.range(31).selectExpr("id AS node")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_rounds=1, local_cap=0)


def test_connected_components_regimes_agree(spark):
    """The bounded driver union-find and the distributed label-
    propagation loop produce the identical min-node-id labelling on a
    random sparse graph with isolated vertices."""
    import numpy as np
    from hexscape_spark.graph import connected_components
    rng = np.random.RandomState(31)
    edges = [(int(x), int(y)) for x, y in rng.randint(0, 80, (60, 2))]
    edf = spark.createDataFrame(edges, "src LONG, dst LONG")
    ndf = spark.range(80).selectExpr("id AS node")
    loc = sorted((r.node, r.comp) for r in
                 connected_components(edf, nodes=ndf).collect())
    dist = sorted((r.node, r.comp) for r in
                  connected_components(edf, nodes=ndf,
                                       local_cap=0).collect())
    assert loc == dist


def test_repetition_signals_known_values(spark):
    """Gopher repetition signals computed on hand-checkable documents."""
    from hexscape_spark.textops import (with_quality_filter,
                                        with_repetition_signals)
    docs = spark.createDataFrame(
        [(0, "alpha\nbravo\ncharlie\ndelta\necho\nfox"),  # all distinct
         (1, "x\nx\nx\ny"),                       # 2 dup lines of 4
         (2, "spam spam spam spam ham"),          # top word 4/5
         (3, "one two one two one two"),          # 2-grams repeat
         (4, "alpha beta\n\ngamma delta\n\nepsilon zeta\n")],  # blank seps
        "doc_id LONG, text STRING")
    got = with_repetition_signals(docs).toPandas().set_index("doc_id")
    assert got.loc[0, "dup_line_frac"] == 0.0
    assert got.loc[0, "top_word_frac"] == pytest.approx(1 / 6)
    assert got.loc[1, "dup_line_frac"] == pytest.approx(2 / 4)
    # doc1: chars in lines = 4, distinct = 2 -> dup chars 2/4
    assert got.loc[1, "dup_line_char_frac"] == pytest.approx(2 / 4)
    assert got.loc[2, "top_word_frac"] == pytest.approx(4 / 5)
    # doc3 grams: [one two, two one, one two, two one, one two] ->
    # 5 grams, 2 distinct -> dup fraction 3/5
    assert got.loc[3, "dup_2gram_frac"] == pytest.approx(3 / 5)
    # blank paragraph separators are formatting, not repetition (r4
    # review: they previously counted as duplicate lines)
    assert got.loc[4, "dup_line_frac"] == 0.0
    kept = with_quality_filter(docs).toPandas()
    assert sorted(kept.doc_id) == [0, 4]          # only the clean docs
    # real corpus: signals finite, filter keeps a majority
    corpus = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
    sig = with_repetition_signals(corpus).toPandas()
    for c in ("dup_line_frac", "dup_line_char_frac", "top_word_frac",
              "dup_2gram_frac"):
        assert ((sig[c] >= 0) & (sig[c] <= 1)).all(), c


def test_warc_ingest_roundtrip(spark, tmp_path):
    """WARC source format: deterministic member-per-record .warc.gz
    segments parse back byte-exactly through the binaryFile + mapInPandas
    reader, record-type prefilter applied; malformed streams raise
    ValueError."""
    from hexscape_spark.warc import parse_warc_records, read_warc
    from tests.helpers import write_warc_gz
    segs = []
    for s in range(3):
        recs = []
        for i in range(40):
            body = (f"<html>seg{s} doc{i} " + "x" * (i * 7 % 90) +
                    "</html>").encode()
            recs.append({
                "record_type": "response" if i % 3 else "request",
                "url": f"https://example.org/s{s}/d{i}",
                "warc_date": f"2026-01-{(i % 27) + 1:02d}T00:00:00Z",
                "content_type": "text/html",
                "payload": body,
            })
        p = str(tmp_path / f"seg{s}.warc.gz")
        write_warc_gz(recs, p)
        segs.append(recs)
    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    got = df.toPandas().sort_values(["segment", "url"]).reset_index(drop=True)
    want_n = sum(1 for recs in segs for r in recs
                 if r["record_type"] == "response")
    assert len(got) == want_n
    assert (got.record_type == "response").all()
    by_url = got.set_index("url")
    for s, recs in enumerate(segs):
        for r in recs:
            if r["record_type"] != "response":
                assert r["url"] not in by_url.index
                continue
            row = by_url.loc[r["url"]]
            assert bytes(row.payload) == r["payload"]
            assert row.warc_date == r["warc_date"]
    # malformed: truncated gzip and bad header both raise
    with pytest.raises(ValueError):
        list(parse_warc_records(b"\x1f\x8b\x08\x00bad"))
    import gzip as _gz
    with pytest.raises(ValueError):
        list(parse_warc_records(_gz.compress(b"NOPE/1.0\r\n\r\n")))


def test_web_pipeline_warc_to_text_end_to_end(spark, tmp_path):
    """The full CommonCrawl-shaped chain: .warc.gz segments -> response
    records -> HTML text extraction -> token/quality/language/dedup
    stages, with planted duplicates deduplicating across segments."""
    from pyspark.sql import functions as F2

    from hexscape_spark.dedup import dedup_keep_first
    from hexscape_spark.textops import (with_html_text, with_lang_guess,
                                        with_token_count)
    from tests.helpers import write_warc_gz

    def page(i):
        # ids 0/10 and 5/15 are exact duplicate CONTENT on different urls
        j = i % 10
        return (f"<html><head><title>t{j}</title><style>x{{}}</style></head>"
                f"<body><h1>Doc {j}</h1><p>the quick and lazy page {j} of "
                f"words</p><script>var j={i};</script></body></html>")

    for s in range(2):
        recs = [{"record_type": "response",
                 "url": f"https://ex.org/s{s}/p{i}",
                 "warc_date": "2026-02-01T00:00:00Z",
                 "content_type": "text/html",
                 "payload": page(s * 10 + i).encode()} for i in range(10)]
        write_warc_gz(recs, str(tmp_path / f"s{s}.warc.gz"))

    from hexscape_spark.warc import read_warc
    docs = read_warc(spark, str(tmp_path / "*.warc.gz")) \
        .withColumn("html", F2.decode("payload", "UTF-8"))
    txt = with_html_text(docs, "html")
    got = txt.select("url", "text").toPandas().set_index("url")
    t0 = got.loc["https://ex.org/s0/p3", "text"]
    assert "Doc 3" in t0 and "quick and lazy page 3" in t0
    assert "var j=" not in t0 and "x{}" not in t0    # script/style dropped
    assert "t3" in t0                                # title text kept
    enriched = with_lang_guess(with_token_count(txt))
    e = enriched.select("url", "n_tokens", "lang_guess").toPandas()
    assert (e.lang_guess == "en").all()              # 'the'/'and' markers
    assert (e.n_tokens >= 8).all()
    # exact dedup collapses the 20 urls to 10 distinct contents
    kept = dedup_keep_first(txt.select(F2.col("url").alias("doc_id"),
                                       "text"), key="doc_id")
    assert kept.count() == 10


def test_bfs_distributed_path_matches_local(spark):
    """bfs_hops' two regimes agree exactly: forcing local_edge_cap=0
    routes the same graph through the iterative distributed loop, which
    must produce the identical (node, hops) set as the bounded driver
    BFS — including unreachable nodes (absent) and max_hops truncation."""
    import numpy as np
    from pyspark.sql import functions as F2

    from hexscape_spark.graph import bfs_hops
    rng = np.random.RandomState(9)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 60, (140, 2))]
    edf = spark.createDataFrame(edges, "Index LONG, Neighbour LONG")
    # symmetric adjacency like the patches graph
    edf = edf.unionByName(edf.select(F2.col("Neighbour").alias("Index"),
                                     F2.col("Index").alias("Neighbour")))
    src = spark.createDataFrame([(0,), (17,)], "Index LONG")
    a = sorted((r.node, r.hops) for r in bfs_hops(edf, src).collect())
    b = sorted((r.node, r.hops) for r in
               bfs_hops(edf, src, local_edge_cap=0).collect())
    assert a == b
    c = sorted((r.node, r.hops) for r in
               bfs_hops(edf, src, max_hops=2).collect())
    d = sorted((r.node, r.hops) for r in
               bfs_hops(edf, src, max_hops=2, local_edge_cap=0).collect())
    assert c == d and max(h for _, h in c) <= 2


def test_warc_oversized_segment_guard(spark, tmp_path):
    """read_warc fails fast with a clear error on a segment beyond the
    per-task byte bound (r4 VERDICT #8) instead of OOMing mid-parse."""
    from hexscape_spark.warc import read_warc
    from tests.helpers import write_warc_gz
    p = str(tmp_path / "big.warc.gz")
    write_warc_gz([{"record_type": "response", "url": "https://x.org/1",
                    "warc_date": "2026-01-01T00:00:00Z",
                    "content_type": "text/html",
                    "payload": b"<html>tiny</html>"}], p)
    with pytest.raises(Exception, match="per-task|over the"):
        read_warc(spark, p, max_segment_bytes=10).count()
    # and the same file parses fine under the default bound
    assert read_warc(spark, p).count() == 1


def test_dedup_lines_first_occurrence_and_formatting(spark):
    """Corpus-wide line dedup: boilerplate lines survive only at their
    first (min key, min index) occurrence — including repeats inside one
    document — while blank separator lines and unique content pass
    through with order preserved."""
    from hexscape_spark.dedup import dedup_lines
    docs = [
        (1, "Cookie notice\nUnique alpha\n\nCookie notice\nFooter menu"),
        (2, "Cookie notice\nUnique beta\n\nFooter menu"),
        (3, "Unique gamma\n\nFooter menu\nCookie notice"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = dedup_lines(df).toPandas().set_index("doc_id")
    # doc 1 keeps the FIRST Cookie notice + Footer menu, loses the
    # in-document repeat; the blank separator stays
    assert got.loc[1, "text_line_deduped"] == \
        "Cookie notice\nUnique alpha\n\nFooter menu"
    # later docs lose both boilerplate lines, keep blanks + unique
    assert got.loc[2, "text_line_deduped"] == "Unique beta\n"
    assert got.loc[3, "text_line_deduped"] == "Unique gamma\n"
    # deterministic under partitioning
    got2 = dedup_lines(df.repartition(3)).toPandas().set_index("doc_id")
    assert (got2["text_line_deduped"].sort_index() ==
            got["text_line_deduped"].sort_index()).all()
    # sep is a LITERAL separator, not a regex: '.' must split on the
    # period character, never on every character (r5 review)
    dotted = spark.createDataFrame(
        [(1, "alpha.beta.alpha"), (2, "beta.gamma")],
        "doc_id LONG, text STRING")
    dd = dedup_lines(dotted, sep=".").toPandas().set_index("doc_id")
    assert dd.loc[1, "text_line_deduped"] == "alpha.beta"
    assert dd.loc[2, "text_line_deduped"] == "gamma"


def test_contamination_flags_ngram_overlap(spark):
    """Decontamination: documents sharing a 13-word n-gram with the
    benchmark flag with the right distinct-gram count; clean documents
    and sub-n near-misses stay clean; short benchmark rows flag only on
    exact whole-text matches."""
    from hexscape_spark.dedup import contamination_flags
    span = " ".join(f"w{i}" for i in range(13))          # 13-word span
    docs = [
        (0, "intro text " + span + " trailing words here"),
        (1, "totally unrelated content about hexagons and spark plans"),
        (2, " ".join(f"w{i}" for i in range(12)) + " different tail"),
        (3, "short quiz answer"),
    ]
    bench = [(0, "question preamble " + span + " answer choices"),
             (1, "short quiz answer")]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    bdf = spark.createDataFrame(bench, "bench_id LONG, text STRING")
    got = contamination_flags(df, bdf).toPandas().set_index("doc_id")
    assert bool(got.loc[0, "is_contaminated"])
    assert got.loc[0, "contaminated_ngrams"] == 1
    assert not bool(got.loc[1, "is_contaminated"])
    assert not bool(got.loc[2, "is_contaminated"])       # only 12 shared
    assert bool(got.loc[3, "is_contaminated"])           # exact short hit
    # NULL-key rows come back with NULL flags (unknown), never a silent
    # clean verdict
    dfn = spark.createDataFrame(docs + [(None, "short quiz answer")],
                                "doc_id LONG, text STRING")
    gn = contamination_flags(dfn, bdf).toPandas()
    nrow = gn[gn.doc_id.isna()]
    assert len(nrow) == 1
    assert nrow.contaminated_ngrams.isna().all()
    assert nrow.is_contaminated.isna().all()


def test_dedup_lines_randomized_serial_parity(spark):
    """dedup_lines == a serial first-occurrence reference on a randomized
    100-doc corpus drawn from a small line pool (heavy duplication, empty
    lines, repeated lines within documents, empty documents)."""
    import random

    from hexscape_spark.dedup import dedup_lines
    rng = random.Random(21)
    pool = [f"line {i} content" for i in range(30)] + ["", "   "]
    docs = []
    for d in range(100):
        k = rng.randint(0, 6)
        docs.append((d, "\n".join(rng.choice(pool) for _ in range(k))))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = dedup_lines(df.repartition(5)).toPandas() \
        .set_index("doc_id")["text_line_deduped"]

    seen = set()
    for d, t in docs:
        kept = []
        for ln in t.split("\n"):
            if len(ln.strip()) < 1:
                kept.append(ln)
            elif ln not in seen:
                seen.add(ln)
                kept.append(ln)
        assert got[d] == "\n".join(kept), d
    # the 100-TB hash_shuffle mode (8-byte winner-shuffle keys) produces
    # identical output on collision-free input
    goth = dedup_lines(df.repartition(5), hash_shuffle=True).toPandas() \
        .set_index("doc_id")["text_line_deduped"]
    assert (goth.sort_index() == got.sort_index()).all()
    # NULL-key rows pass through untouched and never win a line (a NULL
    # key would otherwise sort first in the MIN(struct) winner)
    withnull = docs + [(None, "line 0 content\nonly null line")]
    dfn = spark.createDataFrame(withnull, "doc_id LONG, text STRING")
    gotn = dedup_lines(dfn).toPandas()
    nrow = gotn[gotn.doc_id.isna()]
    assert len(nrow) == 1
    assert nrow.text_line_deduped.iloc[0] == \
        "line 0 content\nonly null line"              # untouched
    keyed = gotn[gotn.doc_id.notna()].set_index("doc_id")
    keyed.index = keyed.index.astype("int64")
    assert (keyed["text_line_deduped"].sort_index() ==
            got.sort_index()).all()                   # unaffected


def test_dedup_lines_null_text_preserved(spark):
    """ADVICE r05: a non-NULL-key row whose TEXT is NULL keeps NULL text
    (split(NULL) explodes no lines, so the doc misses the reassembly
    join — the r5 code rewrote that to '').  NULL-key rows still pass
    through untouched, and a genuinely emptied doc still becomes ''."""
    import pandas as pd

    from hexscape_spark.dedup import dedup_lines
    df = spark.createDataFrame(
        [(1, "keep me\nshared"), (2, None), (3, "shared"), (None, None)],
        "doc_id LONG, text STRING")
    got = dedup_lines(df).toPandas()
    by_id = got.set_index("doc_id", drop=False)
    assert by_id.loc[1, "text_line_deduped"] == "keep me\nshared"
    assert pd.isna(by_id.loc[2, "text_line_deduped"])     # NULL stays NULL
    assert by_id.loc[3, "text_line_deduped"] == ""        # emptied, not NULL
    nk = got[got.doc_id.isna()]
    assert len(nk) == 1 and nk.text_line_deduped.isna().all()


def test_bfs_null_edges_regimes_agree(spark):
    """ADVICE r05: NULL edge endpoints and NULL sources behave the same
    in both bfs_hops regimes — NULL never matches an equi-join, so a
    NULL source sits at hop 0 and never expands, and NULL-endpoint edges
    never carry reachability."""
    from hexscape_spark.graph import bfs_hops
    edges = [(0, 1), (1, 2), (None, 3), (2, None), (None, None), (3, 4)]
    edf = spark.createDataFrame(edges, "Index LONG, Neighbour LONG")
    src = spark.createDataFrame([(0,), (None,)], "Index LONG")
    a = {(r.node, r.hops) for r in bfs_hops(edf, src).collect()}
    b = {(r.node, r.hops) for r in
         bfs_hops(edf, src, local_edge_cap=0).collect()}
    assert a == b
    # node 3 is only reachable via a NULL endpoint -> absent; NULL source
    # present at hop 0
    assert (None, 0) in a and not any(n == 3 for n, _ in a)
    assert {(0, 0), (1, 1), (2, 2)} <= a and (4, 1) not in a


def test_similarity_null_embeddings_flow_through(spark):
    """r6 review: the Arrow scoring UDFs must propagate NULL embeddings
    as NULL results (the HOF semantics they replaced), never crash the
    stage, and brute-force top-k must simply skip NULL rows."""
    from hexscape_spark.similarity import _dot, with_unit_norm
    from tests.helpers import cosine_topk_bruteforce
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    u = with_unit_norm(df).toPandas().set_index("vec_id")
    assert u.loc[1, "unit_vec"] is None
    assert u.loc[2, "unit_vec"] == pytest.approx([0.6, 0.8])
    dots = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.vec_id").alias("i"), F.col("b.vec_id").alias("j"),
        _dot(F.col("a.embedding"), F.col("b.embedding")).alias("d")) \
        .toPandas()
    assert dots[(dots.i == 1) | (dots.j == 1)].d.isna().all()
    assert dots[(dots.i == 0) & (dots.j == 2)].d.iloc[0] == pytest.approx(0.6)
    top = cosine_topk_bruteforce(df, df.where("vec_id = 0"), k=2).toPandas()
    assert set(top.nn_id) == {2, 3} and 1 not in set(top.nn_id)


def test_ann_paths_tolerate_null_embeddings(spark):
    """r6 review follow-up: LSH and IVF must not crash on NULL
    embeddings — NULL vectors hash to NULL buckets / are excluded from
    both corpus and query sides, and never appear in any top-k."""
    from hexscape_spark.similarity import cosine_topk_ivf, cosine_topk_lsh
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)])
            for i in range(30)] + [(97, None), (98, None)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    lsh = cosine_topk_lsh(df, planes=4).toPandas()
    assert not lsh.empty
    assert not set(lsh.query_id) & {97, 98}
    assert not set(lsh.nn_id) & {97, 98}
    ivf = cosine_topk_ivf(df, queries=df, n_lists=4, nprobe=4).toPandas()
    assert not ivf.empty
    assert not set(ivf.query_id) & {97, 98}
    assert not set(ivf.nn_id) & {97, 98}


def _serial_substr_dedup(docs, L):
    """Hash-free reference for dedup_substrings: gram identity by actual
    token tuples, winner = min (key, pos), removal = every covering gram
    duplicated."""
    occ = {}
    toks = {k: t.split() for k, t in docs}
    for k, _ in docs:
        for i in range(len(toks[k]) - L + 1):
            occ.setdefault(tuple(toks[k][i:i + L]), []).append((k, i))
    out = {}
    for k, _ in docs:
        n = len(toks[k])
        dup = [False] * max(0, n - L + 1)
        for i in range(len(dup)):
            g = tuple(toks[k][i:i + L])
            dup[i] = min(occ[g]) != (k, i)
        kept = []
        for j in range(n):
            cover = range(max(0, j - L + 1), min(j, n - L) + 1)
            if n >= L and all(dup[i] for i in cover):
                continue
            kept.append(toks[k][j])
        out[k] = " ".join(kept)
    return out


def test_dedup_substrings_matches_serial_reference(spark):
    """dedup_substrings == the hash-free serial rule on a corpus with a
    shared paragraph, an intra-doc repeat, and clean docs; the FIRST
    occurrence survives in full; partitioning doesn't change results."""
    import numpy as np
    import pandas as pd

    from hexscape_spark.dedup import dedup_substrings
    rng = np.random.RandomState(5)
    words = [f"w{i}" for i in range(500)]
    para = " ".join(rng.choice(words, 30))
    docs = [
        (1, "intro " + para + " tail one"),
        (2, "other opening words " + para + " different ending"),
        (3, " ".join(rng.choice(words, 60))),
        (4, "short doc"),
        (5, para + " " + " ".join(rng.choice(words, 12)) + " " + para),
    ]
    L = 8
    want = _serial_substr_dedup(docs, L)
    df = spark.createDataFrame(docs + [(None, "x y z"), (6, None)],
                               "doc_id LONG, text STRING")
    got = dedup_substrings(df, min_tokens=L).toPandas()
    by = got.set_index("doc_id", drop=False)
    for k, _ in docs:
        assert by.loc[k, "text_substr_deduped"] == want[k], k
    # doc 1 is the global first occurrence of the paragraph: kept in full
    assert want[1] == "intro " + para + " tail one"
    # doc 2 lost the paragraph interior (30 - 2*(L-1) = 16 tokens gone)
    assert len(want[2].split()) == len(docs[1][1].split()) - (30 - 2 * (L - 1))
    # NULL key/text pass through untouched
    assert by.loc[6, "text_substr_deduped"] is None or \
        pd.isna(by.loc[6, "text_substr_deduped"])
    nk = got[got.doc_id.isna()]
    assert len(nk) == 1 and nk.text_substr_deduped.iloc[0] == "x y z"
    # partitioning invariance
    got2 = dedup_substrings(df.repartition(7), min_tokens=L).toPandas() \
        .set_index("doc_id", drop=False)
    for k, _ in docs:
        assert got2.loc[k, "text_substr_deduped"] == want[k], ("repart", k)


def test_dedup_substrings_whole_doc_duplicate_empties_later_copy(spark):
    """A verbatim re-crawl (every gram duplicated) is excised entirely at
    its later key while the first copy keeps every byte of its token
    stream."""
    from hexscape_spark.dedup import dedup_substrings
    body = " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame([(10, body), (20, body)],
                               "doc_id LONG, text STRING")
    got = dedup_substrings(df, min_tokens=10).toPandas() \
        .set_index("doc_id")
    assert got.loc[10, "text_substr_deduped"] == body
    assert got.loc[20, "text_substr_deduped"] == ""
