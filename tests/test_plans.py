"""Physical-plan shape assertions — the scale contract, enforced.

Correct results that shuffle wastefully would still fail at 100 TB; these
tests pin the plan properties the engine's design promises (SURVEY §4):
column pruning reaches the scan, small dimensions broadcast, hex math stays
map-only, and kRing joins are equi-joins, never nested loops.
"""

import pytest

import __spark_entry__ as m

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hex_assign_is_map_only(spark):
    """Geocode + cube-rounding must compile to a single scan->project plan:
    no Exchange, no Python (BatchEvalPython/ArrowEval), no UDFs."""
    df = m.queries()["hex_assign_docs"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "Scan parquet" in plan


def test_cell_counts_single_shuffle(spark):
    """One hash aggregation: exactly one Exchange (partial+final agg)."""
    df = m.queries()["hex_cell_counts"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan


def test_column_pruning_reaches_scan(spark):
    """token_stats reads only doc_id + text from the documents parquet."""
    df = m.queries()["token_stats"](spark, SF)
    plan = _plan(df)
    scan_line = [ln for ln in plan.splitlines() if "Scan parquet" in ln
                 or "ReadSchema" in ln]
    txt = "\n".join(scan_line) or plan
    assert "doc_id" in txt and "text" in txt
    assert "lang" not in txt and "source" not in txt, txt


def test_predicate_pushdown_reaches_scan(spark):
    """tpch_q1's shipdate filter appears as a pushed parquet filter."""
    df = m.queries()["tpch_q1"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_dimension_joins_broadcast(spark):
    """revenue_by_nation: customer + nation joins are broadcast hash joins
    (no shuffle of the big fact side for dimensions)."""
    df = m.queries()["revenue_by_nation"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_kring_join_is_equi_not_nested_loop(spark):
    """The kRing disk aggregation must never be a nested-loop theta join."""
    df = m.queries()["hex_kring_profile"](spark, SF)
    plan = _plan(df)
    # the 37-row offsets VALUES cross join is the only acceptable
    # nested-loop; the cells-to-cells join must be hash-based
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_neighbours_join_is_equi(spark):
    df = m.queries()["hex_neighbours"](spark, SF)
    plan = _plan(df)
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_whole_stage_codegen_covers_hex_math(spark):
    """The assign expressions live inside WholeStageCodegen spans."""
    df = m.queries()["hex_assign_docs"](spark, SF)
    plan = _plan(df)
    # the `*(N)` operator prefix marks whole-stage-codegen spans
    assert plan.lstrip().startswith("*("), plan[:200]


def test_hex_assign_codegen_has_no_bigdecimal(spark):
    """Cube rounding stays double arithmetic: Spark's ROUND(DOUBLE) goes
    through BigDecimal (a Double.toString per row), which once cost the
    point->cell kernel ~2x its wall time."""
    from hexscape_spark import hexgrid
    df = hexgrid.with_hex_cell(hexgrid.with_geocode(
        spark.range(0, 100).withColumnRenamed("id", "page_id"), "page_id"))
    code = df._jdf.queryExecution().debug().codegenToSeq()
    src = "".join(code.apply(i)._2() for i in range(code.size()))
    # not vacuous: the generated stage really holds the rounding kernel
    assert "processNext" in src and "Math.abs" in src, src[:2000]
    assert "BigDecimal" not in src, src


def test_landcover_regrouped_prunes_part_scan(spark):
    """The regroup rollup reads only p_partkey + p_retailprice."""
    df = m.queries()["landcover_regrouped"](spark, SF)
    plan = _plan(df)
    lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    txt = "\n".join(lines) or plan
    assert "p_partkey" in txt and "p_retailprice" in txt
    assert "p_name" not in txt and "p_type" not in txt, txt


def test_bfs_edges_join_is_equi(spark):
    """BFS frontier expansion must be a hash/sort-merge equi-join on the
    shifted cell key — never a nested loop."""
    df = m.queries()["bfs_hops"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Inner, true", ""), plan
    # the offsets cross-join is the only allowed nested loop (6-row dim)
    assert "CartesianProduct" not in plan


def test_pip_join_refine_ships_geometry_via_join(spark):
    """pip_join's refine stage joins polygon WKB (broadcast for a small
    layer) and evaluates the PIP in an Arrow-batched UDF — no collect."""
    from hexscape_spark import geo
    from hexscape_spark.cover import pip_join, polygon_cell_cover
    from tests.helpers import geocoded_pages
    pts = geocoded_pages(spark, 100).select("page_id", "lon", "lat",
                                            "q", "r", "cell_id")
    polys = spark.createDataFrame(
        [(1, bytearray(geo.rect_wkb(8000, 8000, 17000, 12000)))],
        "poly_id LONG, geom_wkb BINARY")
    cover = polygon_cell_cover(polys)
    plan = _plan(pip_join(pts, cover, polys))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_lsh_sketch_is_arrow_batched(spark):
    """The hyperplane sketch runs as ONE vectorized Arrow eval, not
    per-plane expression chains.  r7: the sketch+norm pass sits BEHIND
    the eager localCheckpoint (it executes once, at build time), so the
    returned plan reads RDD scans; the only live Python stage is the
    vectorized gather-scoring MapInPandas over candidate id pairs."""
    df = m.queries()["lsh_topk"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_dissolve_plan_is_two_level(spark):
    """The dissolve plan stays two-level: the per-(key, salt) pre-union
    runs EAGERLY behind a localCheckpoint (so downstream actions never
    re-execute the raw-feature lineage — ADVICE r03 #5), and the returned
    plan is the 3-stage merge (split, per-component union, concat) over
    that checkpoint, with no plan branch, no per-key agg and no isEmpty
    job (VERDICT r04 #1).
    A hot key's raw features therefore never land in a single task: the
    merge grouped-maps read pre-unioned (key, salt) partials only."""
    from hexscape_spark import geo
    from hexscape_spark.dissolve import dissolve
    rows = [("A", bytearray(geo.rect_wkb(float(i), 0.0, i + 1.5, 1.0)))
            for i in range(8)]
    df = spark.createDataFrame(rows, "clc STRING, geom_wkb BINARY")
    out = dissolve(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the three merge stages are the only LIVE grouped-maps; their input
    # is the checkpointed level-1 result, not the raw features
    assert plan.count("FlatMapGroupsInPandas") == 3, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    assert out.count() == 1


def test_nearest_cell_plan_broadcast_minstruct(spark):
    """The J8 nearest join plan contract (r4): the expanded occupied-cell
    side is BROADCAST (one hash probe per event — never a sort-merge
    shuffle of the big side), the per-event best is a MIN(struct)
    aggregate with a map-side partial (shuffle = one row per event), and
    there is NO window sort of the candidate fan-out."""
    df = m.queries()["hex_nearest_cell"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan


# every bench.BENCH_QUERIES entry: warm build + count jobs at sf0.01 on
# local[8], identical on two repeats (114 in all).  A change may lower a
# budget, never raise it.  For hex_nearest_cell a sizing count of the
# events would cost 2 more.
_JOB_BUDGET = {
    "hex_assign_docs": 2, "hex_cell_counts": 3, "hex_cell_lang_mode": 4,
    "hex_neighbours": 6, "hex_kring_profile": 7, "hex_nearest_cell": 8,
    "events_hex_rollup": 3, "salted_cell_counts": 3, "tpch_q1": 3,
    "revenue_by_nation": 7, "top_order_per_cust": 3, "dedup_exact": 3,
    "token_stats": 2, "lang_dist_by_source": 3, "knn_cosine": 5,
    "minhash_pairs": 6, "ngram_jaccard": 7, "lsh_topk": 8,
    "patches_landuse": 4, "neighbours_square": 6, "cover_landuse": 6,
    "dissolve_layers": 15,
}


def test_job_budget_covers_bench_queries():
    import bench
    assert sorted(_JOB_BUDGET) == sorted(bench.BENCH_QUERIES)


@pytest.mark.parametrize("name", _JOB_BUDGET)
def test_query_job_budget(spark, name):
    """A warm build + count of the query runs in at most its budgeted
    Spark jobs, so an extra eager checkpoint or sizing action cannot
    creep in."""
    q = m.queries()[name]
    q(spark, SF).count()
    sc = spark.sparkContext
    group = f"test_query_job_budget_{name}"
    sc.setJobGroup(group, f"{name} build + count")
    try:
        q(spark, SF).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= _JOB_BUDGET[name], jobs


def test_line_dedup_plan_no_cartesian_no_python(spark):
    """Corpus line dedup is pure equi-join/aggregate relational algebra:
    no cartesian product, no nested-loop join, no Python on the path —
    the shape that survives a 100-TB corpus."""
    df = m.queries()["line_dedup_docs"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_contamination_benchmark_broadcasts(spark):
    """Decontamination joins the corpus grams against a BROADCAST of the
    benchmark gram set (eval suites are tiny next to a training corpus)
    — never a shuffle of the corpus onto the benchmark, never a
    cartesian product."""
    df = m.queries()["contamination_docs"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_substring_dedup_plan_shape(spark):
    """dedup_substrings (r6): the only Python stages are the two
    map-only Arrow passes (gram emission, excision); content discovery
    is ONE hash aggregate on the 8-byte gram hash with map-side partial
    combine; no cartesian or nested-loop join anywhere."""
    from hexscape_spark.dedup import dedup_substrings
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(4)],
        "doc_id LONG, text STRING")
    plan = _plan(dedup_substrings(df, min_tokens=5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # emit_grams appears TWICE (winner-agg branch + dup-join branch:
    # recomputing a map-only O(n) hash pass beats materialising a
    # token-scale relation) + one excision pass = 3 Arrow stages
    assert plan.count("MapInPandas") == 3, plan
    # the single content shuffle is hash-partitioned on the 8-byte gram
    # hash, never on gram text
    assert "hashpartitioning(gh" in plan, plan


def test_lsh_minhash_single_subtree_r7(spark):
    """r7: the bucket/sketch relations are materialised ONCE (eager
    localCheckpoint) before their self-joins — the returned plans read
    RDD scans only.  Before, each branch re-ran scan+UDF: lsh_topk's
    plan held 4 parquet scans and 4 Arrow UDF evaluations."""
    plan = _plan(m.queries()["minhash_pairs"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan      # signature behind ckpt
    plan = _plan(m.queries()["lsh_topk"](spark, SF))
    assert "Scan parquet" not in plan, plan
    # the only live Python stage is the exact-cosine gather-scoring pass
    # over candidate id PAIRS (two longs wide — the unit vectors travel
    # once, inside the ~10 MB broadcast matrix, never per pair)
    assert plan.count("ArrowEvalPython") == 0, plan
    assert plan.count("MapInPandas") == 1, plan


def test_nearest_cell_reads_checkpoints_r7(spark):
    """r7: both assign sides of the J8 nearest join are checkpointed, so
    the join-key IsNotNull inference can no longer re-substitute the
    layered geocode chain into scan Filters (the 21 s plan pathology)."""
    plan = _plan(m.queries()["hex_nearest_cell"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    # the re-inlined assign chain's signature constant never appears
    assert "2147483647" not in plan, plan[:2000]


def test_dense_index_small_path_matches(spark):
    """r7: dense_index(small=True) must produce the identical numbering
    as the scalable range-partitioned path."""
    from hexscape_spark.indexing import dense_index
    df = spark.range(0, 500).selectExpr("id % 37 AS a", "id AS b")
    big = dense_index(df, ["a", "b"], out="Index")
    small = dense_index(df, ["a", "b"], out="Index", small=True)
    assert big.exceptAll(small).count() == 0
    assert small.exceptAll(big).count() == 0
    assert dict(small.dtypes)["Index"] == "bigint"
