"""Approximate-nearest-neighbour search over an embedding column.

Random-hyperplane-LSH and IVF bucketed cosine top-k: at 10^12 rows the
exact cross join is impossible, but bucketing on sign-bit sketches /
nearest-centroid lists turns it into an equi-join whose buckets are
independently joinable (and AQE-splittable on skew).

Scoring arithmetic (r6): dot products and unit-norms run as
Arrow-batched numpy (einsum over stacked batches) — the earlier
F.aggregate/zip_with HOF forms LOOK JVM-native but execute as
interpreted lambda folds at ~ms/row on 64-wide vectors (measured: 10M
scored pairs took 75 s HOF vs ~4 s Arrow).  Cross-engine value
semantics are unaffected: every consumer rounds the cosine (ROUND 6dp)
before ranking or emitting, which already absorbs
summation-order ulps between Spark and DuckDB's list_dot_product —
numpy's pairwise order sits inside the same tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType
from pyspark.sql.window import Window

from .checkpoint import materialise, spread

# the embeddings are 64-dim; every ANN query ranks the 5 nearest
DIM = 64
TOP_K = 5
# hyperplane-LSH OR-construction tables
LSH_TABLES = 4


def _stack(s: pd.Series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in s],
                    dtype=np.float64)


# DataType OBJECTS, not DDL strings: a module-level pandas_udf with a
# string return type parses it through the active SparkContext at
# import time and breaks session-less imports.  Both UDFs guard empty
# Arrow batches and propagate NULL inputs as NULL results — the exact
# semantics of the HOF forms they replaced (r6 review: np.einsum on a
# shape-(0,) stack raises, and np.asarray(None) raises TypeError, so an
# unguarded UDF failed the stage on missing embeddings that previously
# flowed through as NULL cosine/unit_vec).
def _scatter(n: int, idx: np.ndarray, vals) -> pd.Series:
    """Object series with vals at idx positions, None elsewhere — an
    explicit loop because pandas/numpy masked assignment refuses lists
    of arrays (putmask length check)."""
    out = [None] * n
    for i, v in zip(idx, vals):
        out[i] = v
    return pd.Series(out, dtype=object)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-normalise, zero rows staying zero (never NaN) — the single
    home of the zero-vector convention (r6 review: it was copy-pasted
    three times)."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


@F.pandas_udf(DoubleType())
def _dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=object)
    mask = (a.notna() & b.notna()).to_numpy()
    if mask.all():                 # hot path: no NULLs, float64 buffer out
        return pd.Series(np.einsum("ij,ij->i", _stack(a), _stack(b)))
    idx = np.nonzero(mask)[0]
    if len(idx) == 0:
        return pd.Series([None] * len(a), dtype=object)
    va = _stack(a.iloc[idx])
    vb = _stack(b.iloc[idx])
    return _scatter(len(a), idx, np.einsum("ij,ij->i", va, vb))


def _dot(a, b):
    return _dot_arrow(a, b)


@F.pandas_udf(ArrayType(DoubleType()))
def _unit_arrow(a: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=object)
    mask = a.notna().to_numpy()
    if mask.all():                 # hot path: no NULLs
        return pd.Series(list(_unit_rows(_stack(a))))
    idx = np.nonzero(mask)[0]
    if len(idx) == 0:
        return pd.Series([None] * len(a), dtype=object)
    return _scatter(len(a), idx, list(_unit_rows(_stack(a.iloc[idx]))))


def with_unit_norm(df: DataFrame, vec: str = "embedding",
                   out: str = "unit_vec") -> DataFrame:
    return df.withColumn(out, _unit_arrow(F.col(vec)))


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (LCG, no numpy on
    executors needed — computed driver-side as literals)."""
    vals = []
    state = (plane * 2654435761 + 17) % 2147483647
    for _ in range(dim):
        state = (state * 48271) % 2147483647
        vals.append(state / 2147483647.0 - 0.5)
    return vals


def with_lsh_buckets(df: DataFrame, vec: str, planes: int) -> DataFrame:
    """All LSH_TABLES sign-sketch buckets in ONE Arrow-vectorized pass.

    planes x tables dot products per row are ONE numpy matmul per batch —
    measured ~1000x over the expression-tree alternatives (per-element
    Add-chains stall codegen; higher-order-function lambdas evaluate
    interpreted and boxed at ~8 ms/row for a 40x64 plane matrix).  The
    sign sketch is scale-invariant, so callers may pass raw or unit
    vectors.  Adds one LONG bucket column per table, `__b0`..`__b3`
    (table t hashes with planes seeded t*997 + p)."""
    mat = np.array([_hyperplane(DIM, t * 997 + p)
                    for t in range(LSH_TABLES) for p in range(planes)]).T
    pw = (2 ** np.arange(planes)).astype(np.int64)
    n_t, n_p = LSH_TABLES, planes

    @F.pandas_udf("array<long>")
    def buckets_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mask = v.notna().to_numpy()
        if not mask.all():
            # NULL embeddings hash to a NULL bucket array (r6 review —
            # np.array over a None-bearing batch raised and failed the
            # stage); element_at then yields NULL bucket keys, which
            # every downstream equi-join drops, so NULL-vector rows
            # simply never become candidates
            idx = np.nonzero(mask)[0]
            if len(idx) == 0:
                return pd.Series([None] * len(v), dtype=object)
            x = np.array(v.iloc[idx].tolist(), dtype=np.float64)
            bits = (x @ mat) > 0
            cols = [bits[:, t * n_p:(t + 1) * n_p].astype(np.int64) @ pw
                    for t in range(n_t)]
            vals = np.column_stack(cols).tolist()
            out = [None] * len(v)
            for i, val in zip(idx, vals):
                out[i] = val
            return pd.Series(out, dtype=object)
        x = np.array(v.tolist(), dtype=np.float64)
        bits = (x @ mat) > 0
        cols = [bits[:, t * n_p:(t + 1) * n_p].astype(np.int64) @ pw
                for t in range(n_t)]
        return pd.Series(np.column_stack(cols).tolist())

    df = df.withColumn("__bk", buckets_udf(F.col(vec)))
    for t in range(LSH_TABLES):
        df = df.withColumn(f"__b{t}", F.element_at("__bk", t + 1))
    return df.drop("__bk")


def _lsh_sketch(df: DataFrame, key: str, vec: str,
                planes: int) -> tuple[DataFrame, DataFrame]:
    """The sketch stage of cosine_topk_lsh.  Returns (vecs, buckets):
    vecs is (key, unit_vec); buckets is (key, band, h), one row per table.

    NULL vectors can neither hash nor score and are dropped.  r7 (guide
    §2.4/§2.5/§4): ONE Arrow pass computes unit vectors AND every table's
    sketch (adjacent pandas UDFs share one ArrowEvalPython node), over a
    `spread` of the input: single-row-group inputs otherwise hash the
    whole corpus in one Python worker, and AQE coalesces a plain column
    repartition of a small input back into one task."""
    base = spread(df.where(F.col(vec).isNotNull()).select(key, vec), key)
    # sketch the RAW vector, not the unit-normed one (r4 ADVICE): the sign
    # bits are scale-invariant, and hashing the same bytes the SQL oracle
    # hashes removes the one cross-engine flake source — a normalised
    # component differing in the last ulp flipping a near-zero plane dot
    b = with_lsh_buckets(with_unit_norm(base, vec), vec, planes)
    # Python stage: the bucket self-join and both vector joins read b
    b = materialise(b.select(key, "unit_vec",
                             *[f"__b{t}" for t in range(LSH_TABLES)]))
    buckets = b.select(
        key, F.explode(F.array(*[
            F.struct(F.lit(t).alias("band"), F.col(f"__b{t}").alias("h"))
            for t in range(LSH_TABLES)])).alias("s")) \
        .select(key, "s.band", "s.h")
    return b.select(key, "unit_vec"), buckets


def ivf_train_centroids(df: DataFrame, n_lists: int,
                        vec: str = "unit_vec") -> list[list[float]]:
    """IVF coarse quantizer: k-means centroids trained driver-side on the
    first 4096 unit vectors in `vec` (the scale-standard approach — the
    quantizer is tiny; the corpus never leaves the executors)."""
    rows = df.where(F.col(vec).isNotNull()).select(vec) \
        .limit(4096).collect()
    if not rows:
        raise ValueError("ivf_train_centroids: no non-null vectors")
    x = np.array([r[vec] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(42)
    centers = x[rng.choice(len(x), size=min(n_lists, len(x)), replace=False)]
    for _ in range(25):
        sims = x @ centers.T
        assign = sims.argmax(axis=1)
        new = np.vstack([
            x[assign == k].mean(axis=0) if (assign == k).any() else centers[k]
            for k in range(len(centers))])
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        new = new / np.where(norms == 0, 1.0, norms)
        if np.allclose(new, centers, atol=1e-9):
            break
        centers = new
    return [c.tolist() for c in centers]


def with_ivf_list(df: DataFrame, centroids: list[list[float]],
                  vec: str = "unit_vec", out: str = "ivf_list",
                  nprobe: int = 1) -> DataFrame:
    """Assign each vector to its nprobe nearest coarse centroids (array of
    list ids) — pure JVM expressions over broadcast centroid literals."""
    sims = F.array(*[
        F.aggregate(F.zip_with(F.col(vec),
                               F.array(*[F.lit(v) for v in c]),
                               lambda a, b: a * b),
                    F.lit(0.0), lambda acc, v: acc + v)
        for c in centroids])
    idx = F.array_sort(
        F.zip_with(sims, F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                   lambda s, i: F.struct((-s).alias("neg"), i.alias("i"))))
    lists = F.slice(F.transform(idx, lambda st: st["i"]), 1, nprobe)
    return df.withColumn(out, lists)


def _top_k(scored: DataFrame) -> DataFrame:
    """The TOP_K best (query_id, nn_id, cosine) rows per query, ranked by
    ROUND(cosine, 6), ties broken by id — the cross-engine determinism
    device: rounding before ranking keeps an oracle whose float
    summation order differs in the last ulp from flipping near-ties."""
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cosine", 6)),
                                               F.asc("nn_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K))


def cosine_topk_ivf(df: DataFrame, queries: DataFrame, n_lists: int,
                    nprobe: int, key: str = "vec_id",
                    vec: str = "embedding") -> DataFrame:
    """IVF ANN: corpus bucketed by nearest centroid (1 list), queries probe
    their nprobe nearest lists; candidate generation is an equi-join on
    list id — the classic inverted-file layout, shuffle-partitioned by
    list.  Recall grows with nprobe; exact within probed lists, so with
    nprobe == n_lists the result equals the exact brute-force top-k.

    `queries` is the query side (same schema as `df`; pass `df` itself
    for an all-pairs search) — the corpus is always `df`."""
    # NULL embeddings cannot be routed to a list nor scored: exclude
    # them from both sides (r6 review — they previously crashed the
    # quantizer and could pad a sparse query's top-k with NULL cosines)
    df = df.where(F.col(vec).isNotNull())
    # Deliberately NOT repartitioned first: the trainer's limit(4096)
    # must see the ORIGINAL scan order or the k-means seed sample (and
    # hence the centroids) would change.
    # Python stage: the trainer and the corpus routing read u
    u = materialise(with_unit_norm(df.select(key, vec), vec))
    cents = ivf_train_centroids(u, n_lists)
    # both sides `spread` on the join key: the list join reuses that
    # shuffle, and its Arrow dot-product stage keeps one task per shuffle
    # partition
    corpus = spread(with_ivf_list(u, cents, nprobe=1).select(
        F.col(key).alias("nn_id"), F.col("unit_vec").alias("cv"),
        F.element_at("ivf_list", 1).alias("list_id")), "list_id")
    qsrc = with_unit_norm(queries.where(F.col(vec).isNotNull()), vec)
    queries = spread(with_ivf_list(qsrc, cents, nprobe=nprobe).select(
        F.col(key).alias("query_id"), F.col("unit_vec").alias("qv"),
        F.explode("ivf_list").alias("list_id")), "list_id")
    scored = (queries.join(corpus, on="list_id")
              .where(F.col("query_id") != F.col("nn_id"))
              .withColumn("cosine", _dot(F.col("cv"), F.col("qv")))
              .select("query_id", "nn_id", "cosine"))
    return _top_k(scored)


# cosine_topk_lsh collects the whole unit-vector matrix to the driver and
# broadcasts it: 1M rows of 64 doubles is already 512 MB on the driver
# and in every executor.
SMALL_CORPUS_MAX_ROWS = 1_000_000


def cosine_topk_lsh(df: DataFrame, planes: int, key: str = "vec_id",
                    vec: str = "embedding") -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH (OR-construction).

    LSH_TABLES independent plane sets each hash every vector into a
    bucket; a pair is a candidate if it collides in ANY table — recall ~
    1 - (1 - p^planes)^tables instead of the single-table p^planes that
    collapses as planes grow.  Buckets are not capped: the corpus is
    bounded by SMALL_CORPUS_MAX_ROWS.  All joins are equi-joins on
    (table, bucket) / key — never a cross join.

    The sketch is pure sign arithmetic on LCG hyperplane literals, so a
    SQL oracle can reproduce the ENTIRE pipeline (buckets, OR-construction
    candidates, rank; see _top_k for the rounding).

    Scoring gathers (r7, guide §2.3 "shuffle keys instead of payloads"):
    the unit matrix, at most SMALL_CORPUS_MAX_ROWS rows with unique keys
    (ValueError otherwise), broadcasts once and each task gathers rows by
    key, so candidate rows stay two ids wide instead of carrying both
    vectors through Arrow for every pair.
    """
    vecs, buckets = _lsh_sketch(df, key, vec, planes)
    lhs = buckets.select(F.col(key).alias("query_id"), "band", "h")
    rhs = buckets.select(F.col(key).alias("nn_id"), "band", "h")
    # the checkpointed relations are RDD-backed with no size statistics,
    # so join-strategy selection would wobble run to run; the corpus is
    # bounded, so the bucket side is pinned as a broadcast
    cands = (lhs.join(F.broadcast(rhs), on=["band", "h"])
             .where(F.col("query_id") != F.col("nn_id"))
             .select("query_id", "nn_id").distinct())
    # the scoring stage stays one coalesced task behind this distinct: a
    # `spread` of the pairs put it on every core but was no faster (five
    # warm A/Bs of `lsh_topk` at sf0.1, local[4]: medians -7% to +3%)
    # the LIMIT bounds the collect itself (no extra Spark job): an
    # oversized corpus fails after at most cap + 1 rows reach the driver
    # instead of OOMing it
    cap = SMALL_CORPUS_MAX_ROWS
    vp = vecs.limit(cap + 1).toPandas()
    if len(vp) > cap:
        raise ValueError(
            f"cosine_topk_lsh collects the corpus to the driver, but it "
            f"has more than {cap} rows")
    ids = vp[key].to_numpy()
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    # searchsorted picks ONE row per id: a repeated key would score
    # against whichever of its vectors sorts first
    dup = sids[1:][sids[1:] == sids[:-1]]
    if len(dup):
        raise ValueError(f"cosine_topk_lsh needs unique keys, but {key} "
                         f"{dup[0]} repeats")
    mat = np.array([np.asarray(v, dtype=np.float64)
                    for v in vp["unit_vec"]])[order]
    bm = df.sparkSession.sparkContext.broadcast((sids, mat))
    key_t = dict(df.dtypes)[key]
    schema = f"query_id {key_t}, nn_id {key_t}, cosine DOUBLE"

    def score(batches):
        sids, smat = bm.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi = np.searchsorted(sids, pdf["query_id"].to_numpy())
            ni = np.searchsorted(sids, pdf["nn_id"].to_numpy())
            yield pd.DataFrame({
                "query_id": pdf["query_id"],
                "nn_id": pdf["nn_id"],
                "cosine": np.einsum("ij,ij->i", smat[qi], smat[ni])})

    return _top_k(cands.mapInPandas(score, schema=schema))
