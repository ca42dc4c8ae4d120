"""Deduplication operators for the documents corpus.

Exact (hash groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard —
the large-scale training-data-pipeline surface.  The near-dup operators
share one hash family, the md5-folded integer (sqlgen.md5_int_expr), so
the DuckDB oracle reproduces them value-exact.  The MinHash signature and
the shingle-hash sets the Jaccard verify reads come from one Arrow-batched
pandas UDF; the rest is built-in Spark SQL expressions, and the shuffles
are the groupBys/joins on hash/bucket keys.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import sqlgen
from .checkpoint import materialise, spread


def exact_duplicates(df: DataFrame, key: str = "doc_id",
                     text: str = "text") -> DataFrame:
    """Exact dedup via content hash: groups with >1 member, representative =
    min(key).  P9 at web scale: one hash-partitioned groupBy."""
    h = F.md5(F.encode(F.col(text), "UTF-8"))
    return (df.select(F.col(key), h.alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_dupes"),
                 F.min(key).alias("keep_id"))
            .where(F.col("n_dupes") > 1))


def dedup_keep_first(df: DataFrame, key: str = "doc_id",
                     text: str = "text") -> DataFrame:
    """Return df minus exact duplicates (keeps lowest key per content)."""
    h = F.md5(F.encode(F.col(text), "UTF-8"))
    w = Window.partitionBy("__h").orderBy(F.asc(key))
    return (df.withColumn("__h", h)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__h", "__rn"))


def _shingles(text_col, k: int = 3):
    """Word k-gram shingles as an array column (JVM-side)."""
    words = F.split(F.lower(text_col), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))
    )).otherwise(F.array(F.concat_ws(" ", words)))


def _bucket_pairs(buckets: DataFrame, key: str,
                  max_bucket: int | None) -> DataFrame:
    """Self-join (band, h) buckets into distinct (a, b) pairs with a < b,
    after dropping buckets above `max_bucket` (similarity._cap_buckets).
    A band is a MinHash signature slice or one hyperplane-LSH table."""
    from .similarity import _cap_buckets
    buckets = _cap_buckets(buckets, max_bucket)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (a.join(b, on=["band", "h"])
            .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
            .select(F.col(f"a.{key}").alias("a"), F.col(f"b.{key}").alias("b"))
            .distinct())


# re.ASCII pins \s to the ASCII class RE2 (DuckDB) and Java use — Python's
# unicode-aware \s would split on NBSP etc. and break parity
_WORD_SPLIT = re.compile(r"\s+", re.ASCII)


def _signature_batch(texts: pd.Series, shingle_k: int,
                     mix: np.ndarray) -> pd.DataFrame:
    """The (sig, hs) rows of one Arrow batch of texts (see _signatures).

    Module level, so cloudpickle ships it by reference: a worker that
    runs the signature UDF imports this package, and with it the zip
    hook in hexscape_spark/__init__.py.

    Whole signature per Arrow batch: Python md5 (C-speed) + one numpy mix
    per doc.  The pure-SQL formulation of the same math spent ~3s/5k docs
    in interpreted HOF lambdas (shingle concat + per-element folds); this
    is the identical arithmetic — int64 exact — so the DuckDB oracle
    still reproduces it bit-for-bit."""
    ma, mb, mc = mix[:, 0], mix[:, 1], mix[:, 2]
    lo, p_mod = sqlgen.MIX_LO, sqlgen.MIX_P
    sigs, hss = [], []
    for t in texts:
        words = _WORD_SPLIT.split(t.lower())
        if len(words) >= shingle_k:
            sh = [" ".join(words[i:i + shingle_k])
                  for i in range(len(words) - shingle_k + 1)]
        else:
            sh = [" ".join(words)]
        hs = np.unique(np.fromiter(
            (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
             for s in sh), dtype=np.int64, count=len(sh)))
        mixed = (ma[None, :] * (hs[:, None] % lo)
                 + mb[None, :] * (hs[:, None] // lo)
                 + mc[None, :]) % p_mod
        sigs.append(mixed.min(axis=0).tolist())
        hss.append(hs.tolist())
    return pd.DataFrame({"sig": sigs, "hs": hss})


def _signatures(df: DataFrame, key: str, text: str, num_hashes: int,
                shingle_k: int) -> DataFrame:
    """(key, sig, hs) per document, from ONE Python pass: `sig` is the
    MinHash signature, `hs` the sorted distinct md5-folded shingle hashes
    it is the minimum over.  Shingles are word `shingle_k`-grams of the
    lower-cased text (the _shingles rule: a shorter document is one
    shingle).  NULL text has no shingles and no row.

    The hash is sqlgen.md5_int_expr, which evaluates bit-for-bit the same
    in DuckDB, so the SQL oracle recomputes the exact signatures."""
    mix = np.array(sqlgen.mix_params(num_hashes), dtype=np.int64)

    @F.pandas_udf("sig array<long>, hs array<long>")
    def signature(texts: pd.Series) -> pd.DataFrame:
        return _signature_batch(texts, shingle_k, mix)

    # the input is often one row group: spread it so the signature stage
    # runs on every core, not in one Python worker (deterministic hash
    # key, retry-safe)
    docs = spread(df.where(F.col(text).isNotNull()).select(key, text), key)
    return docs.select(F.col(key), signature(F.col(text)).alias("__s")) \
        .select(key, "__s.sig", "__s.hs")


def _band_buckets(sig: DataFrame, key: str, num_hashes: int,
                  bands: int) -> DataFrame:
    """(key, band, h): one row per LSH band of each signature.  The band
    key is the concatenated signature slice itself (banding needs only
    equality, not another hash)."""
    rows = num_hashes // bands
    band_keys = [
        F.concat_ws(",", *[F.element_at("sig", b * rows + j + 1)
                           .cast("string") for j in range(rows)])
        for b in range(bands)]
    return sig.select(key, F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), h.alias("h"))
        for b, h in enumerate(band_keys)])).alias("bh")) \
        .select(key, "bh.band", "bh.h")


def minhash_lsh_pairs(df: DataFrame, key: str = "doc_id", text: str = "text",
                      num_hashes: int = 16, bands: int = 4,
                      shingle_k: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding
    (_signatures, _band_buckets): the DuckDB oracle recomputes the exact
    pair set.  NULL text pairs with nothing.
    `max_bucket` is an OPT-IN cap on per-bucket membership (default None =
    complete results); at web scale PASS one — a degenerate bucket of 10^6
    boilerplate pages emits 10^12 pairs otherwise (see _bucket_pairs).
    Returns distinct (a, b), a < b.
    """
    sig = _signatures(df, key, text, num_hashes, shingle_k).select(key, "sig")
    # Python stage: the self-join and the size cap both read the signatures
    buckets = materialise(_band_buckets(sig, key, num_hashes, bands))
    return _bucket_pairs(buckets, key, max_bucket)


def with_simhash(df: DataFrame, key: str = "doc_id", text: str = "text",
                 bits: int = 16, out: str = "simhash") -> DataFrame:
    """SimHash: one md5-folded hash per token (explode +
    groupBy — the hash is computed ONCE per token, not once per bit), then
    per-bit ±1 vote sums.  Exactly reproducible in DuckDB SQL, so the
    driver oracle can verify it.  Grouped shape is also the scale shape:
    map-side partial aggregation of the vote sums, one shuffle on `key`.
    """
    tok = df.select(
        F.col(key),
        F.explode(F.split(F.lower(F.col(text)), r"\s+")).alias("w"))
    tok = tok.selectExpr(key, sqlgen.md5_int_expr_spark("w") + " AS h")
    votes = [
        F.expr(f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)")
        .alias(f"v{j}") for j in range(bits)]
    g = tok.groupBy(key).agg(*votes)
    sim = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(bits))
    return g.selectExpr(key, f"CAST({sim} AS BIGINT) AS {out}")


def ngram_jaccard_pairs(df: DataFrame, key: str = "doc_id", text: str = "text",
                        shingle_k: int = 3, threshold: float = 0.5,
                        num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Exact n-gram Jaccard over LSH-prefiltered candidates (R3: cheap
    prefilter before the expensive op).  One Python pass (_signatures)
    gives each document its signature AND its distinct shingle-hash set;
    the candidates are the minhash_lsh_pairs banding of the signatures,
    and each is verified as |A∩B| / (|A|+|B|−|A∩B|) over the two hash
    sets.  NULL text pairs with nothing.

    Hashes stand in for shingle strings: the md5 fold keeps 60 bits, so
    two distinct shingles of a pair collide, and its Jaccard moves, with
    probability about |A|·|B|/2^60.  The shingles are cut in Python, so
    case folding follows str.lower (as the signature always did), not
    the JVM's lower().  The DuckDB oracle compares the string sets and
    stays the judge: test_queries_oracle.py's
    test_query_matches_oracle[ngram_jaccard] pins the parity.  Returns
    (a, b, jaccard) with jaccard rounded to 6 dp and >= threshold."""
    # Python stage: the bucket self-join and both verify joins read docs
    docs = materialise(_signatures(df, key, text, num_hashes, shingle_k))
    cands = _bucket_pairs(_band_buckets(docs, key, num_hashes, bands),
                          key, None)
    j = (cands.join(docs.selectExpr(f"{key} AS a", "hs AS ha"), on="a")
         .join(docs.selectExpr(f"{key} AS b", "hs AS hb"), on="b"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = F.round(inter / (F.size("ha") + F.size("hb") - inter), 6)
    return (j.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def embedding_near_dup_pairs(df: DataFrame, key: str = "vec_id",
                             vec: str = "embedding",
                             threshold: float = 0.45) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: all pairs with
    cosine >= threshold (rounded to 6 dp): an all-pairs theta join,
    sized for test corpora only."""
    from .similarity import _dot, with_unit_norm
    u = with_unit_norm(df, vec).select(F.col(key), F.col("unit_vec"))
    a = u.selectExpr(f"{key} AS a", "unit_vec AS ua")
    b = u.selectExpr(f"{key} AS b", "unit_vec AS ub")
    pairs = a.join(b, F.col("a") < F.col("b"))
    cos = F.round(_dot(F.col("ua"), F.col("ub")), 6)
    return (pairs.withColumn("cosine", cos)
            .where(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))


def dedup_lines(df: DataFrame, key: str = "doc_id", text: str = "text",
                out: str = "text_line_deduped", min_line_chars: int = 1,
                sep: str = "\n", hash_shuffle: bool = False) -> DataFrame:
    """Corpus-wide exact LINE deduplication — the RefinedWeb/C4-style
    stage that strips boilerplate ("cookie notice", nav menus, footers)
    repeated across pages: every line keeps exactly its FIRST occurrence
    in the corpus (min `key`, then min line index within that document)
    and is removed everywhere else, including repeats inside one
    document.  Lines whose trimmed length is under `min_line_chars`
    (blank separator lines by default) never participate — removing the
    second empty line of every document would mangle formatting, not
    deduplicate content.

    Scale shape: posexplode lines -> ONE groupBy on the line CONTENT
    itself (exact — no hash-collision false merges) picking the global
    first occurrence as a combinable MIN(struct(key, idx)) with map-side
    partial aggregation -> equi-join back -> per-document reassembly via
    sort_array(collect_list(struct(idx, line))).  Three branches read
    the input (winner agg, keep join, reassembly join): a caller whose
    input ends in an expensive stage (an extraction UDF) materialises or
    caches it first.  `key` values must be UNIQUE (the
    reassembly join identity — duplicate keys would merge documents);
    NULL-key rows pass through with their text untouched and never
    participate.  `sep` is a LITERAL separator (escaped before the
    regex split, so sep='.' or '|' splits on the character, not on a
    regex).  Output column `out` carries the cleaned text; all other
    columns pass through.

    `hash_shuffle=True` is the 100-TB trade: the winner AGGREGATION and
    its join side carry 8-byte xxhash64 keys instead of line text — the
    map-side partial MIN means only each task's distinct gram keys cross
    the wire, and the winners relation shrinks to (hash, key, idx).  The
    lines side of the keep-join and the reassembly still move the text
    (the output IS text) in either mode.  Identical results unless two
    distinct lines collide in xxhash64 (~2^-64 per pair), which would
    merge their dedup classes — the exact default keeps the oracle-grade
    semantics.
    """
    # NULL keys have no reassembly identity (and a NULL key would win
    # every line: MIN(struct) sorts a NULL field first — the r4 struct-
    # MIN lesson): such rows pass through with their text unchanged and
    # never participate in the dedup
    nulls = df.where(F.col(key).isNull()).withColumn(out, F.col(text))
    df_nn = df.where(F.col(key).isNotNull())
    sep_rx = re.sub(r"([\\.\[\]{}()*+\-?^$|])", r"\\\1", sep)
    lines = df_nn.select(
        F.col(key),
        F.posexplode(F.split(F.col(text), sep_rx)).alias("__i", "__l"))
    elig = F.length(F.trim(F.col("__l"))) >= min_line_chars
    lines = lines.withColumn("__e", elig)
    win_agg = F.min(F.struct(F.col(key).alias("k"),
                             F.col("__i").alias("i"))).alias("__w")
    is_winner = ((~F.col("__e")) |
                 ((F.col("__w.k") == F.col(key)) &
                  (F.col("__w.i") == F.col("__i"))))
    if hash_shuffle:
        winners = (lines.where(F.col("__e"))
                   .groupBy(F.xxhash64("__l").alias("__g")).agg(win_agg))
        kept = (lines.withColumn("__g", F.xxhash64("__l"))
                .join(winners, on="__g", how="left")
                .where(is_winner).drop("__g"))
    else:
        winners = lines.where(F.col("__e")).groupBy("__l").agg(win_agg)
        kept = lines.join(winners, on="__l", how="left").where(is_winner)
    docs = kept.groupBy(key).agg(
        F.concat_ws(sep, F.transform(
            F.sort_array(F.collect_list(F.struct("__i", "__l"))),
            lambda s: s["__l"])).alias(out))
    # NULL text stays NULL (ADVICE r05): split(NULL) explodes no lines,
    # so the doc misses the reassembly join — coalescing unconditionally
    # would rewrite NULL to '' and lose NULL-ness for non-NULL-key rows
    # (asymmetric with the NULL-key pass-through above).  Coalesce only
    # when the source text is non-null; a non-null doc whose every line
    # lost dedup genuinely becomes ''.
    deduped = (df_nn.join(docs, on=key, how="left")
               .withColumn(out, F.when(
                   F.col(text).isNull(), F.lit(None).cast("string"))
                   .otherwise(F.coalesce(F.col(out), F.lit("")))))
    return deduped.unionByName(nulls)


def contamination_flags(df: DataFrame, benchmark: DataFrame,
                        key: str = "doc_id", text: str = "text",
                        bench_text: str = "text", n: int = 13) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3 appendix-C / Llama
    n-gram-overlap rule, public knowledge): flag training documents that
    share any word `n`-gram (default 13) with a held-out benchmark
    corpus, so evaluation data can be excluded from training.  Adds
    `contaminated_ngrams` (distinct colliding n-grams) and
    `is_contaminated`.

    Scale shape: the benchmark's distinct n-gram set broadcasts (eval
    suites are tiny next to a training corpus), the corpus side is
    explode -> equi-join -> one count-distinct per document — never an
    all-pairs comparison.
    Documents shorter than `n` words shingle to their whole text (the
    _shingles short-doc rule), so an exact short-text match still flags.
    The input is read twice (gram explode + final join-back).
    """
    # NULL keys have no join-back identity — they come back with NULL
    # flags ("unknown"), never a silent clean verdict
    nulls = (df.where(F.col(key).isNull())
             .withColumn("contaminated_ngrams",
                         F.lit(None).cast("long"))
             .withColumn("is_contaminated", F.lit(None).cast("boolean")))
    df_nn = df.where(F.col(key).isNotNull())
    gb = F.broadcast(benchmark.select(F.explode(F.array_distinct(
        _shingles(F.col(bench_text), n))).alias("__g")).distinct())
    gd = df_nn.select(F.col(key), F.explode(F.array_distinct(
        _shingles(F.col(text), n))).alias("__g"))
    hits = (gd.join(gb, on="__g")
            .groupBy(key)
            .agg(F.countDistinct("__g").alias("contaminated_ngrams")))
    return (df_nn.join(hits, on=key, how="left")
            .withColumn("contaminated_ngrams",
                        F.coalesce(F.col("contaminated_ngrams"),
                                   F.lit(0)).cast("long"))
            .withColumn("is_contaminated",
                        F.col("contaminated_ngrams") > 0)
            .unionByName(nulls))


# --- exact repeated-SUBSTRING dedup (the suffix-array stage) ----------------

_FNV_OFF = 14695981039346656037
_FNV_PRIME = 1099511628211
_U64 = 2 ** 64


def _token_hashes(tokens: list[str], memo: dict) -> np.ndarray:
    """Deterministic 64-bit FNV-1a per token, memoised per batch (the
    vocabulary is far smaller than the token stream)."""
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = memo.get(t)
        if h is None:
            h = _FNV_OFF
            for c in t.encode("utf-8", "surrogatepass"):
                h = ((h ^ c) * _FNV_PRIME) % _U64
            memo[t] = h
        out[i] = h
    return out


def _rolling_gram_hashes(tokh: np.ndarray, L: int) -> np.ndarray:
    """All L-gram polynomial hashes of a token-hash sequence in O(n),
    fully vectorised: gram_i = Σ_k t_{i+k}·B^{L-1-k} (mod 2^64) via
    wrapping prefix sums of t_k·B^{-k} (B is odd, hence invertible mod
    2^64) re-scaled by B^{L-1+i}."""
    n = len(tokh)
    if n < L:
        return np.empty(0, dtype=np.uint64)
    B = np.uint64(_FNV_PRIME)
    invB = np.uint64(pow(_FNV_PRIME, -1, _U64))
    with np.errstate(over="ignore"):
        # powers B^0..B^{n+L-2} and invB^0..invB^{n-1} by wrapping cumprod
        bp = np.ones(n + L, dtype=np.uint64)
        bp[1:] = B
        bp = np.cumprod(bp)
        ip = np.ones(n, dtype=np.uint64)
        ip[1:] = invB
        ip = np.cumprod(ip)
        pref = np.zeros(n + 1, dtype=np.uint64)
        pref[1:] = np.cumsum(tokh * ip)
        i = np.arange(n - L + 1)
        return (pref[L + i] - pref[i]) * bp[L - 1 + i]


def dedup_substrings(df: DataFrame, key: str = "doc_id",
                     text: str = "text",
                     out: str = "text_substr_deduped",
                     min_tokens: int = 50) -> DataFrame:
    """Corpus-wide EXACT repeated-substring deduplication — the
    suffix-array stage of published LLM pipelines (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public
    knowledge): any token span of >= `min_tokens` tokens that occurs
    more than once in the corpus keeps its global FIRST occurrence
    (minimum (key, position), the dedup_lines winner rule) and is
    excised everywhere else, including repeats inside one document.

    Exact rule: token j of a document is removed iff EVERY
    `min_tokens`-gram covering it is a non-first occurrence of its gram
    text.  A repeated span of m tokens therefore loses its interior
    (m − 2·(min_tokens−1) tokens) at each later occurrence while the
    straddling boundary grams keep the span edges — the standard
    token-level approximation of byte-level suffix-array excision.  The
    FIRST occurrence is always preserved in full.

    Scale shape (suffix arrays don't distribute; rolling-hash content
    discovery does): one map-only pass emits (gram_hash, key, pos) per
    token via O(n) vectorised polynomial rolling hashes (wrapping
    uint64 prefix sums — no per-gram work); ONE groupBy on the 8-byte
    gram hash picks the global first occurrence as a combinable
    MIN(struct) with map-side partial aggregation; the duplicate
    positions join back per document and a second map-only pass excises
    tokens via a windowed all-duplicate test (prefix-count arithmetic).
    The content-DISCOVERY shuffle carries (gram_hash, key, pos) per
    token — the 8-byte gram hash plus the doc key and a 4-byte
    position, so with string keys (e.g. URLs) the repeated key
    dominates the shuffled bytes (ADVICE r06; map doc keys to a compact
    integer surrogate upstream when that matters — the operator itself
    takes whatever `key` it is given).  The same hash_shuffle trade as
    dedup_lines applies (a 2^-64 polynomial collision merges two gram
    classes); the excision join-back then shuffles the document text
    once on the doc key (the output IS text — the same caveat as
    dedup_lines' reassembly join).  The gram pass runs TWICE (the
    winner aggregate and the duplicate join both read it): recomputing
    a map-only O(n) rolling-hash stage is deliberately cheaper at
    corpus scale than materialising a token-count-row relation; the
    input itself is read twice too, so a caller whose input ends in an
    expensive stage materialises it first (as for dedup_lines).

    Caveats, documented deliberately: tokens are `str.split()`
    whitespace tokens and the output rejoins survivors with single
    spaces, so whitespace runs normalise (token-level pipelines
    tokenise downstream anyway); `key` values must be unique non-NULL
    for participating rows — NULL-key or NULL-text rows pass through
    untouched like dedup_lines."""
    key_t = dict(df.dtypes)[key]
    nulls = df.where(F.col(key).isNull() | F.col(text).isNull()) \
        .withColumn(out, F.col(text))
    live = df.where(F.col(key).isNotNull() & F.col(text).isNotNull())
    L = int(min_tokens)
    gram_schema = f"gh LONG, k {key_t}, pos INT"

    def emit_grams(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            memo: dict = {}
            ghs, ks, ps = [], [], []
            for kv, txt in zip(pdf[key], pdf[text]):
                toks = txt.split()
                g = _rolling_gram_hashes(_token_hashes(toks, memo), L)
                if len(g):
                    ghs.append(g.astype(np.int64))   # LONG column
                    ks.append(np.repeat(kv, len(g)))
                    ps.append(np.arange(len(g), dtype=np.int32))
            if not ghs:
                continue
            yield pd.DataFrame({"gh": np.concatenate(ghs),
                                "k": np.concatenate(ks),
                                "pos": np.concatenate(ps)})

    grams = live.select(key, text).mapInPandas(emit_grams,
                                               schema=gram_schema)
    winners = grams.groupBy("gh").agg(
        F.min(F.struct(F.col("k"), F.col("pos"))).alias("w"))
    dups = (grams.join(winners, on="gh")
            .where(~((F.col("w.k") == F.col("k")) &
                     (F.col("w.pos") == F.col("pos"))))
            .groupBy(F.col("k").alias(key))
            .agg(F.sort_array(F.collect_list("pos")).alias("__dpos")))
    joined = live.join(dups, on=key, how="left")
    out_fields = ", ".join(
        f"`{c}` {t}" for c, t in joined.drop("__dpos").dtypes) \
        + f", `{out}` STRING"

    def excise(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            res = []
            for txt, dpos in zip(pdf[text], pdf["__dpos"]):
                toks = txt.split()
                n = len(toks)
                if dpos is None or len(dpos) == 0 or n < L:
                    res.append(" ".join(toks))
                    continue
                dup = np.zeros(n - L + 1, dtype=np.int64)
                dup[np.asarray(dpos, dtype=np.int64)] = 1
                # token j removed iff grams [max(0,j-L+1) .. min(j,n-L)]
                # are ALL dup: zero non-dup in the covering range
                nondup_pref = np.concatenate([[0], np.cumsum(1 - dup)])
                j = np.arange(n)
                a = np.maximum(0, j - L + 1)
                b = np.minimum(j, n - L)
                removed = nondup_pref[b + 1] - nondup_pref[a] == 0
                res.append(" ".join(t for t, r in zip(toks, removed)
                                    if not r))
            o = pdf.drop(columns=["__dpos"])
            o[out] = res
            yield o

    deduped = joined.mapInPandas(excise, schema=out_fields)
    return deduped.unionByName(nulls)
