"""spark-submit entry point (north rule: `spark-submit --py-files`).

Usage:
    python -m hexscape_spark.cli package           # build dist/hexscape_spark.zip
    spark-submit --py-files dist/hexscape_spark.zip \
        -m hexscape_spark.cli run --job cell_rollup \
        --pages /path/pages_parquet --out /path/out \
        [--checkpoint-root /path/ckpts] [--resume]

Jobs:
    cell_rollup     pages -> geocode -> hex assign -> per-cell rollup
    patches         tile a rectangular landscape + land-use rollup
    neighbours      adjacency edges for the tiled landscape
    dedup           MinHash+LSH near-duplicate candidate pairs
    webtext         .warc.gz -> HTTP-stripped HTML -> visible text
                    -> quality filter -> exact dedup (clean corpus)
    landcover       extract_landcover over a (poly_id, clc, geom_wkb)
                    parquet, optional --regroup level

The two-parallelism scaling run is not a job: run `python BENCH/scaling.py`.

Every stage checkpoints through hexscape_spark.checkpoint (per-partition
lineage + row/byte metrics in _lineage.json); re-running with --resume and
unchanged params reuses finished stages instead of recomputing.
"""

from __future__ import annotations

import argparse
import json

import pandas as pd
import os
import sys
import zipfile


def build_zip(out_dir: str = "dist") -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "hexscape_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for fname in sorted(os.listdir(pkg_dir)):
            if fname.endswith(".py"):
                z.write(os.path.join(pkg_dir, fname),
                        arcname=f"hexscape_spark/{fname}")
    return zip_path


def job_cell_rollup(spark, args) -> None:
    from pyspark.sql import functions as F
    from . import hexgrid
    from .checkpoint import checkpoint

    pages = spark.read.parquet(args.pages)
    assigned = hexgrid.with_hex_cell(hexgrid.with_geocode(pages, "page_id"))
    mode = "reuse" if args.resume else "overwrite"
    if args.checkpoint_root:
        assigned = checkpoint(assigned.select("page_id", "cell_id", "q", "r",
                                              F.length("text").alias("n_chars")),
                              args.checkpoint_root, "assigned",
                              params={"pages": args.pages}, mode=mode)
    else:
        assigned = assigned.select("page_id", "cell_id", "q", "r",
                                   F.length("text").alias("n_chars"))
    cells = assigned.groupBy("cell_id", "q", "r").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_chars").alias("sum_chars"))
    cells.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"job": "cell_rollup",
                      "cells": spark.read.parquet(args.out).count()}))


def job_patches(spark, args) -> None:
    from . import geo
    from .synth import land_use_square
    from .tiling import generate_patches

    land = geo.rect_wkb(0.0, 0.0, args.size, args.size)
    p = generate_patches(spark, land, hex_width=args.hex_width,
                         reference_point=(0.0, 0.0),
                         land_use=land_use_square(args.size / 50.0))
    p.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"job": "patches",
                      "patches": spark.read.parquet(args.out).count()}))


def job_neighbours(spark, args) -> None:
    from . import geo
    from .neighbours import generate_neighbours
    from .tiling import generate_patches

    land = geo.rect_wkb(0.0, 0.0, args.size, args.size)
    p = generate_patches(spark, land, hex_width=args.hex_width,
                         reference_point=(0.0, 0.0))
    nb = generate_neighbours(p, land, hex_width=args.hex_width)
    nb.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"job": "neighbours",
                      "edges": spark.read.parquet(args.out).count()}))


def job_dedup(spark, args) -> None:
    """Near-duplicate candidate pairs over a documents/pages parquet
    (MinHash+LSH banding with the bucket cap; the same md5-folded
    minhash_lsh_pairs the oracle-checked minhash_pairs query runs).  The
    cap defaults ON here (--max-bucket 10000, 0 disables): this is the
    production job, and one degenerate boilerplate bucket of m members
    emits m²/2 pairs — r5 caught this job emitting 10M pairs from a
    20k-doc corpus whose docstring claimed the cap it never passed."""
    from .dedup import minhash_lsh_pairs

    docs = spark.read.parquet(args.pages)
    key = "doc_id" if "doc_id" in docs.columns else "page_id"
    pairs = minhash_lsh_pairs(docs, key=key, num_hashes=args.num_hashes,
                              bands=args.bands,
                              max_bucket=args.max_bucket or None)
    pairs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"job": "dedup",
                      "pairs": spark.read.parquet(args.out).count()}))


def job_webtext(spark, args) -> None:
    """The CommonCrawl-shaped text pipeline: .warc.gz segments ->
    response records -> HTML visible-text extraction -> corpus-wide
    boilerplate LINE dedup (r5) -> token/quality/language enrichment ->
    repetition filter -> exact dedup (keep first) -> optional
    repeated-SUBSTRING excision (r6, --substr-dedup N).  `--pages` is
    the WARC glob; output is the clean corpus."""
    from pyspark.sql import functions as F

    from .checkpoint import cached, materialise
    from .dedup import dedup_keep_first, dedup_lines
    from .textops import (with_html_text, with_lang_guess,
                          with_quality_filter, with_token_count)
    from .warc import http_body, read_warc

    @F.pandas_udf("binary")
    def _body(p: pd.Series) -> pd.Series:
        # real CC response records carry the full HTTP message; strip the
        # status line + headers before text extraction (r4 review).
        # Decoding happens inside with_html_text (utf-8 with replacement
        # - a strict JVM decode would fail the task on one mojibake page)
        return p.map(lambda b: http_body(bytes(b)))

    docs = read_warc(spark, args.pages) \
        .withColumn("html", _body(F.col("payload")))
    with cached(docs) as docs:   # one WARC parse for count + write
        txt = with_html_text(docs, "html").select("url", "warc_date", "text")
        # boilerplate lines (nav menus, cookie banners, footers) survive
        # only at their first corpus occurrence before quality stats are
        # computed.  dedup_lines needs a UNIQUE key and real crawls repeat
        # URLs (re-crawls, records with no WARC-Target-URI): drop byte-
        # identical re-fetches of a URL first, then key on
        # url#xxhash64(text)#row_number-within-
        # (url, hash).  The row_number disambiguates genuine 64-bit hash
        # collisions, so the key is collision-FREE (the r5 url#hash key
        # silently merged colliding documents — ADVICE r05), and the window
        # partitions on (url, HASH) so its per-partition text sort touches
        # only actual collisions (~1 row): partitioning on url alone would
        # funnel every NULL-url record — real crawls have many — into ONE
        # task sorting full document text (r6 review).
        from pyspark.sql import Window as W
        txt = (txt.groupBy("url", "text")
               .agg(F.min("warc_date").alias("warc_date"))  # deterministic
               .withColumn("__h", F.xxhash64("text"))
               .withColumn("__doc_key", F.concat_ws(
                   "#", F.col("url"), F.col("__h").cast("string"),
                   F.row_number().over(
                       W.partitionBy("url", "__h").orderBy("text"))
                   .cast("string")))
               .drop("__h"))
        # hash_shuffle=True is the corpus-scale default here (VERDICT r05 #7):
        # the winner aggregation + its join side move 8-byte xxhash64 line
        # keys instead of full line text.  Trade: two distinct LINES that
        # collide (~2^-64 per pair) merge their dedup classes — one line is
        # dropped where it should survive; documents are never merged (the
        # reassembly key above stays exact).  The exact mode remains the
        # library default for oracle-grade semantics.
        txt = dedup_lines(txt, key="__doc_key", hash_shuffle=True) \
            .drop("text") \
            .withColumnRenamed("text_line_deduped", "text")
        enriched = with_lang_guess(with_token_count(txt))
        filtered = with_quality_filter(enriched)
        clean = dedup_keep_first(filtered.withColumnRenamed("url", "doc_id"),
                                 key="doc_id")
        if args.substr_dedup:
            # opt-in suffix-array-style stage (r6): excise >=N-token spans
            # repeated anywhere in the corpus, keeping first occurrences.
            # Runs AFTER exact dedup (whole-doc copies are cheaper there)
            # and last overall so excision sees the final document set.
            # Keyed on the unique __doc_key: doc_id (the url) repeats when
            # one url was fetched with different texts.
            from .dedup import dedup_substrings
            # Python stage: the enrichment UDFs feed both substring passes
            clean = dedup_substrings(materialise(clean), key="__doc_key",
                                     min_tokens=args.substr_dedup) \
                .drop("text").withColumnRenamed("text_substr_deduped", "text")
        clean.drop("__doc_key").write.mode("overwrite").parquet(args.out)
        n_in = docs.count()
    n_out = spark.read.parquet(args.out).count()
    print(json.dumps({"job": "webtext", "records_in": n_in,
                      "docs_out": n_out}))


def job_landcover(spark, args) -> None:
    """extract_landcover over a land-cover parquet
    (poly_id, clc, geom_wkb) against a square mask, optional regroup."""
    from . import geo
    from .pipeline import extract_landcover

    lc = spark.read.parquet(args.pages)
    res = extract_landcover(
        spark, lc, geo.rect_wkb(0.0, 0.0, args.size, args.size),
        regroup=args.regroup, hex_width=args.hex_width,
        checkpoint_root=args.checkpoint_root, resume=args.resume)
    res["cells"].write.mode("overwrite").parquet(args.out)
    # r3: the dissolved table now carries TRUE union boundaries + the
    # MISSING_CC gap geometry — persist it as the vector artifact
    res["dissolved"].write.mode("overwrite").parquet(args.out + "_dissolved")
    print(json.dumps({
        "job": "landcover",
        "cells": spark.read.parquet(args.out).count(),
        "dissolved": spark.read.parquet(args.out + "_dissolved").count()}))


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(prog="hexscape_spark.cli")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("package")
    runp = sub.add_parser("run")
    runp.add_argument("--job", required=True,
                      choices=["cell_rollup", "patches", "neighbours",
                               "dedup", "landcover", "webtext"])
    runp.add_argument("--pages")
    runp.add_argument("--out", required=True)
    runp.add_argument("--checkpoint-root")
    runp.add_argument("--resume", action="store_true")
    runp.add_argument("--hex-width", type=float, default=2.0)
    runp.add_argument("--size", type=float, default=50.0)
    runp.add_argument("--num-hashes", type=int, default=32)
    runp.add_argument("--bands", type=int, default=8)
    runp.add_argument("--substr-dedup", type=int, default=0,
                      metavar="N", help="webtext: also excise token "
                      "spans >= N repeated anywhere in the corpus "
                      "(0 = off; 50 is the published convention)")
    runp.add_argument("--max-bucket", type=int, default=10_000,
                      help="LSH bucket cap for the dedup job (0 = no cap)")
    runp.add_argument("--regroup", type=int, default=None,
                      help="CLC regroup level 1-3 (landcover job)")
    args = ap.parse_args(argv)

    if args.cmd == "package":
        print(build_zip())
        return

    from .session import get_spark
    spark = get_spark(app=f"hexscape-{args.job}")
    try:
        {"cell_rollup": job_cell_rollup,
         "webtext": job_webtext,
         "patches": job_patches,
         "neighbours": job_neighbours,
         "dedup": job_dedup,
         "landcover": job_landcover}[args.job](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
