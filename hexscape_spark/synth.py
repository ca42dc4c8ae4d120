"""Deterministic synthetic inputs (no external data).

`pages(spark, n)` builds the Common-Crawl-style table of BASELINE.json's
input_hint — (url:string, warc_ts:timestamp, html:binary, text:string,
lang:string) — entirely with spark.range + JVM expressions, so a 10^9-row
generation is a map-only distributed job.  FIXTURES.md F1 generation rules.

`land_use_square(...)` builds the F4 CLC-like categorical polygon layers
over the 50x50 landscape (disjoint rectangles, coverage gaps, one
Impassable block) driver-side as WKB bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geo


_WORDS = ("the data spark shuffle join hex cell page crawl web text token "
          "stream table scan merge filter group query row").split()


def pages(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """Deterministic pages table; text derives from the row id only, so it is
    reproducible and byte-identical per url across any number of runs."""
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    word = F.lit(" ") if False else None
    words = [F.lit(w) for w in _WORDS]
    # 12 deterministic words per doc, chosen by mixing the id
    parts = []
    for j in range(12):
        h = F.pmod(F.col("id") * (48271 + j * 2) + j * 7919, F.lit(len(_WORDS)))
        parts.append(F.element_at(F.array(*words), (h + 1).cast("int")))
    text = F.concat_ws(" ", *parts)
    df = (df
          .withColumn("url", F.concat(F.lit("https://site"),
                                      F.pmod(F.col("id"), F.lit(1000)).cast("string"),
                                      F.lit(".example/"), F.col("id").cast("string")))
          .withColumn("warc_ts", F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 7))
          .withColumn("text", text)
          .withColumn("html", F.encode(F.concat(F.lit("<html><body>"), text,
                                                F.lit("</body></html>")), "UTF-8"))
          .withColumn("lang", F.element_at(
              F.array(F.lit("en"), F.lit("de"), F.lit("da"), F.lit("et"), F.lit("pl")),
              (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int")))
          .withColumnRenamed("id", "page_id"))
    return df.select("page_id", "url", "warc_ts", "html", "text", "lang")


def land_use_square(scale: float = 1.0) -> list[tuple[str, str, bytes]]:
    """F4 layers over the (0,0)-(50s,50s) square: disjoint rectangles/L-shapes
    covering ~60%, one Impassable block, deliberate gaps.

    Returns [(category, kind, wkb)] with kind in {Impassable, Passable, other}.
    """
    s = scale

    def R(x0, y0, x1, y1):
        return geo.rect_wkb(x0 * s, y0 * s, x1 * s, y1 * s)

    def L(x0, y0, x1, y1, x2, y2):
        # L-shape = two rectangles merged into one multipolygon (disjoint refs)
        return geo.multipolygon_to_wkb([
            [geo.rect_ring(x0 * s, y0 * s, x1 * s, y1 * s)],
            [geo.rect_ring(x0 * s, y1 * s, x2 * s, y2 * s)],
        ])

    return [
        ("Passable", "Passable", R(0, 0, 20, 15)),
        ("Low", "Low", L(25, 0, 50, 10, 35, 22)),
        ("Medium", "Medium", R(0, 20, 18, 38)),
        ("High", "High", R(22, 28, 44, 46)),
        ("Impassable", "Impassable", R(5, 42, 15, 50)),
        # gaps: everything else is MISSING coverage (exercises the
        # MISSING_CC path semantics, R/extract_corine.R:177-205)
    ]
