"""Skew handling: salted two-phase aggregation on heavy-hitter keys.

The north rule names dense urban/coastal cells as the skew hazard: a
groupBy(cell_id) over 10^12 pages puts 10^9 rows on one reducer for a hot
city cell.  The fix mirrors the reference's count-first planning
(R/extract_corine.R:63-78 plans chunks from per-code counts): an exact
per-key count finds heavy keys, heavy rows get a salt from a hash of a
payload column, and the aggregation runs in two phases
(partial on (key, salt) -> final on key).  AQE's skew-join splitting covers
joins; this covers aggregations, which AQE does not re-salt.

Only algebraic aggregates (count/sum/min/max) compose across phases; means
are derived as sum/count at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key: str, sums: list[str],
               salt_col: str, buckets: int,
               heavy_threshold: int) -> DataFrame:
    """groupBy(key).agg(count, sum(c) for c in sums) with heavy keys salted.

    A key is heavy when it has at least `heavy_threshold` rows (one
    counting pass over the input).  salt = xxhash64(salt_col) % buckets
    for heavy keys, 0 otherwise — derived from row content, so
    deterministic under retries.  Phase 1 reduces each (key, salt)
    bucket; phase 2 merges the <=buckets partials per key.  Light keys
    pay one extra no-op merge row.
    """
    heavy = (df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
             .where(F.col("__n") >= heavy_threshold))
    marked = df.join(F.broadcast(heavy.select(key).withColumn("__heavy", F.lit(True))),
                     on=key, how="left")
    salted = marked.withColumn(
        "__salt",
        F.when(F.col("__heavy").isNotNull(),
               F.pmod(F.xxhash64(F.col(salt_col)), F.lit(buckets)))
        .otherwise(F.lit(0)))
    phase1 = (salted.groupBy(key, "__salt")
              .agg(F.count(F.lit(1)).alias("__n"),
                   *[F.sum(c).alias(f"__sum_{c}") for c in sums]))
    return (phase1.groupBy(key)
            .agg(F.sum("__n").alias("n"),
                 *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sums]))
