"""Seeded weighted sampling per group (SURVEY.md §2.5 W7).

The other rollups of §2.4/§2.5 (grouped stats, mode, share, top-k, pivot)
are written by the queries that run them, in their own tuned or shared
SQL; see the A1-A9 and W2/W3 rows of STATUS.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def weighted_sample_per_group(df: DataFrame, group: str, weight: str,
                              seed_col: str) -> DataFrame:
    """W7: seeded Gumbel-max weighted sampling: one row per group.

    key = -log(-log(u)) / w with u = deterministic hash of seed_col — unlike
    rand(), stable under task retries and speculation (SURVEY.md §7.3 item 7).
    Mirrors slice_sample(weight_by=) (R/randomise_voronoi.R:207).
    """
    u = (F.pmod(F.xxhash64(F.col(seed_col)), F.lit(2147483647)).cast("double")
         + F.lit(1.0)) / F.lit(2147483648.0)
    gumbel = -F.log(-F.log(u)) + F.log(F.col(weight))
    w = Window.partitionBy(group).orderBy(F.desc(gumbel))
    return (df.withColumn("__g", gumbel)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__g", "__rn"))
