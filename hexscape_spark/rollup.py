"""Per-cell rollups — the aggregation surface of SURVEY.md §2.4/§2.5.

All built-in JVM aggregations (partial+final hash agg, free map-side
combine); mode/argmax uses windows (A9); weighted sampling uses the seeded
Gumbel trick (W7) so results are deterministic under retries/speculation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cell_stats(df: DataFrame, value: str, key: str = "cell_id") -> DataFrame:
    """A1/A4/A7: grouped sum/mean/min/max."""
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value).alias(f"sum_{value}"),
        F.avg(value).alias(f"avg_{value}"),
        F.min(value).alias(f"min_{value}"),
        F.max(value).alias(f"max_{value}"),
    )


def mode_rollup(df: DataFrame, group: str, value: str,
                out: str = "mode_value") -> DataFrame:
    """A9: per-group mode = argmax count, ties broken by value ascending
    (deterministic, mirrors the reference's (Border desc, nb_area desc)
    argmax pattern, R/generate_neighbours.R:163-168)."""
    counts = df.groupBy(group, value).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(group).orderBy(F.desc("cnt"), F.asc(value))
    return (counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col(group), F.col(value).alias(out),
                    F.col("cnt").alias("mode_count")))


def area_weighted_mean(df: DataFrame, group: str, value: str,
                       weight: str, out: str | None = None) -> DataFrame:
    """A4: sum(x*w)/sum(w) per group (R/generate_connectedness.R:229-233)."""
    out = out or f"wmean_{value}"
    return df.groupBy(group).agg(
        (F.sum(F.col(value) * F.col(weight)) / F.sum(weight)).alias(out))


def grouped_share(df: DataFrame, group: str, value: str,
                  out: str = "share") -> DataFrame:
    """A6: x / sum(x) within group (R/generate_patches.R:313-314)."""
    w = Window.partitionBy(group)
    return df.withColumn(out, F.col(value) / F.sum(value).over(w))


def top_k_per_group(df: DataFrame, group: str, order_desc: str, k: int,
                    tiebreak: str | None = None) -> DataFrame:
    """W2/W3: top-k rows per group with deterministic tiebreak."""
    order = [F.desc(order_desc)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(group).orderBy(*order)
    return (df.withColumn("rank_in_group", F.row_number().over(w))
            .where(F.col("rank_in_group") <= k))


def weighted_sample_per_group(df: DataFrame, group: str, weight: str,
                              seed_col: str, n: int = 1) -> DataFrame:
    """W7: seeded Gumbel-max weighted sampling without replacement.

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
            .where(F.col("__rn") <= n).drop("__g", "__rn"))


def pivot_wide(df: DataFrame, group: str, pivot_col: str, value: str,
               agg: str = "sum", categories: list[str] | None = None,
               fill: float = 0.0) -> DataFrame:
    """A5: long -> wide spread with fill (R/generate_patches.R:312-326).

    Passing `categories` avoids the extra distinct-values job at scale.
    """
    p = df.groupBy(group).pivot(pivot_col, categories)
    out = p.agg(F.expr(f"{agg}({value})"))
    return out.fillna(fill)
