"""Scalable global dense indexing.

The reference assigns patch Index as a dense 1..n over the total order
(is.na(Index), q, r) (R/generate_patches.R:200-201).  A naive
``row_number() OVER (ORDER BY q, r)`` collapses to a single partition — fine
at 10^4 rows, fatal at 10^9.  This helper gets the identical numbering with
a range-partitioned sort + per-partition offsets (two light jobs, no
single-partition shuffle): the standard zipWithIndex pattern expressed on
DataFrames, shared with the running sum (global_cumsum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .checkpoint import cached, materialise


def dense_index(df: DataFrame, order_cols: list[str], out: str = "Index",
                small: bool = False) -> DataFrame:
    """Add a dense global index 1..n following the total order of
    `order_cols`.

    Equivalent to row_number() over a global window, but scalable: the
    index is global_cumsum of a constant 1 (a ROWS-frame running count is
    row_number).

    `small=True` (r7, guide §1.2): callers that KNOW the row count is
    bounded (e.g. a lattice whose dimensions are computed driver-side)
    take the plain single-window path — identical numbering, ONE job
    (the checkpoint) instead of three (range-partition sample, counts
    collect, checkpoint).  The single-partition sort that makes this
    non-scalable is exactly why it is opt-in.
    """
    if small:
        w = Window.orderBy(*order_cols)
        # Python stage: callers reuse the rows; their clip UDF must not re-run
        return materialise(df.withColumn(
            out, F.row_number().over(w).cast("long")))
    return global_cumsum(df, order_cols, F.lit(1), out) \
        .withColumn(out, F.col(out).cast("long"))


def global_cumsum(df: DataFrame, order_cols: list[Column | str],
                  value: Column | str, out: str = "cumsum") -> DataFrame:
    """Globally-ordered running sum of `value` (W4) WITHOUT the
    single-partition window a bare ``SUM OVER (ORDER BY ...)`` collapses
    to: range-partition on the sort columns (``F.desc`` for a descending
    sum), cumsum within partitions, shift by the exclusive prefix-sum of
    per-partition totals (one number per partition on the driver)."""
    # repartitionByRange SAMPLES its input to pick boundaries — the df
    # cache keeps the upstream lineage (e.g. the clip UDF) from running
    # for the sample pass and again for every downstream job; the sdf
    # cache gives the totals job and the cumsum job one partitioning
    with cached(df) as df, cached(
            df.repartitionByRange(*order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("__pid", F.spark_partition_id())) as sdf:
        totals = {row["__pid"]: row["t"] for row in sdf.groupBy("__pid")
                  .agg(F.sum(value).alias("t")).collect()}
        # keep INTEGER sums exact: SUM(long) collects as Python int, and
        # int offsets emitted as long literals keep the running sum exact
        # past 2^53 where a float accumulator would silently round (r4
        # review)
        integral = all(t is None or isinstance(t, int)
                       for t in totals.values())
        offsets = {}
        acc = 0 if integral else 0.0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid] or (0 if integral else 0.0)
        pairs = []
        for pid, off in offsets.items():
            pairs.append(F.lit(pid))
            pairs.append(F.lit(off).cast("long") if integral else F.lit(off))
        offmap = F.create_map(*pairs) if offsets else F.create_map()
        w = Window.partitionBy("__pid").orderBy(*order_cols) \
            .rowsBetween(Window.unboundedPreceding, 0)
        # plan barrier: the running sums outlive both caches
        return materialise(sdf.withColumn("__c", F.sum(value).over(w))
                           .withColumn(out, offmap[F.col("__pid")]
                                       + F.col("__c"))
                           .drop("__pid", "__c"))
