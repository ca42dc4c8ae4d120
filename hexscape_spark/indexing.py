"""Scalable global dense indexing.

The reference assigns patch Index as a dense 1..n over the total order
(is.na(Index), q, r) (R/generate_patches.R:200-201).  A naive
``row_number() OVER (ORDER BY q, r)`` collapses to a single partition — fine
at 10^4 rows, fatal at 10^9.  This helper gets the identical numbering with
a range-partitioned sort + per-partition offsets (two light jobs, no
single-partition shuffle): the standard zipWithIndex pattern expressed on
DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .checkpoint import cached, materialise


def dense_index(df: DataFrame, order_cols: list[str], out: str = "Index",
                start: int = 1, small: bool = False) -> DataFrame:
    """Add a dense global index following the total order of `order_cols`.

    Equivalent to row_number() over a global window, but scalable: rows are
    range-partitioned by the sort key, numbered within partitions, and
    shifted by the exclusive prefix-sum of partition counts (collected to
    the driver — one long per partition).

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
            out, (F.row_number().over(w) + (start - 1)).cast("long")))
    # repartitionByRange SAMPLES its input to pick boundaries — the df
    # cache keeps the upstream lineage (e.g. the clip UDF) from running
    # for the sample pass and again for every downstream job; the sdf
    # cache gives the counts job and the numbering job one partitioning
    with cached(df) as df, cached(
            df.repartitionByRange(*order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("__pid", F.spark_partition_id())) as sdf:
        counts = {row["__pid"]: row["cnt"] for row in sdf.groupBy("__pid")
                  .agg(F.count(F.lit(1)).alias("cnt")).collect()}
        offsets = {}
        acc = start
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        offmap = F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv]) \
            if offsets else F.create_map()
        w = Window.partitionBy("__pid").orderBy(*order_cols)
        # plan barrier: the numbered rows outlive both caches (VERDICT r01 #6)
        return materialise(
            sdf.withColumn("__rn", F.row_number().over(w) - F.lit(1))
            .withColumn(out, (offmap[F.col("__pid")] + F.col("__rn"))
                        .cast("long"))
            .drop("__pid", "__rn"))


def global_cumsum(df: DataFrame, order_cols: list[str], value: str,
                  out: str = "cumsum", ascending: bool = True) -> DataFrame:
    """Globally-ordered running sum of `value` (W4) WITHOUT the
    single-partition window a bare ``SUM OVER (ORDER BY ...)`` collapses
    to: range-partition on the sort key, cumsum within partitions, shift
    by the exclusive prefix-sum of per-partition totals (one long per
    partition on the driver) — the dense_index pattern for sums."""
    cols = [F.col(c) if ascending else F.desc(c) for c in order_cols]
    # the same two caches as dense_index (repartitionByRange samples)
    with cached(df) as df, cached(
            df.repartitionByRange(*cols).sortWithinPartitions(*cols)
            .withColumn("__pid", F.spark_partition_id())) as sdf:
        totals = {row["__pid"]: row["t"] for row in sdf.groupBy("__pid")
                  .agg(F.sum(value).alias("t")).collect()}
        # keep INTEGER sums exact: SUM(long) collects as Python int, and
        # int offsets emitted as long literals keep the running sum exact
        # past 2^53 where a float accumulator would silently round (r4
        # review — with_pack_index's window ids depend on this)
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
        w = Window.partitionBy("__pid").orderBy(*cols) \
            .rowsBetween(Window.unboundedPreceding, 0)
        # plan barrier: the running sums outlive both caches
        return materialise(sdf.withColumn("__c", F.sum(value).over(w))
                           .withColumn(out, offmap[F.col("__pid")]
                                       + F.col("__c"))
                           .drop("__pid", "__c"))
