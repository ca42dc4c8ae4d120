"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and the driver all
run the same configuration.  AQE is on (runtime skew-join splitting +
partition coalescing), Arrow is on for the pandas-UDF geometry kernel, and
shuffle partitions default to a small-local-mode value that bench overrides
per parallelism level.  The codegen cache is sized to the query working
set, so a repeated query reuses its compiled (and JIT-warmed) classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "hexscape_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))))
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false")
         # codegen cache sized to the query working set (a static conf, so
         # it must be set before the session starts).  Counted with
         # CodegenMetrics.METRIC_COMPILATION_TIME().getCount() at local[4]:
         # the 22 bench queries compile 275 distinct classes on the bench
         # tables, all 50 contract queries about 700 (275 + 412 on a first
         # run, 16 more on a second).  Under the default of 100 entries
         # every warm pass of the 22 recompiled 284-288 classes, and each
         # recompiled class starts interpreted again.
         .config("spark.sql.codegen.cache.maxEntries", "1024")
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
