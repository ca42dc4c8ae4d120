"""Structured Streaming surface: the streaming hourly per-cell rollup.

The reference is entirely batch (SURVEY §2.8 — verified across all 24 R
files), and streaming is in scope only as far as a query runs it: the
``streaming_cell_rollup`` query drains a file stream of events ->
deterministic geocode -> hex assign (the same pure-column expressions as
batch — one code path) -> watermarked hourly per-cell aggregation.

Late data is handled by the watermark; state is bounded by
(cells x windows); exactly-once sinks come from checkpointing.  The
availableNow trigger over a parquet directory exercises the real
micro-batch engine deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hexgrid


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File stream over the TESTDATA events schema."""
    schema = ("event_id LONG, ts TIMESTAMP, user_id LONG, "
              "event_type STRING, value DOUBLE, props STRING")
    return spark.readStream.schema(schema).parquet(path)


def streaming_events_hour_cell(events: DataFrame,
                               watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly per-cell event rollup — the streaming form of the
    batch events_hex_rollup, sharing sqlgen's exact geocode/assign
    expressions so the driver's DuckDB oracle (batch SQL + the append-mode
    emission filter window_end <= max(ts) - watermark) reproduces it
    bit-for-bit.  Hour key is a rendered string (see events_hour_rollup).
    """
    g = hexgrid.with_hex_cell(hexgrid.with_geocode(events, "event_id"))
    return (g.withWatermark("ts", watermark)
            .groupBy(F.window(F.col("ts"), "1 hour").alias("w"),
                     F.col("cell_id"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)"))
                 .alias("sum_cents"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("hour_key"),
                    "cell_id", "n",
                    F.col("sum_cents").cast("long").alias("sum_cents")))


def run_available_now(result: DataFrame, checkpoint_dir: str,
                      out_dir: str) -> None:
    """Drain everything currently available and stop (deterministic test/
    backfill mode); append-mode parquet sink with exactly-once checkpoint."""
    q = (result.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
