"""Watermarked windowed aggregation over the events stream.

Same logical aggregation as plans/queries.q_events_windowed, expressed as
a Structured Streaming query with a 1-hour watermark: late events within
the watermark still update their window; events later than that are
dropped and the window state is evicted (bounded state at 10^12-event
scale — state size is O(open windows x event_types), not O(events)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from pdf2ocr_spark.streaming.ingest import start_file_stream


def windowed_event_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.sum("value") * 10000 + F.lit(0.5)).cast("long").alias(
                "sum_value_bp"
            ),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_bp",
        )
    )


#: the events table as the stream reads it (``ts`` as TIMESTAMP: the
#: watermark needs it)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def run_windowed_stream(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str
) -> None:
    """AvailableNow runner over a parquet file stream of events."""
    start_file_stream(
        spark, EVENTS_SCHEMA, windowed_event_counts, input_dir, output_dir,
        checkpoint_dir, max_files_per_trigger=4,
    ).awaitTermination()
