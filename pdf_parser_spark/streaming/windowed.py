"""Watermarked tumbling-window aggregation over the event stream.

The third streaming pattern beside stateful sessionization
(streaming/sessionize.py) and exact dedup (streaming/dedup.py): event-time
tumbling windows with a late-data watermark — the canonical Structured
Streaming shape for per-hour crawl/traffic rollups.

Scale notes: state is one row per open (window, event_type) group, evicted
as the watermark passes the window end — bounded by (windows-in-watermark ×
event types), independent of stream length.  The groupBy shuffles once on
the (window, event_type) key; late rows older than the watermark are
dropped before state lookup.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink, replay


def stream_window_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    output_mode: str = "append",
):
    """File-source event stream -> withWatermark -> tumbling-window groupBy
    -> memory sink.  In append mode a window row is emitted exactly once,
    when the watermark passes its end; rows arriving later than the
    watermark are dropped (tested in test_streaming_window_counts)."""
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    return memory_sink(agg, query_name, checkpoint_dir, output_mode)


def window_counts_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness for the oracle: one batch in complete mode (a
    single-batch replay never advances the watermark past the tail windows,
    so append mode would under-emit; complete mode yields every window and
    must equal the batch GROUP BY date_trunc oracle exactly)."""
    complete = functools.partial(stream_window_counts, output_mode="complete")
    return (
        replay(spark, os.path.join(sf_dir, "events.parquet"), complete)
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "min_event_id",
            "max_event_id",
        )
        .orderBy("window_start", "event_type")
    )
