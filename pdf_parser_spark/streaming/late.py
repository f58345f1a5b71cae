"""Watermark late-data DROP semantics, held to a batch oracle.

The windowed-aggregation replay (streaming/windowed.py) proves window
arithmetic; this module proves the other half of the watermark contract:
rows arriving after the watermark has passed their window are DROPPED, not
merged — the property that bounds streaming-aggregation state at crawl
scale (without it, a single re-delivered day of events would re-open every
evicted window).

Four-file replay (maxFilesPerTrigger=1, mtime-ordered):
  batch 0: on-time rows (ts < SPLIT1)            — builds early-window state
  batch 1: mid rows (SPLIT1 <= ts < SPLIT2)      — advances the watermark,
           evicting + emitting every early window
  batch 2: batch 0 RE-DELIVERED (duplicate fetch/replay, the crawl-pipeline
           failure mode)
  batch 3: tail rows (ts >= SPLIT2)              — advances the watermark
           AGAIN, evicting everything remaining

Measured protocol (this replay pinned it): Spark's late-data FILTER for
batch N uses the watermark computed from batches 0..N-2 — i.e., the
watermark that performed batch N-1's EVICTION — while eviction in batch N
uses batches 0..N-1.  The one-batch lag is what makes append mode
exactly-once per window: a late row is dropped exactly when its window was
already emitted, and still MERGES into any window the sink has not seen
yet.  For this replay that means every re-delivered row dies except those
in the single boundary window (end > max(batch0 ts) - delay), whose count
doubles — the oracle encodes both behaviors, so a drop-path regression
(doubled counts / duplicate append rows) and a merge-path regression
(missing boundary double) both fail the hash.  The pytest additionally
asserts numRowsDroppedByWatermark > 0 on the re-delivery batch.

Scale notes: state is one row per open (window, event_type) group; the
drop path is what keeps it bounded under re-delivery storms.  The replay
harness is test scaffolding — production is the same plan over a real file
or Kafka source.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, land, memory_sink

SPLIT1 = "2024-01-11 00:00:00"  # batch0/batch1 boundary (all SFs span Jan)
SPLIT2 = "2024-01-21 00:00:00"  # batch1/batch3 boundary
WATERMARK = "30 minutes"
WINDOW = "1 hour"


def late_replay(spark: SparkSession, sf_dir: str):
    """Run the four-batch replay; returns (result_df, progress) where
    progress is the list of per-batch StreamingQueryProgress dicts (the
    pytest asserts numRowsDroppedByWatermark from it)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    b0 = ev.where(F.col("ts") < F.lit(SPLIT1))
    b1 = ev.where((F.col("ts") >= F.lit(SPLIT1)) & (F.col("ts") < F.lit(SPLIT2)))
    b3 = ev.where(F.col("ts") >= F.lit(SPLIT2))

    name = "late_" + uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory(
        prefix="late_replay_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        now = time.time()
        for f, df, mtime in (
            ("batch0.parquet", b0, now - 300),
            ("batch1.parquet", b1, now - 200),
            ("batch2.parquet", b0, now - 100),  # re-delivery
            ("batch3.parquet", b3, now),
        ):
            # explicit mtimes: the file source replays in mtime order
            os.utime(land(df, in_dir, f), (mtime, mtime))

        events = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        agg = (
            events.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", WINDOW), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
            )
        )
        q = memory_sink(agg, name, os.path.join(work, "ckpt"))
        q.processAllAvailable()
        progress = [p for p in q.recentProgress]
        q.stop()
    out = (
        spark.table(name)
        .select(
            F.col("window.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "min_event_id",
            "max_event_id",
        )
        .orderBy("window_start", "event_type")
    )
    return out, progress


def late_events_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-query face: emitted windows only (re-delivered rows dropped)."""
    out, _ = late_replay(spark, sf_dir)
    return out
