"""Stream-stream interval join: view->click attribution.

The fourth streaming pattern beside sessionization, dedup, and windowed
aggregation — and the one whose STATE story is the interesting part: an
unbounded inner join would buffer both streams forever, so Structured
Streaming requires (a) watermarks on both sides and (b) a time-range join
condition, from which it derives exactly how long each side's rows stay
joinable.  Here a click attributes to a view by the same user within
ATTR_HOURS, so view-side state is evictable once the click watermark passes
view_ts + ATTR_HOURS and click-side state once the view watermark passes
click_ts — state is bounded by (events inside the attribution horizon),
independent of stream length.  That eviction math is what makes the join
runnable over a 10^12-event firehose where a batch join would be a
corpus x corpus shuffle.

Single-batch replay (the oracle harness): every qualifying pair is inside
the batch, so the memory sink holds the complete join — byte-equal to the
batch SQL twin by construction.

Ref analog: the reference pairs each filing's PDF values with XBRL facts
fetched in a separate step (sec_parser/xbrl ops); the streaming analog is
two live feeds joined on key + event-time proximity.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink, replay

ATTR_HOURS = 24       # click attributes to a view up to this long before it
JOIN_WATERMARK = "2 hours"


def stream_attribution_join(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    attr_hours: int = ATTR_HOURS,
    watermark: str = JOIN_WATERMARK,
):
    """File-source event stream -> split into view/click legs -> watermark
    both -> inner join on user + [view_ts, view_ts + attr_hours] -> memory
    sink (append: stream-stream inner joins only support append)."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id",
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("click_user"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    joined = views.join(
        clicks,
        F.expr(
            f"user_id = click_user AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + interval {int(attr_hours)} hours"
        ),
    ).select("user_id", "view_id", "click_id", "view_ts", "click_ts")
    return memory_sink(joined, query_name, checkpoint_dir)


def attribution_join_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness for the oracle: one batch through the real
    stream-stream join; timestamps surfaced as floor-epoch-seconds BIGINTs
    (the st_window_counts casting doctrine)."""
    return (
        replay(
            spark, os.path.join(sf_dir, "events.parquet"),
            stream_attribution_join,
        )
        .select(
            "user_id", "view_id", "click_id",
            F.col("view_ts").cast("long").alias("view_ts_s"),
            F.col("click_ts").cast("long").alias("click_ts_s"),
        )
        .orderBy("user_id", "view_id", "click_id")
    )


def stream_static_enrich(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    dim: DataFrame,
):
    """Stream-static join: enrich the event stream with a STATIC dimension
    (the other join Structured Streaming supports, and the far more common
    one in practice — every fetch stream joins a host/domain/quality dim).
    Unlike stream-stream, no watermark and no join state at all: the
    static side is (re)broadcast per micro-batch, so the join is stateless
    and the stream side never buffers — which is why dim enrichment
    belongs in this form and NOT as a stream-stream join against a
    'slowly changing' feed.  The aggregate downstream (per-tier counts)
    runs in complete mode over the enriched rows."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    joined = ev.join(F.broadcast(dim), "user_id", "left")
    agg = joined.groupBy(
        F.coalesce(F.col("tier"), F.lit("unknown")).alias("tier"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    return memory_sink(agg, query_name, checkpoint_dir, "complete")


USER_TIER_MOD = 3  # synthetic user dim: tier = user_id % 3 -> gold/silver/bronze


def user_tier_dim(spark: SparkSession) -> DataFrame:
    """Deterministic 150-user dimension (the events table's user space):
    tier from the id formula, so the oracle re-derives it in SQL."""
    return spark.range(150).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % USER_TIER_MOD == 0, "gold")
        .when(F.col("id") % USER_TIER_MOD == 1, "silver")
        .otherwise("bronze").alias("tier"),
    )


def static_enrich_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch through the real stream-static
    join + complete-mode rollup; equals the batch join GROUP BY oracle."""
    enrich = functools.partial(stream_static_enrich, dim=user_tier_dim(spark))
    return (
        replay(spark, os.path.join(sf_dir, "events.parquet"), enrich)
        .select("tier", "event_type", "n_events",
                "min_event_id", "max_event_id")
        .orderBy("tier", "event_type")
    )
