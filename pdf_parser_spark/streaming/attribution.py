"""Streaming last-touch attribution: readStream -> epoch/cents projection
(stateless, in-scan) -> per-user stateful touch-carry -> append sink.

The streaming form of w8_attribution (plans/relational.py): state is ONE
row per user — the last qualifying touch (es, event_id, type) — updated as
touches arrive and consulted when a purchase does.  Within a batch events
walk in (es, event_id) order (the batch op's exact sort); across batches
state carries the last touch forward, so a purchase in batch n+1
attributes to a touch from batch n — the thing the batch window can only
see with both rows in hand, and the reason this op is stateful at all.

Semantics stated out loud (all shared with the batch twin):
- touches are view/click/signup; error and purchase never attribute.
- lookback: a touch older than ATTR_LOOKBACK_S at purchase time yields
  'direct' — the touch still REPLACES state (it is the last touch; it is
  merely too old), exactly like the batch predicate on the carried struct.
- the registered one-batch replay makes stream order and global order
  coincide, so the batch W8 SQL is the oracle verbatim; the cross-batch
  carry is pinned in pytest with a two-batch replay.

Scale: one shuffle on user_id (state co-location); state is one small
struct per user (user dim, RocksDB in production); the walk is O(group)
per batch, no joins in the stateful stage.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pdf_parser_spark.plans.relational import ATTR_LOOKBACK_S, ATTR_TOUCHES
from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink, replay

OUTPUT_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("user_id", LongType(), True),
    StructField("value_cents", LongType(), True),
    StructField("touch_type", StringType(), True),
    StructField("touch_event_id", LongType(), True),
    StructField("gap_s", LongType(), True),
])

STATE_SCHEMA = StructType([
    StructField("tes", LongType(), True),
    StructField("tid", LongType(), True),
    StructField("tty", StringType(), True),
])


def _attr_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    batch = batch.sort_values(["es", "event_id"])
    last = state.get if state.exists else None  # (tes, tid, tty)
    out: dict[str, list] = {
        "event_id": [], "user_id": [], "value_cents": [],
        "touch_type": [], "touch_event_id": [], "gap_s": [],
    }
    for _, row in batch.iterrows():
        ty = row["event_type"]
        es = int(row["es"])
        if ty in ATTR_TOUCHES:
            last = (es, int(row["event_id"]), ty)
        elif ty == "purchase":
            hit = last is not None and es - last[0] <= ATTR_LOOKBACK_S
            out["event_id"].append(int(row["event_id"]))
            out["user_id"].append(int(user_id))
            out["value_cents"].append(int(row["value_cents"]))
            out["touch_type"].append(last[2] if hit else "direct")
            out["touch_event_id"].append(last[1] if hit else -1)
            out["gap_s"].append(es - last[0] if hit else -1)
    if last is not None:
        state.update(last)
    if out["event_id"]:
        yield pd.DataFrame(out)


def stream_attribution(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """File-source events stream -> stateless epoch/cents projection ->
    per-user stateful last-touch walk -> memory sink."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    proj = ev.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("es"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
    )
    feed = proj.groupBy("user_id").applyInPandasWithState(
        _attr_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def attribution_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch through the stateful walk; the
    batch w8_attribution SQL is the oracle verbatim."""
    return replay(
        spark, os.path.join(sf_dir, "events.parquet"), stream_attribution
    ).orderBy("event_id")
