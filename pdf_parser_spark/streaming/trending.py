"""Streaming time-decayed trending counts: readStream -> stateless
window-bucket projection -> per-key stateful decay fold -> append sink.

The decayed-count trending model every "what's hot right now" surface
runs: a key's score is its event count folded with exponential decay per
elapsed event-time window — score_w = floor(score_prev / 2^gap) + count_w
— so a burst fades with a half-life of one window instead of poisoning
the ranking forever (the streaming analog of the Leaky-Counter /
forward-decay family, Cormode et al., "Forward Decay: A Practical Time
Decay Model for Streaming Systems", ICDE 2009; halving per window is
forward decay with base 2 kept in exact BIGINTs).

State per key is TWO integers (last window id, decayed score).  Within a
batch the key's windows fold in ascending order with the exact
floor-shift chain; across batches the (window, score) pair carries, so a
batch-2 window resumes the decay from batch 1's standing — the cross-
batch carry that makes this op stateful, pinned in pytest with a
two-batch replay.  Late windows (window <= state's last window, arriving
in a LATER batch) fold at gap 0 when equal and are DROPPED when strictly
older — watermark semantics stated, not hidden; the in-batch walk never
drops because it sorts its own windows.

Gap shifts clamp at TREND_SHIFT_CLAMP (a >62-window silence zeroes the
carry outright) so the BIGINT shift can never overflow — the clamp is in
both engines or the hash would catch it.

The registered one-batch replay makes stream order and global order
coincide, so the oracle is the SAME fold as a recursive CTE over the
per-key window sequence (one row per (key, window) step — bounded by the
window dim, not the event stream).

Scale: one shuffle on the key (state co-location); state is two BIGINTs
per key (RocksDB at term-cardinality in production); the fold is
O(windows-in-batch) per key with no joins in the stateful stage.  The
top-k standing is a downstream rank over the emitted series — kept out
of the stateful stage on purpose (a global top-k needs a global view;
the per-key fold stays embarrassingly key-parallel).
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

from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink, replay

TREND_WINDOW_S = 3600       # one event-time window = one decay half-life
TREND_SHIFT_CLAMP = 62      # gaps beyond this zero the carried score

OUTPUT_SCHEMA = StructType([
    StructField("event_type", StringType(), True),
    StructField("win", LongType(), True),
    StructField("n_events", LongType(), True),
    StructField("decayed", LongType(), True),
])

STATE_SCHEMA = StructType([
    StructField("win", LongType(), True),
    StructField("decayed", LongType(), True),
])


def _decay_step(prev: int, gap: int, count: int) -> int:
    if gap > TREND_SHIFT_CLAMP:
        return count
    return (prev >> gap) + count


def _trend_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (event_type,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    counts = batch.groupby("win").size().sort_index()
    last_win, decayed = state.get if state.exists else (None, 0)
    out = {"event_type": [], "win": [], "n_events": [], "decayed": []}
    for win, cnt in counts.items():
        win, cnt = int(win), int(cnt)
        if last_win is not None and win < last_win:
            continue  # late window from an earlier batch: dropped
        gap = 0 if last_win is None else win - last_win
        decayed = _decay_step(decayed if last_win is not None else 0,
                              gap, cnt)
        last_win = win
        out["event_type"].append(event_type)
        out["win"].append(win)
        out["n_events"].append(cnt)
        out["decayed"].append(decayed)
    if last_win is not None:
        state.update((last_win, decayed))
    if out["win"]:
        yield pd.DataFrame(out)


def stream_trending(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """File-source events stream -> stateless window bucketing -> per-key
    stateful decay fold -> memory sink."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    proj = ev.select(
        "event_type",
        (F.col("ts").cast("timestamp").cast("long")
         / TREND_WINDOW_S).cast("long").alias("win"),
    )
    feed = proj.groupBy("event_type").applyInPandasWithState(
        _trend_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def trending_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch through the stateful fold; the
    recursive-CTE window chain is the oracle."""
    return replay(
        spark, os.path.join(sf_dir, "events.parquet"), stream_trending
    ).orderBy("event_type", "win")
