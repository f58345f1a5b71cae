"""Streaming peak-rate bot detection: readStream -> stateless second
bucketing -> per-user stateful sliding-peak fold -> append sink.

The streaming twin of w9_bot_detect (plans/relational.py): the batch op
finds each user's exact maximum events-per-trailing-60s with one range
frame; the stream maintains the same quantity incrementally with BOUNDED
state — a per-second count histogram pruned to the trailing window
(<= BOT_WINDOW_S entries however fast the bot goes; storing raw
timestamps would make the hottest users, who are exactly the bots, the
biggest state rows).  Second granularity loses nothing: every event in
second s has the same trailing-window count (RANGE frames include
peers), so the batch peak equals the max over seconds of the 60-second
histogram sum — the invariant that lets the one-batch replay use the
batch W9 SQL as its oracle VERBATIM (the ratelimit doctrine: one SQL
string shared by both faces, they cannot drift).

Cross-batch carry pinned in pytest: a burst split across two batches
inside one 60-second window must register its combined peak, and
history beyond the window must age out of state.

Late-data contract (stated, not hidden — the trending.py doctrine): a
batch's new seconds re-evaluate EVERY retained histogram second at or
after the batch's earliest new second, so out-of-order arrivals within
the retained horizon raise exactly the windows they belong to.  The
horizon is the trailing BOT_WINDOW_S of the maximum second ever seen:
events older than that still count toward n_events and combine with
whatever history remains retained, but histogram entries behind the
horizon are pruned, so a window reaching entirely behind it cannot be
reconstructed — watermark semantics, the price of bounded state.

Scale: one shuffle on user_id (state co-location); state is at most
BOT_WINDOW_S (sec, count) pairs + two BIGINTs per user; the fold is
O(batch seconds x window) per user with no joins in the stateful stage.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from pdf_parser_spark.plans.relational import BOT_RPM_MIN, BOT_WINDOW_S
from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink, replay

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("n_events", LongType(), True),
    StructField("peak_rate", LongType(), True),
    StructField("is_bot", BooleanType(), True),
])

STATE_SCHEMA = StructType([
    StructField("secs", ArrayType(LongType()), True),
    StructField("cnts", ArrayType(LongType()), True),
    StructField("peak", LongType(), True),
    StructField("total", LongType(), True),
])


def _bot_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    if state.exists:
        secs, cnts, peak, total = state.get
        hist = dict(zip(secs, cnts))
    else:
        hist, peak, total = {}, 0, 0
    new_counts = batch["es"].value_counts()
    for sec, cnt in new_counts.items():
        hist[int(sec)] = hist.get(int(sec), 0) + int(cnt)
    # recompute trailing-window sums at EVERY histogram second at or
    # after the batch's earliest new second — not only the seconds this
    # batch touched: an out-of-order batch carrying seconds EARLIER than
    # a previous batch's raises the histogram under already-seen later
    # seconds, and the windows ending there must be re-evaluated or the
    # peak under-reports vs the batch W9 oracle
    lo = min(int(s) for s in new_counts.index)
    for sec in sorted(t for t in hist if t >= lo):
        win = sum(c for t, c in hist.items()
                  if sec - (BOT_WINDOW_S - 1) <= t <= sec)
        peak = max(peak, win)
    total += len(batch)
    hi = max(hist)
    hist = {t: c for t, c in hist.items() if t > hi - BOT_WINDOW_S}
    keys = sorted(hist)
    state.update((keys, [hist[t] for t in keys], int(peak), int(total)))
    yield pd.DataFrame({
        "user_id": [int(user_id)], "n_events": [int(total)],
        "peak_rate": [int(peak)], "is_bot": [peak >= BOT_RPM_MIN],
    })


def stream_bot_detect(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    proj = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("es"),
    )
    feed = proj.groupBy("user_id").applyInPandasWithState(
        _bot_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def bot_detect_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch through the stateful fold; the
    batch W9 SQL is the oracle verbatim."""
    return replay(
        spark, os.path.join(sf_dir, "events.parquet"), stream_bot_detect
    ).orderBy("user_id")
