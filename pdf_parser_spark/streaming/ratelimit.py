"""Streaming per-host politeness rate limiter: readStream -> host + arrival
(stateless, in-scan) -> stateful token-interval scheduling per host ->
append sink of the fetch schedule.

The streaming form of the crawl scheduler every polite fetcher runs: host h
may be hit at most once per ``crawl_delay_ms``, so request n's emit time
follows the max-plus recurrence

    emit_n = max(arrival_n, emit_{n-1} + delay)

walked in arrival order (doc_id breaks ties) with ONE state row per host —
the last emit time.  Expanding the recurrence gives the closed form

    emit_n = delay * n + max_{k <= n}(arrival_k - delay * k)

which is a running window max — that closed form IS the batch/oracle twin
(one cumulative max per host, no recursion), so the stateful stream is
hash-checked against pure SQL.

Semantics stated out loud:
- Scheduling order is (arrival_ms, doc_id) WITHIN a batch; across batches it
  is batch order (an unbounded stream cannot re-sort the past).  A later
  batch whose arrival predates the host's stored last_emit is pushed to
  last_emit + delay — the politeness guarantee holds across batches, pinned
  in pytest by a two-batch replay.  The registered one-batch replay makes
  stream order and global (arrival, doc_id) order coincide, so the closed
  form holds corpus-wide.
- delay = 0 degrades to emit = arrival (no limiting), also pinned.

Scale: the only shuffle is groupBy(host) co-locating state; state is one
BIGINT per host (bounded by the host dim, ~10^7-10^8 at crawl scale, RocksDB
in production); the schedule walk is O(group) per batch with no joins in
the stateful stage — the per-host delay rides the input rows via a
broadcast dim join upstream.
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

from pdf_parser_spark.streaming.replay import DOCS_SCHEMA, memory_sink, replay

OUTPUT_SCHEMA = StructType([
    StructField("doc_id", LongType(), True),
    StructField("host", StringType(), True),
    StructField("arrival_ms", LongType(), True),
    StructField("emit_ms", LongType(), True),
    StructField("wait_ms", LongType(), True),
])

STATE_SCHEMA = StructType([StructField("last_emit", LongType(), True)])

ARRIVAL_MOD = 10000  # synthetic arrival_ms = (doc_id * 137) % ARRIVAL_MOD


def _ratelimit_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (host,) = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    batch = batch.sort_values(["arrival_ms", "doc_id"])
    last = state.get[0] if state.exists else None
    out_ids, out_arr, out_emit = [], [], []
    delay = int(batch["delay_ms"].iloc[0])
    for _, row in batch.iterrows():
        arr = int(row["arrival_ms"])
        emit = arr if last is None else max(arr, last + delay)
        last = emit
        out_ids.append(int(row["doc_id"]))
        out_arr.append(arr)
        out_emit.append(emit)
    state.update((last,))
    yield pd.DataFrame({
        "doc_id": out_ids,
        "host": [host] * len(out_ids),
        "arrival_ms": out_arr,
        "emit_ms": out_emit,
        "wait_ms": [e - a for e, a in zip(out_emit, out_arr)],
    })


def with_arrivals(docs: DataFrame) -> DataFrame:
    """(doc_id, host, arrival_ms, delay_ms) — host + synthetic arrival +
    the host's politeness interval (robots crawl_delay_ms), all in-scan
    plus one broadcast dim join."""
    from pdf_parser_spark.operators import weburl as wu

    canon = wu.canonicalize(wu.with_synthetic_urls(docs))
    rules = wu.robots_rules(canon)
    return (
        canon.select("doc_id", "host")
        .join(F.broadcast(rules.select("host", "crawl_delay_ms")), "host")
        .select(
            "doc_id", "host",
            ((F.col("doc_id") * 137) % ARRIVAL_MOD).cast("long")
            .alias("arrival_ms"),
            F.col("crawl_delay_ms").cast("long").alias("delay_ms"),
        )
    )


def stream_rate_limit(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """File-source stream -> arrivals (stateless) -> per-host stateful
    max-plus schedule -> memory sink."""
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    arr = with_arrivals(docs)
    feed = arr.groupBy("host").applyInPandasWithState(
        _ratelimit_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def rate_limit_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch through the limiter; the closed
    form emit_n = delay*n + running_max(arrival_k - delay*k) is the
    oracle."""
    return replay(
        spark, os.path.join(sf_dir, "documents.parquet"), stream_rate_limit
    ).orderBy("doc_id")
