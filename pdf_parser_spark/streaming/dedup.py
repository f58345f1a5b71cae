"""Streaming exact deduplication: readStream -> content fingerprint ->
dropDuplicates -> append sink.

The streaming twin of ``operators.dedup.exact_dedup_groups`` (same md5
fingerprint over whitespace-normalized lowercase text) — on an unbounded
crawl feed the first-seen document per fingerprint passes through and every
later mirror is dropped by the dedup state store.

Scale note: plain ``dropDuplicates`` keeps one state row per distinct
fingerprint forever — correct, and at 10^12 docs the state is the distinct-
content count (far smaller than the feed) sharded across executors by the
fingerprint key (RocksDB state store in production).  When business rules
allow a time bound ("mirrors arrive within N days"),
``dropDuplicatesWithinWatermark`` swaps in with an event-time watermark and
the state becomes bounded; the exactness oracle here uses the unbounded form
so the output is the exact distinct set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark.streaming.replay import DOCS_SCHEMA, memory_sink, replay


def stream_dedup(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """File-source stream of documents -> fingerprint -> dropDuplicates(fp)
    -> memory sink (append).  One shuffle on fp; state co-located with it."""
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    deduped = docs.withColumn("fp", fp).select("fp").dropDuplicates(["fp"])
    return memory_sink(deduped, query_name, checkpoint_dir)


def dedup_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: stream the documents table through the dedup
    operator and return the surviving fingerprint set as a batch DataFrame
    (oracle-comparable to SELECT DISTINCT fp)."""
    return replay(
        spark, os.path.join(sf_dir, "documents.parquet"), stream_dedup
    ).orderBy("fp")


def stream_dedup_within_watermark(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    delay: str = "10 minutes",
):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark on the
    content fingerprint — the production form of stream_dedup when business
    rules bound mirror lag ('recrawls of a page arrive within N days').
    State rows EVICT once the watermark passes their event time + delay, so
    state is O(duplicate window), not O(all distinct content ever); the
    price, stated out loud: a mirror arriving AFTER eviction is re-emitted
    (at-most-once dedup within the window, no dedup beyond it) — pinned in
    pytest by replaying exactly that case.

    The event time is derived deterministically from doc_id (synthetic
    corpus carries no timestamp column), which also makes the one-batch
    replay oracle exact.  The epoch OFFSET below is load-bearing: the
    operator's initial watermark is epoch 0, and a row whose event time
    equals the current watermark is discarded as already-expired on
    arrival — doc_id 0 at exactly 1970-01-01T00:00:00 silently vanished
    until the base moved."""
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    stamped = docs.withColumn(
        "ts",
        F.timestamp_micros(
            ((F.col("doc_id") + 1_000_000) * 1_000_000).cast("long")
        ),
    ).withColumn("fp", fp)
    deduped = (
        stamped.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("fp")
    )
    return memory_sink(deduped, query_name, checkpoint_dir)


def dedup_watermark_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: one batch means no watermark ever passes any
    state row before its duplicates arrive, so the surviving set equals the
    exact DISTINCT oracle — the eviction semantics are pinned separately in
    pytest with a multi-batch replay."""
    return replay(
        spark, os.path.join(sf_dir, "documents.parquet"),
        stream_dedup_within_watermark,
    ).orderBy("fp")
