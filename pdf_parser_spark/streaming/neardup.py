"""Streaming MinHash near-dup candidate feed: readStream -> LSH band rows ->
stateful first-seen keeper election per band bucket -> append sink.

The streaming twin of ``operators.dedup.minhash_lsh_pairs`` for a continuous
crawl: the batch op materializes the whole corpus's band buckets and
self-joins; an unbounded feed instead keeps ONE state row per band bucket —
the bucket's KEEPER (the first document that claimed it) — and every later
document hitting the bucket emits a near-dup candidate row against that
keeper, the moment it arrives.  Downstream, candidates flow into the same
exact-verify stages the batch pipeline uses (Jaccard / containment).

Semantics worth stating out loud:
- Keeper election is FIRST-SEEN-WINS across micro-batches (the only rule an
  unbounded stream can implement without reprocessing) with doc_id-ascending
  tie-break INSIDE a batch (the pandas group is sorted, so a replay of the
  same batch is byte-identical).  A lower doc_id arriving in a later batch
  is therefore flagged as a dup of the EXISTING keeper — that asymmetry vs
  the batch min-election is pinned in pytest, and the registered oracle face
  replays the table as one batch, where the two rules coincide.
- State is one (band, bucket) -> keeper row: bounded by the DISTINCT bucket
  count, sharded by the group key (RocksDB in production), never scanned.
- A document appears once per band it collides on; the per-pair fold
  (n_shared_bands) is downstream aggregation, exactly like the batch op.

Scale: the band explode is stateless and in-scan; the only shuffle is the
groupBy(band, bucket) that co-locates state.  At 10^12 docs the state is
~4x the distinct-signature count; candidates stream out without any join.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from pdf_parser_spark.streaming.replay import DOCS_SCHEMA, memory_sink, replay

OUTPUT_SCHEMA = StructType([
    StructField("band", LongType(), True),
    StructField("bucket", StringType(), True),
    StructField("keeper_doc_id", LongType(), True),
    StructField("doc_id", LongType(), True),
])

STATE_SCHEMA = StructType([StructField("keeper", LongType(), True)])


def _neardup_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    band, bucket = key
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    ids = sorted(int(x) for x in batch["doc_id"].unique())
    if state.exists:
        (keeper,) = state.get
    else:
        keeper = ids[0]
        state.update((keeper,))
        ids = ids[1:]
    dups = [d for d in ids if d != keeper]
    if dups:
        yield pd.DataFrame({
            "band": [int(band)] * len(dups),
            "bucket": [bucket] * len(dups),
            "keeper_doc_id": [keeper] * len(dups),
            "doc_id": dups,
        })


def stream_neardup(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """File-source stream of documents -> MinHash band rows (stateless,
    in-scan) -> stateful keeper election per (band, bucket) -> memory sink.
    One shuffle on the band key; state co-located with it."""
    from pdf_parser_spark.operators.dedup import minhash_bands

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    banded = minhash_bands(docs).select(
        "doc_id", "band", "bucket"
    )
    feed = banded.groupBy("band", "bucket").applyInPandasWithState(
        _neardup_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def neardup_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: stream the documents table through the
    near-dup feed as ONE batch and return the candidate rows (oracle =
    per-bucket min-keeper x later members, since one batch makes first-seen
    and min-election coincide)."""
    return replay(
        spark, os.path.join(sf_dir, "documents.parquet"), stream_neardup
    ).orderBy("band", "bucket", "doc_id")
