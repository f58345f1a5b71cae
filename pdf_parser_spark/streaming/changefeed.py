"""Streaming crawl change-feed: an unbounded stream of (doc_id, snap_ts,
fp) recrawl observations -> per-url verdicts added / changed / unchanged,
with the last-seen fingerprint held in keyed state across micro-batches.

This is the STREAMING twin of the batch ``operators.snapshot`` family:
``snapshot_diff`` compares two materialized snapshots; the change feed
classifies each observation the moment it arrives — the shape an
incremental crawl ingest actually runs (new WARC drop lands -> only
added/changed urls flow to re-extraction).

Semantics: the comparison baseline is the PREVIOUS OBSERVATION of the url,
whatever cycle it came from — a url absent for three cycles then
reappearing unchanged is 'unchanged' (contrast SCD2's gap-tombstone rule,
which the batch ``scd2_history`` keeps).  That makes the batch oracle a
plain lag() over presence rows, which the driver holds this stream to.

Scale: state is one (fp, last_ts) row per distinct url, sharded by the
doc_id key (RocksDB state store in production); each micro-batch costs one
shuffle on the key.  NoTimeout — a crawl corpus' url set is the working
set, eviction would forget live urls (business-rule TTLs can swap in
EventTimeTimeout exactly as streaming/sessionize.py does).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from pdf_parser_spark.streaming.replay import memory_sink

OBS_SCHEMA = StructType([
    StructField("doc_id", LongType(), True),
    StructField("snap_ts", LongType(), True),
    StructField("fp", StringType(), True),
])
OUTPUT_SCHEMA = "doc_id long, snap_ts long, verdict string"
STATE_SCHEMA = "fp string, last_ts long"


def _change_fn(
    key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    batch = pd.concat(list(pdfs), ignore_index=True)
    if batch.empty:
        return
    batch = batch.sort_values("snap_ts", kind="mergesort")
    prev_fp = state.get[0] if state.exists else None
    out = []
    for ts, fp in zip(batch["snap_ts"], batch["fp"]):
        if prev_fp is None:
            verdict = "added"
        elif fp != prev_fp:
            verdict = "changed"
        else:
            verdict = "unchanged"
        out.append({"doc_id": key[0], "snap_ts": int(ts), "verdict": verdict})
        prev_fp = fp
    state.update((prev_fp, int(batch["snap_ts"].iloc[-1])))
    yield pd.DataFrame.from_records(out, columns=["doc_id", "snap_ts", "verdict"])


def stream_change_feed(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, query_name: str
):
    """readStream(observations parquet) -> applyInPandasWithState keyed by
    doc_id -> memory sink (append).  One shuffle per batch on the key."""
    obs = spark.readStream.schema(OBS_SCHEMA).parquet(input_dir)
    feed = obs.groupBy("doc_id").applyInPandasWithState(
        _change_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_sink(feed, query_name, checkpoint_dir)


def change_feed_via_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay harness: feed the 4-cycle synthetic recrawl series
    (operators.snapshot.snapshot_series — same formulas the oracle
    re-derives) ONE CYCLE PER MICRO-BATCH, so every verdict crosses the
    state store, then return the full feed as a batch DataFrame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.operators.snapshot import N_SNAPSHOTS, snapshot_series

    name = "feed_" + uuid.uuid4().hex[:8]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    series = snapshot_series(docs).toPandas()
    with tempfile.TemporaryDirectory(
        prefix="changefeed_stream_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        q = None
        for t in range(N_SNAPSHOTS):
            cycle = series[series["snap_ts"] == t]
            pq.write_table(
                pa.Table.from_pandas(cycle, preserve_index=False),
                os.path.join(in_dir, f"cycle{t}.parquet"),
            )
            if q is None:
                q = stream_change_feed(
                    spark, in_dir, os.path.join(work, "ckpt"), name
                )
            q.processAllAvailable()
        q.stop()
    return spark.table(name).orderBy("doc_id", "snap_ts")
