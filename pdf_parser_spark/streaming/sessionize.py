"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (EventTimeTimeout).

This is the streaming twin of the batch ``plans.relational.w4_sessionize``
(lag + cumulative-sum formulation) and is held to the SAME oracle: replaying a
bounded events table through the stream (plus two watermark-advancer rows)
must reproduce the batch/SQL session aggregate byte-for-byte.

Reference parity: the reference pipeline is batch-only (SURVEY.md §2 W4,
reference `pipeline.py:177` processes one closed document set); this operator
is the scale-path extension — on a real cluster the events feed is unbounded,
and per-user session state lives in the state store, partitioned by user_id
(one shuffle, state co-located with the grouping key; RocksDB state store at
production scale).

Semantics per user:
  * events ordered by (ts, event_id);
  * a gap > ``gap_minutes`` starts a new session; session_id is 1-based per
    user in time order — identical numbering to the batch operator;
  * a session is EMITTED (append mode) when it provably cannot grow: either a
    later in-batch event broke the gap, or the watermark passed
    last_event + gap (EventTimeTimeout fires).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from pdf_parser_spark.streaming.replay import EVENTS_SCHEMA, memory_sink

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), True),
    StructField("session_id", LongType(), True),
    StructField("n_events", LongType(), True),
    StructField("session_value", DoubleType(), True),
])

# open-session state: (session_id, last event epoch-us, n_events, sum(value))
STATE_SCHEMA = StructType([
    StructField("session_id", LongType(), True),
    StructField("last_us", LongType(), True),
    StructField("n_events", LongType(), True),
    StructField("sum_value", DoubleType(), True),
])


def _make_sessionize_fn(gap_seconds: int):
    gap_ns = int(gap_seconds) * 1_000_000_000

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            sid, _last_us, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_id": [sid],
                 "n_events": [n], "session_value": [round(sv, 4)]}
            )
            return

        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        ns = batch["ts"].astype("int64").to_numpy()  # epoch ns (session TZ UTC)
        vals = batch["value"].fillna(0.0).to_numpy()

        carry_n = 0
        carry_sv = 0.0
        base_sid = 1
        emitted = []
        if state.exists:
            sid0, last_us, n0, sv0 = state.get
            if ns[0] - last_us * 1000 <= gap_ns:
                # first in-batch session continues the open one
                base_sid, carry_n, carry_sv = sid0, n0, sv0
            else:
                emitted.append((sid0, n0, sv0))
                base_sid = sid0 + 1

        # vectorized in-batch fold: gap breaks -> 0-based session offsets
        brk = (ns[1:] - ns[:-1]) > gap_ns
        offs = pd.Series([False, *brk]).cumsum().to_numpy()
        agg = (
            pd.DataFrame({"off": offs, "ns": ns, "v": vals})
            .groupby("off", sort=True)
            .agg(n=("v", "size"), sv=("v", "sum"), last_ns=("ns", "max"))
        )
        last_off = int(agg.index[-1])
        for off, row in agg.iterrows():
            sid = base_sid + int(off)
            n = int(row["n"]) + (carry_n if off == 0 else 0)
            sv = float(row["sv"]) + (carry_sv if off == 0 else 0.0)
            if int(off) == last_off:
                last_ms = int(row["last_ns"]) // 1_000_000
                state.update((sid, int(row["last_ns"]) // 1000, n, sv))
                # must be strictly above the current watermark or Spark throws
                state.setTimeoutTimestamp(
                    max(last_ms + gap_seconds * 1000,
                        state.getCurrentWatermarkMs() + 1)
                )
            else:
                emitted.append((sid, n, sv))

        if emitted:
            yield pd.DataFrame(
                {"user_id": [user_id] * len(emitted),
                 "session_id": [e[0] for e in emitted],
                 "n_events": [e[1] for e in emitted],
                 "session_value": [round(e[2], 4) for e in emitted]}
            )

    return fn


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    gap_minutes: int = 30,
):
    """readStream(events parquet) -> watermark -> stateful sessionize ->
    memory sink (append).  One shuffle on user_id; state co-located."""
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    sessions = (
        events.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize_fn(gap_minutes * 60),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return memory_sink(sessions, query_name, checkpoint_dir)


def _write_advancer(path: str, ts_us: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([-1], pa.int64()),
            "ts": pa.array([ts_us], pa.timestamp("us")),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["__watermark__"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array([None], pa.string()),
        }
    )
    pq.write_table(table, path)


def sessionize_via_stream(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Bounded replay harness: run the stateful stream over the events table
    and return the closed sessions as a batch DataFrame (oracle-comparable to
    the batch W4 SQL).

    Three micro-batches: (1) the real events, (2) a watermark-advancer row at
    max_ts + gap + 1h (watermark visible to batch 3), (3) a second advancer —
    at its start every real user's EventTimeTimeout fires and the final open
    sessions flush.  Advancer rows use user_id = -1 and are filtered out.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    ts_col = pq.read_table(src, columns=["ts"])["ts"]
    max_us = pc.max(ts_col).cast("int64").as_py()
    gap_us = gap_minutes * 60 * 1_000_000
    name = "sessions_" + uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory(
        prefix="sessionize_stream_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        shutil.copy(src, os.path.join(in_dir, "batch0.parquet"))
        q = stream_sessionize(
            spark, in_dir, os.path.join(work, "ckpt"), name, gap_minutes
        )
        q.processAllAvailable()
        _write_advancer(
            os.path.join(in_dir, "batch1.parquet"), max_us + gap_us + 3_600_000_000
        )
        q.processAllAvailable()
        _write_advancer(
            os.path.join(in_dir, "batch2.parquet"), max_us + gap_us + 7_200_000_000
        )
        q.processAllAvailable()
        q.stop()
    return spark.table(name).where("user_id >= 0").orderBy("user_id", "session_id")
