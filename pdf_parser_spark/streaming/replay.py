"""Bounded replays over temporary files: the one harness the streaming
registry faces share.

Every streaming operator in this package has the shape
``start(spark, input_dir, checkpoint_dir, query_name) -> StreamingQuery``
over a file-source stream.  A registry face replays a bounded table
through it: copy the table into a scratch input dir, run the query until
it has consumed every file, stop it, and hand the sink back as a batch
DataFrame.

Two rules keep those faces from outliving their scratch dirs or leaking
into the session:

- A memory sink keeps its rows in the driver, so the ``spark.table(name)``
  that ``replay`` returns stays readable after the scratch dir is gone
  and needs no materialization.
- A result backed by files in a scratch dir (table-format or parquet
  sinks) returns ``localCheckpoint(eager=True)`` before the dir is
  removed.  Checkpoint blocks are released when the frame is
  garbage-collected; a persisted frame would stay in the session cache
  until somebody unpersisted it.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

# the events table, as every event-stream operator reads it
EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", TimestampType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])

# the documents table, as every document-stream operator reads it
DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])

StartFn = Callable[[SparkSession, str, str, str], StreamingQuery]


def memory_sink(
    df: DataFrame, name: str, checkpoint_dir: str, mode: str = "append"
) -> StreamingQuery:
    """Start the streaming frame ``df`` into the in-driver memory table
    ``name`` (readable as ``spark.table(name)``)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .start()
    )


def replay(spark: SparkSession, src: str, start: StartFn) -> DataFrame:
    """Stream the parquet file ``src`` as ONE micro-batch through
    ``start(spark, in_dir, ckpt, name)`` and return the memory table the
    query wrote.  ``start`` must sink into ``memory_sink(..., name, ...)``;
    the scratch dir is removed before returning."""
    name = "replay_" + uuid.uuid4().hex[:8]
    with tempfile.TemporaryDirectory(
        prefix="replay_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        shutil.copy(src, os.path.join(in_dir, "batch0.parquet"))
        q = start(spark, in_dir, os.path.join(work, "ckpt"), name)
        q.processAllAvailable()
        q.stop()
    return spark.table(name)


def land(df: DataFrame, in_dir: str, name: str) -> str:
    """Write ``df`` as the single parquet file ``in_dir/name`` and return
    its path — one landed file is one micro-batch under
    maxFilesPerTrigger=1.  The write goes to a hidden ``_tmp_`` dir (the
    file source skips it) and the part file is renamed into place."""
    tmp = os.path.join(in_dir, "_tmp_" + name)
    df.coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(in_dir, name)
    os.rename(part, dst)
    shutil.rmtree(tmp, ignore_errors=True)
    return dst
