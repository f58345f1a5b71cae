"""Structured Streaming operators over the same stages and tables as the
batch engine.

- ``pipeline``: the extraction stage over a readStream of the pages layout
  (``stream_extract``), plus foreachBatch sinks into the snapshot table
  format (upsert, GDPR delete, partitioned ingest, write-audit-publish,
  incremental MV maintenance), each exactly-once via a token ledger.
- Stateful and windowed operators, each the streaming twin of a batch
  face: exact and watermark-bounded dedup, MinHash near-dup keepers,
  sessionization, tumbling windows and late-data drops, stream-stream
  and stream-static joins, last-touch attribution, decayed trending,
  peak-rate bot detection, per-host rate limiting, the recrawl change
  feed.
- ``replay``: the one harness every registry face uses to run a bounded
  table through a stream over temporary files (``replay``,
  ``memory_sink``, ``land``) and the shared event/document input
  schemas.

Batch resumability comes from the checkpoint sink (operators/checkpoint),
not from streaming state.
"""

from pdf_parser_spark.streaming.pipeline import stream_extract

__all__ = ["stream_extract"]
