"""readStream -> extraction stage -> writeStream (parquet sink).

Usage:
    q = stream_extract(spark, in_dir, out_dir, ckpt_dir)
    q.processAllAvailable(); q.stop()

The extraction stage is stateless per row, so no watermark is needed; a
file-source stream gives exactly-once via the sink checkpoint.  Late-data
window aggregation is demonstrated in streaming_metrics()."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pdf_parser_spark.operators.extract import extract_stage
from pdf_parser_spark.sources.pages import PAGES_SCHEMA
from pdf_parser_spark.streaming.replay import land, memory_sink


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    run_ts: str = "",
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    extracted = extract_stage(pages, run_ts=run_ts, repartition=False)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def streaming_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Windowed doc counts with a watermark for late rows — the standard
    streaming-aggregation shape, returned as a memory-sink query for tests."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "lang")
        .count()
    )
    return memory_sink(agg, "pages_by_window", checkpoint_dir)


def stream_upsert_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key: str = "url",
) -> StreamingQuery:
    """Streaming upsert sink: readStream -> foreachBatch(merge_snapshot) —
    the recrawl loop's write side as one composition (a re-fetched url's
    row must REPLACE the old one, so an append sink is wrong by
    construction; foreachBatch is Structured Streaming's official escape
    hatch to any batch writer, and the table format's COW merge is exactly
    such a writer).

    Semantics worth stating: foreachBatch is at-least-once (a crashed
    batch can replay), but merge_snapshot is IDEMPOTENT for identical
    input — replaying batch N re-deletes and re-inserts the same keys to
    the same values, so the TABLE converges even when the hook fires
    twice; that idempotence is what makes at-least-once acceptable here,
    the same argument Delta's foreachBatch-MERGE pattern makes.  Each
    micro-batch commits one table version, so the version history IS the
    micro-batch lineage."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)

    def _upsert(batch_df, batch_id: int) -> None:
        from pdf_parser_spark.sources import tableformat as tf

        if batch_df.isEmpty():
            return
        # dedup within the batch (two versions of one url in one batch:
        # keep the max warc_ts, ties by text) before the keyed merge
        from pyspark.sql import Window as W
        from pyspark.sql import functions as FF
        w = W.partitionBy(key).orderBy(
            FF.col("warc_ts").desc_nulls_last(), FF.col("text").desc())
        latest = (batch_df.withColumn("_rn", FF.row_number().over(w))
                  .where(FF.col("_rn") == 1).drop("_rn"))
        try:
            tf.merge_snapshot(batch_df.sparkSession, latest, table_path, key)
        except FileNotFoundError:
            tf.append_snapshot(latest, table_path)

    return (
        pages.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_delete_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    app_id: str = "gdpr",
) -> StreamingQuery:
    """Streaming right-to-be-forgotten sink: a stream of delete REQUESTS
    (key values) -> foreachBatch(delete_keys) — each micro-batch commits
    one merge-on-read delete file, zero data files rewritten, so erasure
    latency is one micro-batch regardless of table size (the GDPR loop at
    10^12 rows; a periodic purge_deletes folds the accumulated delete
    files back into data files off the hot path).

    Exactly-once is via the token, NOT the upsert sink's idempotence
    argument: foreachBatch is at-least-once, and a blind replay of a
    delete batch would commit the same keys under a HIGHER sequence —
    wrongly re-deleting any key re-inserted between the original commit
    and the replay.  delete_keys records '<app_id>:<batch_id>' in the
    manifest and skips a batch it has already applied (the Delta
    txnAppId/txnVersion pattern), pinned in pytest by replaying a batch
    after a re-insert."""
    from pyspark.sql.types import LongType, StructField, StructType

    reqs = spark.readStream.schema(
        StructType([StructField(key, LongType(), True)])
    ).parquet(input_dir)

    def _apply(batch_df, batch_id: int) -> None:
        from pdf_parser_spark.sources import tableformat as tf

        if batch_df.isEmpty():
            return
        tf.delete_keys(
            batch_df.sparkSession, batch_df, table_path, key,
            token=f"{app_id}:{batch_id}",
        )

    return (
        reqs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def gdpr_delete_via_stream(spark: SparkSession, sf_dir: str):
    """Bounded replay harness for the registry: the documents table
    becomes one snapshot, a single batch of delete requests (every
    doc_id % 7 == 0) streams through the sink, and the merged read is the
    result — the oracle states the survivor set directly."""
    from pdf_parser_spark.sources import tableformat as tf

    with tempfile.TemporaryDirectory(
        prefix="gdpr_stream_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        tbl = os.path.join(work, "tbl")
        os.makedirs(in_dir)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        tf.append_snapshot(
            docs.select("doc_id", "lang", "source").coalesce(2), tbl)
        land(docs.where(F.col("doc_id") % 7 == 0).select("doc_id"),
             in_dir, "b0.parquet")
        q = stream_delete_table(spark, in_dir, tbl, os.path.join(work, "ckpt"))
        q.processAllAvailable()
        q.stop()
        return (
            tf.read_table(spark, tbl)
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )


def stream_partitioned_ingest(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    spec: list,
    schema,
    app_id: str = "ingest",
) -> StreamingQuery:
    """Streaming append sink into a HIDDEN-PARTITIONED table: readStream ->
    foreachBatch(partitioned_append) — the crawl-ingest write side at
    10^12 rows, where every micro-batch lands as day/bucket-partitioned
    files and downstream scans prune on SOURCE-column predicates from
    manifest metadata alone (no directory listing of the whole table,
    ever).

    Exactly-once is the TOKEN ledger, not idempotence: foreachBatch is
    at-least-once, and a replayed APPEND would double the batch's rows
    (unlike the upsert sink, where replaying converges).
    partitioned_append records '<app_id>:<batch_id>' in the manifest and
    skips a batch it has already applied — same txnAppId/txnVersion
    pattern as the GDPR delete sink, pinned in pytest by a manual replay.
    Each micro-batch commits one table version: the version history IS
    the micro-batch lineage, and time travel reads any prefix of the
    stream."""
    # one file per trigger: the staged files' boundaries are the
    # micro-batch (and therefore version-history) boundaries
    rows = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(input_dir)
    )

    def _ingest(batch_df, batch_id: int) -> None:
        from pdf_parser_spark.sources import tableformat as tf

        if batch_df.isEmpty():
            return
        tf.partitioned_append(
            batch_df, table_path, spec, token=f"{app_id}:{batch_id}"
        )

    return (
        rows.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def partitioned_ingest_via_stream(spark: SparkSession, sf_dir: str):
    """Bounded harness for the registry: the events table streams through
    the partitioned-ingest sink in two micro-batches under a
    (day(ts), bucket(4, event_type)) spec, batch 0 is then REPLAYED
    through partitioned_append with its already-recorded token (must
    skip — a doubled batch would double n_events and hash-mismatch), and
    the result is a day rollup over a PRUNED scan whose predicates name
    only source columns.  One hash covers: the streaming ingest, the
    exactly-once ledger, the transform derivation, and the residual
    filters."""
    from pdf_parser_spark.sources import tableformat as tf

    spec = [("day", "ts"), ("bucket", 4, "event_type")]
    with tempfile.TemporaryDirectory(
        prefix="part_ingest_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        tbl = os.path.join(work, "tbl")
        os.makedirs(in_dir)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # two deterministic halves -> two single-file micro-batches
        b0 = land(ev.where(F.col("event_id") % 2 == 0), in_dir, "b0.parquet")
        land(ev.where(F.col("event_id") % 2 == 1), in_dir, "b1.parquet")
        q = stream_partitioned_ingest(
            spark, in_dir, tbl, os.path.join(work, "ckpt"), spec, ev.schema,
            app_id="ingest",
        )
        q.processAllAvailable()
        q.stop()
        # replay batch 0 with its recorded token: MUST skip (exactly-once)
        v_before = tf.current_version(tbl)
        v_after = tf.partitioned_append(
            spark.read.parquet(b0), tbl, spec, token="ingest:0",
        )
        assert v_after == v_before, (v_before, v_after)
        df, n_read, n_total = tf.scan_table(
            spark, tbl,
            predicates=[("ts", ">", "2024-01-20 12:00:00"),
                        ("event_type", "=", "click")],
        )
        assert n_read < n_total, (n_read, n_total)
        return (
            df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("ds"))
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("event_id").alias("sum_ids"),
            )
            .orderBy("ds")
            .localCheckpoint(eager=True)
        )


def stream_gated_ingest(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    audit,
    app_id: str = "gated",
) -> StreamingQuery:
    """Gated streaming ingest: readStream -> foreachBatch(stage -> AUDIT
    -> publish-or-abort) — write-audit-publish per micro-batch, the full
    quality gate a crawl ingest runs at 10^12 rows so main never serves
    a byte that failed its checks.  ``audit`` takes the STAGED view (the
    table exactly as publish would commit it) and returns True to
    publish; False aborts the stage, whose files fall to the age-guarded
    GC.

    Exactly-once under at-least-once foreachBatch: a replay re-STAGES
    with a fresh wap_id, so the ledger key is the caller token
    '<app_id>:<batch_id>' passed through publish_staged — the pre-stage
    check skips a published batch before paying for its files, and the
    in-commit re-check closes the race.  A replayed REJECTED batch
    re-stages and re-aborts: idempotent by content (nothing published),
    its files orphan like any failed commit's.  Version history = the
    accepted-batch lineage; aborted batches leave no version."""
    from pdf_parser_spark.sources import tableformat as tf

    # one staged file per trigger: each input file IS a micro-batch, so
    # the gate's accept/reject boundary is the file boundary
    rows = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(input_dir)
    )

    def _gate(batch_df, batch_id: int) -> None:
        tok = f"{app_id}:{batch_id}"
        if batch_df.isEmpty() or tf._token_applied(table_path, tok):
            return
        wap = tf.stage_append(batch_df, table_path)
        if audit(tf.read_staged(spark, table_path, wap)):
            tf.publish_staged(table_path, wap, token=tok)
        else:
            tf.abort_staged(table_path, wap)

    return (
        rows.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def gated_ingest_via_stream(spark: SparkSession, sf_dir: str):
    """Bounded harness for the registry: documents stream through the
    gated sink in three micro-batches (doc_id%3), batch 1 POISONED
    (every 5th lang mangled to 'zz') so the audit rejects the WHOLE
    batch; batch 0 is then replayed with its recorded token (must skip).
    Final state = batches 0 and 2 only — a leaked poisoned batch, a
    dropped clean batch, or a doubled replay each hash-mismatch the
    per-lang rollup."""
    from pdf_parser_spark.sources import tableformat as tf

    with tempfile.TemporaryDirectory(
        prefix="gated_ingest_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        tbl = os.path.join(work, "tbl")
        os.makedirs(in_dir)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        for i in range(3):
            part = docs.where(F.col("doc_id") % 3 == i)
            if i == 1:  # the batch the audit must reject
                part = part.withColumn(
                    "lang",
                    F.when(F.col("doc_id") % 5 == 0, F.lit("zz"))
                    .otherwise(F.col("lang")),
                )
            land(part, in_dir, f"b{i}.parquet")

        def _audit(staged_view) -> bool:
            # batch-scoped gate stated on the staged TABLE view: no
            # mangled language may appear anywhere in the would-be table
            return staged_view.where(F.col("lang") == "zz").count() == 0

        q = stream_gated_ingest(
            spark, in_dir, tbl, os.path.join(work, "ckpt"), docs.schema,
            _audit, app_id="gated",
        )
        q.processAllAvailable()
        q.stop()
        # two published versions (batches 0, 2); batch 1 left no version
        assert tf.current_version(tbl) == 2, tf.current_version(tbl)
        assert tf.list_staged(tbl) == []
        # replay batch 0 through the gate body: ledger must skip it
        v = tf.publish_staged(tbl, tf.stage_append(
            spark.read.parquet(os.path.join(in_dir, "b0.parquet")), tbl,
        ), token="gated:0")
        assert v == 2, v
        return (
            tf.read_table(spark, tbl)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("doc_id").alias("sum_ids"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .orderBy("lang")
            .localCheckpoint(eager=True)
        )


def stream_mv_maintain(
    spark: SparkSession,
    input_dir: str,
    base_path: str,
    mv_path: str,
    checkpoint_dir: str,
    schema,
    key: str,
    group_col: str,
    app_id: str = "mv",
) -> StreamingQuery:
    """Streaming incremental materialized-view maintenance — the
    production shape incremental_mv's docstring promises: the delta
    arrives AS the micro-batch, so maintenance cost is proportional to
    the delta, not the table.  Per batch of upserts (unique ``key`` per
    batch): the -1 side is the batch keys' CURRENT rows (one broadcast
    semi-join against the base — the only base-table touch), the +1 side
    is the batch itself, and the signed fold lands in the MV table via
    overwrite_snapshot (group-cardinality rows: full rewrite IS the
    cheap write; the incrementality lives in the delta computation).

    Crash-safety is the COMMIT ORDER plus the ledger: fold the MV FIRST
    under the '<app>:<batch>' token, THEN merge the base (idempotent
    replay).  Replay windows: before the MV commit nothing durable
    changed; between MV commit and merge, the replay recomputes the -1
    side from the STILL-unmerged base (identical), the ledger skips the
    fold without evaluating it, and the merge completes; after both,
    ledger skip + idempotent merge.  Every window converges — pinned in
    pytest by replaying each window's state."""
    from pdf_parser_spark.sources import tableformat as tf

    rows = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(input_dir)
    )

    def _tick(batch_df, batch_id: int) -> None:
        tok = f"{app_id}:{batch_id}"
        if batch_df.isEmpty():
            return
        neg = F.lit(-1).cast("long")
        try:
            old = (
                tf.read_table(spark, base_path)
                .join(
                    F.broadcast(batch_df.select(key).distinct()),
                    key, "left_semi",
                )
                .groupBy(group_col)
                .agg(F.sum(neg).alias("n_rows"))
            )
        except FileNotFoundError:
            old = None
        delta = batch_df.groupBy(group_col).agg(
            F.count("*").cast("long").alias("n_rows")
        )
        if old is not None:
            delta = delta.unionByName(old)
        try:
            cur = tf.read_table(spark, mv_path)
            delta = delta.unionByName(cur)
        except FileNotFoundError:
            pass
        mv_new = (
            delta.groupBy(group_col)
            .agg(F.sum("n_rows").cast("long").alias("n_rows"))
            .where(F.col("n_rows") > 0)
        )
        # MV first (token-gated; a replay skips WITHOUT evaluating the
        # plan above — the stale -1 side of a post-merge replay is never
        # executed), then the idempotent base merge
        tf.overwrite_snapshot(mv_new, mv_path, token=tok)
        try:
            tf.merge_snapshot(spark, batch_df, base_path, key)
        except FileNotFoundError:
            tf.append_snapshot(batch_df, base_path)

    return (
        rows.writeStream.foreachBatch(_tick)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def mv_maintain_via_stream(spark: SparkSession, sf_dir: str):
    """Bounded harness for the registry: documents arrive as three
    upsert micro-batches — evens, odds, then UPDATES (every 7th doc's
    lang uppercased: rows that MOVE groups) — and the streamed MV must
    equal a direct aggregation of the final base state.  A missed -1 on
    a group move, a doubled replay, or a lost batch each hash-mismatch;
    the in-harness token replay pins the ledger the sink relies on."""
    from pdf_parser_spark.sources import tableformat as tf

    with tempfile.TemporaryDirectory(
        prefix="mv_stream_", ignore_cleanup_errors=True
    ) as work:
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        base, mv = os.path.join(work, "base"), os.path.join(work, "mv")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        batches = [
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
            docs.where(F.col("doc_id") % 7 == 0)
            .withColumn("lang", F.upper("lang")),
        ]
        for i, b in enumerate(batches):
            land(b, in_dir, f"b{i}.parquet")
        q = stream_mv_maintain(
            spark, in_dir, base, mv, os.path.join(work, "ckpt"),
            docs.schema, key="doc_id", group_col="lang", app_id="mv",
        )
        q.processAllAvailable()
        q.stop()
        assert tf.current_version(mv) == 3 and tf.current_version(base) == 3
        # replayed batch token must skip (a doubled fold would mismatch)
        assert tf.overwrite_snapshot(
            spark.range(1).withColumnRenamed("id", "lang"), mv, token="mv:0"
        ) == 3
        return (
            tf.read_table(spark, mv)
            .select("lang", "n_rows")
            .orderBy("lang")
            .localCheckpoint(eager=True)
        )
