"""Checkpoint / lineage / resume (north_rule resumability).

The reference fails soft per PDF inside a driver loop (cli.py:104-111) and
re-runs everything on restart.  At 10^12 rows that is unacceptable: the engine
appends per-partition lineage rows (partition id, url range, counts, run id)
to a checkpoint table next to the data sink, and on restart anti-joins pending
urls against already-completed work so only the remainder recomputes.

Commit rule: a run counts as done only once its lineage rows exist.  The
data rows of a run are appended to ``{out}/extracted`` first and its lineage
to ``{out}/lineage`` last, so a run killed between the two leaves files in
the sink that no lineage row names.  A run's lineage is one parquet file
(a few rows per partition), so its job commit is a single rename and a run
is either committed with all its lineage rows or not at all.  Every reader
goes through ``committed_rows``, which skips uncommitted files: resume
recomputes the killed run's urls, and the retry (under a new run id) writes
them once.  The directory may therefore hold a crashed attempt's files; they
stay invisible.
One writer per output directory at a time: concurrent runs into one sink
are not supported.

Table format seam (SURVEY.md §7.0): plain partitioned parquet with an
append-only directory layout — the same code path works against an Iceberg
catalog by swapping ``save``/``load`` for ``writeTo``/``table`` when the
runtime has the Iceberg jars (not available in this sandbox).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "partition_id int, run_id string, url_min string, url_max string, "
    "n_rows long, n_ok long, n_error long"
)


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage/metrics: derived from the extraction output with
    spark_partition_id(), aggregated JVM-side."""
    return (
        extracted
        .withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max"),
            F.count("*").alias("n_rows"),
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") != "ok").cast("long")).alias("n_error"),
        )
        .withColumn("run_id", F.lit(run_id))
    )


def _read_table(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """The parquet table at `path`, or None when there is none: the directory
    is missing, or holds no data file (a first write killed before its job
    commit leaves only ``_temporary``).  Any other read error is raised."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def _committed(rows: DataFrame, out_dir: str) -> DataFrame:
    """`rows` of the sink whose run_id has lineage rows: a left-semi join
    against a broadcast of ``{out_dir}/lineage`` (one row per partition per
    run; the schema is given, so reading it infers nothing)."""
    lineage = _read_table(rows.sparkSession, f"{out_dir}/lineage", LINEAGE_SCHEMA)
    if lineage is None:
        return rows.where(F.lit(False))
    runs = lineage.select(F.col("run_id").alias("committed_run_id"))
    return rows.join(
        F.broadcast(runs), rows["run_id"] == runs["committed_run_id"], "left_semi"
    )


def committed_rows(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The rows of ``{out_dir}/extracted`` whose run is committed, i.e. has
    rows in ``{out_dir}/lineage``.  None when the sink holds no data."""
    rows = _read_table(spark, f"{out_dir}/extracted")
    return None if rows is None else _committed(rows, out_dir)


def write_checkpoint(extracted: DataFrame, out_dir: str, run_id: str) -> DataFrame:
    """Write results, then lineage; returns the committed rows (see
    ``committed_rows``) so downstream stages reuse the materialized sink —
    one parquet read, no recompute of the Python stage.  Results are
    partitioned by status so failed rows are a cheap partition-pruned scan
    for triage.

    A `run_id` that already has rows in the sink is refused, committed or
    not: a retry must never adopt a crashed attempt's files, and this run's
    lineage read-back (filtered by `run_id`) must never count an earlier
    run's rows.

    Lineage is aggregated from the ALREADY-WRITTEN sink, not from the input
    plan: aggregating the un-materialized `extracted` would re-execute the
    whole Python extraction subtree a second time (measured: 2x the batch
    cost).  The read-back scan prunes to (url, status) — the fat markdown
    column is never touched."""
    spark = extracted.sparkSession
    sink = f"{out_dir}/extracted"
    prior = _read_table(spark, sink)
    if prior is not None and not prior.where(F.col("run_id") == run_id).isEmpty():
        raise ValueError(f"run_id {run_id!r} already has rows in {sink}; use a new run_id")
    (
        extracted.withColumn("run_id", F.lit(run_id))
        .write.mode("append").partitionBy("status").parquet(sink)
    )
    materialized = spark.read.parquet(sink)
    written = (
        materialized
        .where(F.col("run_id") == run_id)
        .select("url", "status")
    )
    (
        lineage_rows(written, run_id)
        .coalesce(1)
        .write.mode("append").parquet(f"{out_dir}/lineage")
    )
    return _committed(materialized, out_dir)


def pending_urls(spark: SparkSession, pages: DataFrame, out_dir: str) -> DataFrame:
    """Resume: pages not yet present among the committed rows.  left_anti
    join on url — at scale both sides are bucketed by url hash so this is
    co-located; with AQE the completed side is typically the small build
    side early in a resumed run.  Only an absent sink means nothing is done;
    an unreadable one raises rather than recomputing every page."""
    done = committed_rows(spark, out_dir)
    if done is None:
        return pages
    return pages.join(done.select("url"), on="url", how="left_anti")
