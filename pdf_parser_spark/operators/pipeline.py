"""End-to-end batch pipeline: extract -> checkpointed sink -> relational
post-processing (W1/W2) -> consistency table.

Why materialize between the Arrow stage and the relational stages: `finalize`
consumes the extraction output in THREE plan branches (the W1 window, the W2
explode/groupBy, and the W2 broadcast build side).  Without a materialization
point Spark recomputes the mapInPandas subtree once per branch — measured 3x
the extraction cost.  Writing Stage 1 to the checkpoint sink first (which the
north-rule resumability contract requires anyway) makes the relational stages
read back a columnar table where they prune to the handful of narrow columns
they touch (url, company, period_end, mappings) — the multi-KB markdown
column is never re-read.  At 10^12-doc scale this is the only viable shape:
persisting the stage output in executor memory is not (output ~= input size).

Reference parity: this replaces the reference's driver loop + post-hoc file
rewrite (cli.py:102-124) with extract -> sink -> window/agg -> narrow sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_parser_spark.operators.checkpoint import pending_urls, write_checkpoint
from pdf_parser_spark.operators.consistency import finalize
from pdf_parser_spark.operators.extract import extract_stage

CONSISTENCY_COLS = [
    "url", "company_key", "filing_sequence", "mappings_consistent",
]


def dedup_pages(pages):
    """Exact-content dedup BEFORE the Arrow stage: keep the min-url row per
    content fingerprint.  At Common-Crawl scale a large fraction of pages are
    byte-identical mirrors — dropping them ahead of extraction saves the
    expensive Python work, not just sink space.  One shuffle on the md5 of
    (html, text); deterministic keeper (min url) so retries are stable.
    The fingerprint hashes the raw BINARY html (md5 accepts binary directly;
    a cast to string would mangle non-UTF-8 crawl bytes).  Every field is
    length-or-flag prefixed so no in-band value can collide: html by its
    length (-1 = NULL), text by an explicit 0/1 null flag plus its length —
    a text of literal '\\x00' and a NULL text hash differently."""
    fp = F.md5(F.concat(
        F.encode(
            F.concat_ws(
                "|",
                F.coalesce(F.length(F.col("html")), F.lit(-1)).cast("string"),
                F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.lit(1)).cast("string"),
                F.coalesce(F.length(F.col("text")), F.lit(0)).cast("string"),
                F.coalesce(F.col("text"), F.lit("")),
            ),
            "UTF-8",
        ),
        F.coalesce(F.col("html"), F.lit(b"")),
    ))
    w_min = F.min("url").over(Window.partitionBy("fp"))
    return (
        pages.withColumn("fp", fp)
        .withColumn("keep_url", w_min)
        .where(F.col("url") == F.col("keep_url"))
        .drop("fp", "keep_url")
    )


def run_batch(
    pages: DataFrame,
    out_dir: str,
    run_ts: str = "",
    run_id: str = "r0",
    resume: bool = False,
    xbrl_facts: DataFrame | None = None,
    dedup: bool = False,
) -> DataFrame:
    """Full batch run. Writes ``{out_dir}/extracted`` (+ ``lineage``) and
    ``{out_dir}/consistency``; returns the final consistency DataFrame.

    With ``resume=True``, pages already committed to the extracted sink are
    anti-joined away first (north-rule resumability) and the relational
    stages run over the union of old + new committed results.  A run is
    committed once its lineage rows exist (checkpoint.committed_rows), so
    the urls of a run killed after its data write are extracted again, and
    counted once.  `run_id` must be new to `out_dir`: a reused id raises.

    With ``xbrl_facts`` (the pre-materialized EDGAR-shaped dimension, the
    engine's stand-in for the reference's per-document HTTP fetch,
    ref pipeline.py:272-317), a fleet-wide V8 cross-validation sink
    ``{out_dir}/xbrl_validation`` is also written — per-(url, concept)
    severity of PDF-vs-XBRL disagreement.  Omitting it is the reference's
    --no-xbrl path (the byte-identity target).

    With ``dedup=True``, byte-identical pages (html+text fingerprint) are
    collapsed to their min-url representative BEFORE extraction — the mirror
    fraction of a web crawl never reaches the Python stage.
    """
    spark = pages.sparkSession
    todo = pending_urls(spark, pages, out_dir) if resume else pages
    if dedup:
        todo = dedup_pages(todo)
    extracted = extract_stage(todo, run_ts=run_ts)
    # Relational stages read the materialized, column-pruned sink returned by
    # the checkpoint writer (committed runs only).
    materialized = write_checkpoint(extracted, out_dir, run_id=run_id)
    if xbrl_facts is not None:
        from pdf_parser_spark.operators.xbrl import fleet_cross_validate

        fleet_cross_validate(materialized, xbrl_facts).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/xbrl_validation")
    final = finalize(materialized).select(*CONSISTENCY_COLS)
    final.write.mode("overwrite").parquet(f"{out_dir}/consistency")
    return spark.read.parquet(f"{out_dir}/consistency")
