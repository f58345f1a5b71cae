"""Stage 1: the vectorized extraction stage (mapInPandas over Arrow batches).

One narrow stage applies core.extract_document to every row of the pages
table — extraction, repair, classification, segmentation, table collapse,
normalization tiers 1-2, validation, confidence, assembly — with no shuffle
(SURVEY.md §3.1 Spark lifecycle).  Fail-soft per row: status/error columns,
never a stage failure.

Skew handling (north_rule): upstream of the stage, rows are repartitioned by
``xxhash64(url, salt)`` where the salt spreads documents of heavy hosts across
partitions; Arrow batch size is bounded in session.py because rows are fat.
(Salting redistributes the skewed units BEFORE the stage — the static
counterpart of DS2's runtime data stealing, ICDE 2021, PAPERS.md; the
batch-at-a-time Arrow transfer is the vectorized-UDF execution model of
"Accelerating Python UDFs in Vectorized Query Execution", CIDR 2022.)
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.session import DEFAULT_SHUFFLE_PARTITIONS

RESULT_SCHEMA = """
    url string,
    status string,
    error string,
    report_type string,
    markdown string,
    mappings map<string,string>,
    company string,
    ticker string,
    cik string,
    filing_type string,
    period_end string,
    period_type string,
    fiscal_year string,
    scale string,
    source string,
    statement_values map<string,double>,
    spans array<struct<section:string,start:long,end:long>>,
    n_pages int,
    n_sections int,
    n_tables int,
    n_unmapped int,
    n_checks_pass int,
    n_checks_warn int,
    n_checks_fail int,
    avg_confidence double
"""

_RESULT_COLUMNS = [
    "url", "status", "error", "report_type", "markdown", "mappings",
    "company", "ticker", "cik", "filing_type", "period_end", "period_type",
    "fiscal_year", "scale", "source", "statement_values", "spans",
    "n_pages", "n_sections",
    "n_tables", "n_unmapped", "n_checks_pass", "n_checks_warn",
    "n_checks_fail", "avg_confidence",
]


def _extract_batches(run_ts: str):
    """Closure factory: the Arrow-batch worker.  Imports stay inside so the
    function pickles cheaply; the taxonomy alias index is built once per
    worker process (lru_cache) — the broadcast-dictionary pattern."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_parser_spark.core.document import extract_document

        for pdf in batches:
            htmls = pdf["html"] if "html" in pdf else None
            texts = pdf["text"] if "text" in pdf else None
            records = []
            for i in range(len(pdf)):
                url = pdf["url"].iat[i]
                html = htmls.iat[i] if htmls is not None else None
                text = texts.iat[i] if texts is not None else None
                records.append(extract_document(url, html, text, run_ts))
            out = pd.DataFrame.from_records(records, columns=_RESULT_COLUMNS)
            yield out

    return fn


def salted_repartition(
    pages: DataFrame, num_partitions: int | None = None, salt_buckets: int = 8
) -> DataFrame:
    """Repartition by xxhash64(url) + a content-derived per-row salt.

    xxhash64 already spreads DISTINCT urls uniformly (avalanche), so the
    skew that actually survives url hashing at 10^12 scale is the SAME url
    appearing many times — recrawls, mirror fetches, redirect duplicates: a
    heavy host's front page recrawled 10^6 times all lands on one task.
    The salt therefore mixes in what distinguishes those rows — the content
    columns' length and first bytes (one JVM hash over a 64-byte prefix, not
    a full-payload rehash of the corpus) — spreading recrawl copies across
    `salt_buckets` tasks.  Byte-identical duplicates are irreducible by ANY
    deterministic salt and are removed upstream by dedup_pages
    (operators/pipeline.py), which hashes the full payload anyway.  Cheap
    column ops — no Python; placement-only, so results never depend on it.

    Partition count defaults to 12 tasks per core: per-document cost varies
    ~10x with document family, so coarse tasks leave cores idle in the last
    wave — event-log analysis at 4 tasks/core measured 16% slot idle (84%
    utilization) from the straggler tail alone, with ZERO per-task time
    inflation; at 12 waves the tail amortizes to ~4%.  Same reasoning as
    cluster-scale `~10 x executors x cores` sizing for skewed Python-heavy
    stages.  Each Python task has a fixed cost: an identity mapInPandas over
    36 tasks on local[3] takes 1.2-1.4 s (a JVM-only noop 0.2 s), about
    0.09 s a task.  It was 4.0-4.2 s, 0.33 s a task, while every task
    re-read pyspark.zip's directory once per imported subpackage; the
    package's zipstamp now keeps an unchanged archive's directory."""
    n = num_partitions or max(
        DEFAULT_SHUFFLE_PARTITIONS,
        12 * pages.sparkSession.sparkContext.defaultParallelism,
    )
    salt_inputs = [F.col("url"), F.lit("salt")]
    for c in ("text", "html"):
        if c in pages.columns:
            salt_inputs += [
                F.length(F.col(c)),
                F.expr(f"substring({c}, 1, 64)"),
            ]
    salted = F.xxhash64(F.col("url")) + F.pmod(
        F.xxhash64(*salt_inputs), F.lit(salt_buckets)
    )
    return pages.repartition(n, salted)


def extract_stage(
    pages: DataFrame,
    run_ts: str = "",
    repartition: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted results DataFrame.

    Column pruning: only url/html/text cross the Arrow boundary; warc_ts/lang
    are re-joined by the caller when needed (they never enter Python)."""
    cols = [c for c in ("url", "html", "text") if c in pages.columns]
    narrow = pages.select(*cols)
    if repartition:
        narrow = salted_repartition(narrow, num_partitions)
    return narrow.mapInPandas(_extract_batches(run_ts), schema=RESULT_SCHEMA)

