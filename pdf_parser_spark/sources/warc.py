"""WARC-style crawl-archive connector.

Web-crawl corpora ship as WARC files (one file = many response records,
each: WARC header block, HTTP header block, payload — blocks separated by
CRLFCRLF, records separated by two CRLFs before the next ``WARC/1.0``
version line).  The reference ingests already-fetched documents through its
HTTP client; at crawl scale the archive file IS the source format, so this
connector makes the engine directly consumable from that layout.

Read path is fully DataFrame-native and JVM-side: ``spark.read.text`` with
``lineSep='WARC/1.0\\r\\n'`` chops the byte stream into records (Hadoop's
line reader honors multi-byte custom delimiters and split boundaries, so
one large plain WARC parallelizes across tasks; gzip WARCs parallelize at
file granularity like every Spark gzip source), then header fields and the
payload are carved out with ``split(limit=3)``/``regexp_extract`` column
ops — zero Python in the parse.  Trade-off of split framing: a payload
that itself contains the version-line byte sequence would split early; for
archives where that can occur, read through the registered Python
DataSource (sources/warc_datasource.py), which frames records by the WARC
header's Content-Length per the spec.

Write path (the synthesizer for tests/benchmarks) renders each record as
one string column and writes through Spark's text sink with the record
terminator as ``lineSep`` — one file per task via the Hadoop FileSystem
API (task-temp + commit), so the sink works on distributed filesystems,
not just a driver-shared local disk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_VERSION_LINE = "WARC/1.0\r\n"
WARC_DATE = "2026-08-16T00:00:00Z"  # run-scoped literal, like entry RUN_TS

# WARC-Target-URI synthesized for documents rows
def _uri_col():
    return F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"), F.col("doc_id")
    )


def warc_records(documents: DataFrame) -> DataFrame:
    """Render one response record per document: (doc_id, record string).
    Payload is the raw document text — byte-for-byte, which is what lets a
    round-trip test assert md5(body) == md5(text)."""
    body = F.col("text")
    # Content-Length values are BYTE lengths (octet_length), per both the
    # WARC and HTTP specs — char counts diverge on multibyte UTF-8 and
    # would misframe the Content-Length-framed datasource reader
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
              "Content-Length: "),
        F.octet_length(body), F.lit("\r\n\r\n"), body,
    )
    rec = F.concat(
        F.lit(WARC_VERSION_LINE),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Record-ID: <urn:doc:"), F.col("doc_id"), F.lit(">\r\n"),
        F.lit("WARC-Target-URI: "), _uri_col(), F.lit("\r\n"),
        F.lit(f"WARC-Date: {WARC_DATE}\r\n"),
        F.lit("Content-Type: application/http; msgtype=response\r\n"),
        F.lit("Content-Length: "), F.octet_length(http), F.lit("\r\n\r\n"),
        http, F.lit("\r\n\r\n"),
    )
    return documents.select("doc_id", rec.alias("record"))


def write_warc(documents: DataFrame, out_dir: str, n_files: int = 4) -> str:
    """Write records as one part file per task, records range-partitioned
    and sorted by doc_id so output bytes are deterministic.

    The sink is Spark's own distributed text writer: each row is a full
    record WITHOUT its two-CRLF terminator, and ``lineSep='\\r\\n\\r\\n'``
    supplies the terminator after every record (including the last), so the
    bytes are spec-identical to hand-concatenated records.  Going through
    ``df.write`` (not ``open()`` inside foreachPartition — the r2 ADVICE
    bug) means executors write via the Hadoop FileSystem API with task-temp
    + commit: the sink works on HDFS/S3A/any cluster FS, crashed tasks
    leave no partial files, and ``mode('overwrite')`` clears stale parts
    from a previous run that read_warc would otherwise glob back in as
    phantom records."""
    (
        warc_records(documents)
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .select(
            F.regexp_replace("record", r"\r\n\r\n$", "").alias("value")
        )
        .write.mode("overwrite")
        .option("lineSep", "\r\n\r\n")
        .text(out_dir)
    )
    return out_dir


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Parse a WARC directory/file into
    (target_uri, warc_date, http_status, content_type, content_length, body).

    Records are split on the version line; the three CRLFCRLF-separated
    blocks are carved with split(limit=3) so payload bytes containing blank
    lines stay intact; per-spec trailing record CRLFs are stripped from the
    payload."""
    raw = spark.read.option("lineSep", WARC_VERSION_LINE).text(path)
    parts = F.split(F.col("value"), r"\r\n\r\n", 3)
    warc_hdr = parts.getItem(0)
    http_hdr = parts.getItem(1)
    body = F.regexp_replace(parts.getItem(2), r"(\r\n)+$", "")
    return (
        raw.where(F.col("value") != "")
        .select(
            F.regexp_extract(warc_hdr, r"WARC-Target-URI: ([^\r\n]*)", 1).alias("target_uri"),
            F.regexp_extract(warc_hdr, r"WARC-Date: ([^\r\n]*)", 1).alias("warc_date"),
            F.regexp_extract(http_hdr, r"^HTTP/[0-9.]+ ([0-9]+)", 1)
            .cast("int").alias("http_status"),
            F.regexp_extract(http_hdr, r"Content-Type: ([^\r\n]*)", 1).alias("content_type"),
            F.regexp_extract(http_hdr, r"Content-Length: ([0-9]+)", 1)
            .cast("long").alias("content_length"),
            body.alias("body"),
        )
    )


# --- WET (extracted-text conversion records) --------------------------------
# Common Crawl ships three derived formats per crawl: WARC (raw responses),
# WAT (metadata), WET (extracted plain text).  A WET record is a WARC record
# of type `conversion`: WARC header block, blank line, the extracted text —
# NO HTTP block, so the framing is 2-block where the response path is
# 3-block.  WET is the interchange format most LLM-corpus pipelines consume
# (C4, CCNet, OSCAR all start from WET), so the engine writes its extracted
# text back out in that shape: the crawl lifecycle closes
# WARC(response) -> extract -> WET(conversion).
# Real WET files open with one `warcinfo` record per file describing the
# converter; read_wet skips non-conversion records, and the writer omits
# warcinfo (the distributed text sink emits one file per task — injecting a
# per-file header row into a range-partitioned sink would couple record
# content to partition boundaries; document the omission instead).


def wet_records(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Render one conversion record per document: (doc_id, record string).
    WARC-Refers-To names the response record write_warc emits for the same
    document, so a WET shard is joinable back to its WARC shard by urn."""
    body = F.col(text_col)
    rec = F.concat(
        F.lit(WARC_VERSION_LINE),
        F.lit("WARC-Type: conversion\r\n"),
        F.lit("WARC-Record-ID: <urn:wet:"), F.col("doc_id"), F.lit(">\r\n"),
        F.lit("WARC-Refers-To: <urn:doc:"), F.col("doc_id"), F.lit(">\r\n"),
        F.lit("WARC-Target-URI: "), _uri_col(), F.lit("\r\n"),
        F.lit(f"WARC-Date: {WARC_DATE}\r\n"),
        F.lit("Content-Type: text/plain\r\n"),
        F.lit("Content-Length: "), F.octet_length(body), F.lit("\r\n\r\n"),
        body, F.lit("\r\n\r\n"),
    )
    return documents.select("doc_id", rec.alias("record"))


def write_wet(
    documents: DataFrame, out_dir: str, n_files: int = 4,
    text_col: str = "text",
) -> str:
    """Write conversion records through the same distributed text sink as
    write_warc (range-partitioned + sorted by doc_id -> deterministic bytes,
    Hadoop FS task-temp + commit, overwrite clears stale parts)."""
    (
        wet_records(documents, text_col)
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .select(F.regexp_replace("record", r"\r\n\r\n$", "").alias("value"))
        .write.mode("overwrite")
        .option("lineSep", "\r\n\r\n")
        .text(out_dir)
    )
    return out_dir


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Parse a WET directory/file into
    (target_uri, warc_date, refers_to, content_length, body).

    2-block framing: WARC header, blank line, text — split(limit=2), so
    blank lines INSIDE the extracted text stay intact.  Non-conversion
    records (the warcinfo file header real crawls carry) are dropped by the
    WARC-Type filter."""
    raw = spark.read.option("lineSep", WARC_VERSION_LINE).text(path)
    parts = F.split(F.col("value"), r"\r\n\r\n", 2)
    warc_hdr = parts.getItem(0)
    body = F.regexp_replace(parts.getItem(1), r"(\r\n)+$", "")
    return (
        raw.where(F.col("value") != "")
        .where(warc_hdr.rlike(r"WARC-Type: conversion\r?\n?"))
        .select(
            F.regexp_extract(warc_hdr, r"WARC-Target-URI: ([^\r\n]*)", 1).alias("target_uri"),
            F.regexp_extract(warc_hdr, r"WARC-Date: ([^\r\n]*)", 1).alias("warc_date"),
            F.regexp_extract(warc_hdr, r"WARC-Refers-To: <([^>]*)>", 1).alias("refers_to"),
            F.regexp_extract(warc_hdr, r"Content-Length: ([0-9]+)", 1)
            .cast("long").alias("content_length"),
            body.alias("body"),
        )
    )


# --- WAT (metadata records) --------------------------------------------------
# The third member of the Common Crawl triple: WARC (raw responses), WAT
# (per-response metadata as a JSON payload inside a WARC `metadata` record),
# WET (extracted text).  Real WAT JSON nests the full envelope/header tree;
# this writer emits the flat subset the engine derives (url, lang, char
# count, payload digest) with the JSON built by STRING CONCAT in struct-field
# order — not a to_json call — because the two engines' JSON serializers
# disagree on key order/escaping and the oracle hashes bytes.  Every value
# placed in the JSON is alphabet-safe by construction (urn/uri formulas, md5
# hex, lang codes, integers), so no escaping is ever needed.


def wat_json(documents: DataFrame, text_col: str = "text"):
    """The metadata payload as a deterministic JSON string column."""
    return F.concat(
        F.lit('{"url":"'), _uri_col(),
        F.lit('","lang":"'), F.col("lang"),
        F.lit('","n_chars":'), F.length(text_col).cast("long"),
        F.lit(',"digest":"'), F.md5(F.encode(F.col(text_col), "UTF-8")),
        F.lit('"}'),
    )


def wat_records(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Render one metadata record per document: (doc_id, record string)."""
    body = wat_json(documents, text_col)
    rec = F.concat(
        F.lit(WARC_VERSION_LINE),
        F.lit("WARC-Type: metadata\r\n"),
        F.lit("WARC-Record-ID: <urn:wat:"), F.col("doc_id"), F.lit(">\r\n"),
        F.lit("WARC-Refers-To: <urn:doc:"), F.col("doc_id"), F.lit(">\r\n"),
        F.lit("WARC-Target-URI: "), _uri_col(), F.lit("\r\n"),
        F.lit(f"WARC-Date: {WARC_DATE}\r\n"),
        F.lit("Content-Type: application/json\r\n"),
        F.lit("Content-Length: "), F.octet_length(body), F.lit("\r\n\r\n"),
        body, F.lit("\r\n\r\n"),
    )
    return documents.select("doc_id", rec.alias("record"))


def write_wat(
    documents: DataFrame, out_dir: str, n_files: int = 4,
    text_col: str = "text",
) -> str:
    """Same distributed text sink as write_warc/write_wet."""
    (
        wat_records(documents, text_col)
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .select(F.regexp_replace("record", r"\r\n\r\n$", "").alias("value"))
        .write.mode("overwrite")
        .option("lineSep", "\r\n\r\n")
        .text(out_dir)
    )
    return out_dir


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Parse WAT shards into (target_uri, refers_to, url, lang, n_chars,
    digest) — the JSON payload is carved with the same 2-block framing as
    WET, then its fields come out through get_json_object (JVM JSON path,
    no Python)."""
    raw = spark.read.option("lineSep", WARC_VERSION_LINE).text(path)
    parts = F.split(F.col("value"), r"\r\n\r\n", 2)
    warc_hdr = parts.getItem(0)
    body = F.regexp_replace(parts.getItem(1), r"(\r\n)+$", "")
    return (
        raw.where(F.col("value") != "")
        .where(warc_hdr.rlike(r"WARC-Type: metadata\r?\n?"))
        .select(
            F.regexp_extract(warc_hdr, r"WARC-Target-URI: ([^\r\n]*)", 1).alias("target_uri"),
            F.regexp_extract(warc_hdr, r"WARC-Refers-To: <([^>]*)>", 1).alias("refers_to"),
            F.get_json_object(body, "$.url").alias("url"),
            F.get_json_object(body, "$.lang").alias("lang"),
            F.get_json_object(body, "$.n_chars").cast("long").alias("n_chars"),
            F.get_json_object(body, "$.digest").alias("digest"),
        )
    )


def wat_export(
    spark: SparkSession, sf_dir: str, scratch_root: str | None = None
) -> DataFrame:
    """Driver query: documents -> WAT metadata shards -> read_wat -> fidelity
    columns.  The JSON survives the format byte-exactly (digest + n_chars
    recomputed by the oracle from documents alone); header URI and JSON url
    must agree."""
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = scratch_root or tempfile.gettempdir()
    out_dir = os.path.join(
        root, f"pdf_parser_spark_wat_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_wat(docs, out_dir)
    parsed = read_wat(spark, out_dir)
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "target_uri", "refers_to", "lang", "n_chars", "digest",
        (F.col("url") == F.col("target_uri")).alias("uri_consistent"),
    ).orderBy("doc_id")


def wet_export(
    spark: SparkSession, sf_dir: str, scratch_root: str | None = None
) -> DataFrame:
    """Driver query: documents -> WET conversion shards on disk -> read_wet
    -> per-doc fidelity columns.  body_md5 proves the extracted text crossed
    the format byte-exactly; refers_to pins the WARC<->WET urn linkage; the
    oracle recomputes every column from the documents table alone."""
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = scratch_root or tempfile.gettempdir()
    out_dir = os.path.join(
        root, f"pdf_parser_spark_wet_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_wet(docs, out_dir)
    parsed = read_wet(spark, out_dir)
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "target_uri", "refers_to", "content_length",
        F.length("body").cast("long").alias("n_body_chars"),
        F.md5("body").alias("body_md5"),
    ).orderBy("doc_id")


def roundtrip(spark: SparkSession, sf_dir: str, scratch_root: str | None = None) -> DataFrame:
    """Driver query: documents -> WARC files -> connector read -> per-doc
    fidelity columns.  md5(body) proves byte-exact payload round-trip; the
    oracle recomputes every column from the documents table alone."""
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = scratch_root or tempfile.gettempdir()
    out_dir = os.path.join(
        root, f"pdf_parser_spark_warc_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_warc(docs, out_dir)
    parsed = read_warc(spark, out_dir)
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "target_uri", "http_status", "content_length",
        F.length("body").cast("long").alias("n_body_chars"),
        F.md5("body").alias("body_md5"),
    ).orderBy("doc_id")


# --- revisit records (digest-based payload dedup across crawl cycles) -------
# WARC 1.1 §6.7.2: when a recrawl fetches a payload whose digest equals an
# earlier capture's, the archive writes a `revisit` record under the
# identical-payload-digest profile — WARC header + the HTTP response headers
# as received, NO payload — with WARC-Refers-To pointing at the original
# capture.  This is how Common Crawl / Heritrix keep a 10^12-capture archive
# from storing every unchanged page once per cycle; the read side resolves a
# revisit's body by following the Refers-To link.  The engine's recrawl
# loop (snapshot_diff / recrawl_schedule) produces exactly this situation,
# so the WARC family gets both halves: digest-elected dedup on write,
# link-resolution on read.

REVISIT_MOD = 5          # recapture every doc_id % 5 == 2 page (2nd cycle)
REVISIT_REM = 2
REVISIT_OFFSET = 1_000_000  # recapture cap_id = doc_id + offset
WARC_DATE2 = "2026-08-17T00:00:00Z"  # second-cycle capture date
WARC_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
)


def warc_captures(documents: DataFrame) -> DataFrame:
    """Two-cycle capture stream: every document's original capture
    (cap_id = doc_id, cycle-1 date) plus a deterministic recapture of every
    REVISIT_MOD-th page with IDENTICAL payload (cap_id = doc_id + offset,
    cycle-2 date) — the by-construction duplicate set the revisit writer
    dedups, re-derivable by the oracle from the documents table alone."""
    base = documents.select(
        F.col("doc_id").alias("cap_id"),
        "doc_id",
        _uri_col().alias("uri"),
        F.lit(WARC_DATE).alias("cap_date"),
        "text",
    )
    recap = (
        documents.where(F.col("doc_id") % REVISIT_MOD == REVISIT_REM)
        .select(
            (F.col("doc_id") + REVISIT_OFFSET).alias("cap_id"),
            "doc_id",
            _uri_col().alias("uri"),
            F.lit(WARC_DATE2).alias("cap_date"),
            "text",
        )
    )
    return base.unionByName(recap)


def warc_dedup_records(captures: DataFrame) -> DataFrame:
    """Render the capture stream with digest dedup: the ELECTED original of
    each payload-digest group (min cap_id — the exact_dedup_groups rule)
    becomes a full response record; every later capture of that digest
    becomes a revisit record carrying WARC-Refers-To/-Target-URI/-Date of
    the original and the HTTP headers WITHOUT the payload.

    The election is computed from the digests themselves (one algebraic
    min-groupBy on md5(text), joined back on the digest key), NOT from the
    recapture formula — a drift in the election order would hash-mismatch
    the registered face.  Scale: the digest rollup is the d_exact shape
    (map-side combined), the join back is keyed on the digest (bounded
    groups), and record rendering stays one JVM concat per row."""
    digests = captures.withColumn("digest", F.md5("text"))
    orig = digests.groupBy("digest").agg(
        F.min(F.struct("cap_id", "uri", "cap_date")).alias("o")
    ).select(
        "digest",
        F.col("o.cap_id").alias("orig_cap"),
        F.col("o.uri").alias("orig_uri"),
        F.col("o.cap_date").alias("orig_date"),
    )
    cap = digests.join(orig, "digest")
    body = F.col("text")
    http_full = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
              "Content-Length: "),
        F.octet_length(body), F.lit("\r\n\r\n"), body,
    )
    # revisit keeps the HTTP headers as received (Content-Length still
    # declares the original payload's octets) but omits the payload block
    http_hdr_only = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
              "Content-Length: "),
        F.octet_length(body), F.lit("\r\n"),
    )
    response = F.concat(
        F.lit(WARC_VERSION_LINE),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Record-ID: <urn:doc:"), F.col("cap_id"), F.lit(">\r\n"),
        F.lit("WARC-Target-URI: "), F.col("uri"), F.lit("\r\n"),
        F.lit("WARC-Date: "), F.col("cap_date"), F.lit("\r\n"),
        F.lit("WARC-Payload-Digest: md5:"), F.col("digest"), F.lit("\r\n"),
        F.lit("Content-Type: application/http; msgtype=response\r\n"),
        F.lit("Content-Length: "), F.octet_length(http_full), F.lit("\r\n\r\n"),
        http_full, F.lit("\r\n\r\n"),
    )
    revisit = F.concat(
        F.lit(WARC_VERSION_LINE),
        F.lit("WARC-Type: revisit\r\n"),
        F.lit(f"WARC-Profile: {WARC_REVISIT_PROFILE}\r\n"),
        F.lit("WARC-Record-ID: <urn:doc:"), F.col("cap_id"), F.lit(">\r\n"),
        F.lit("WARC-Refers-To: <urn:doc:"), F.col("orig_cap"), F.lit(">\r\n"),
        F.lit("WARC-Refers-To-Target-URI: "), F.col("orig_uri"), F.lit("\r\n"),
        F.lit("WARC-Refers-To-Date: "), F.col("orig_date"), F.lit("\r\n"),
        F.lit("WARC-Target-URI: "), F.col("uri"), F.lit("\r\n"),
        F.lit("WARC-Date: "), F.col("cap_date"), F.lit("\r\n"),
        F.lit("WARC-Payload-Digest: md5:"), F.col("digest"), F.lit("\r\n"),
        F.lit("Content-Type: application/http; msgtype=response\r\n"),
        F.lit("Content-Length: "), F.octet_length(http_hdr_only), F.lit("\r\n\r\n"),
        http_hdr_only, F.lit("\r\n\r\n"),
    )
    rec = F.when(F.col("cap_id") == F.col("orig_cap"), response).otherwise(revisit)
    return cap.select("cap_id", rec.alias("record"))


def write_warc_dedup(captures: DataFrame, out_dir: str, n_files: int = 4) -> str:
    """write_warc's sink (distributed text writer, task-temp + commit) over
    the digest-deduped record stream, range-partitioned by cap_id."""
    (
        warc_dedup_records(captures)
        .repartitionByRange(n_files, "cap_id")
        .sortWithinPartitions("cap_id")
        .select(F.regexp_replace("record", r"\r\n\r\n$", "").alias("value"))
        .write.mode("overwrite")
        .option("lineSep", "\r\n\r\n")
        .text(out_dir)
    )
    return out_dir


def read_warc_resolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a deduped WARC and RESOLVE revisit bodies through their
    Refers-To link — the consumer contract of the identical-payload-digest
    profile (cf. pywb's revisit resolution against the CDX index).

    Response records keep their own payload; revisit records join the
    response rows on refers_to = record id to inherit the original's body.
    The join keys on the record-id (one response per digest group, bounded
    fan-out); everything upstream is the same split-framing JVM parse as
    read_warc."""
    raw = spark.read.option("lineSep", WARC_VERSION_LINE).text(path)
    parts = F.split(F.col("value"), r"\r\n\r\n", 3)
    warc_hdr = parts.getItem(0)
    recs = (
        raw.where(F.col("value") != "")
        .select(
            F.regexp_extract(warc_hdr, r"WARC-Type: ([^\r\n]*)", 1).alias("warc_type"),
            F.regexp_extract(warc_hdr, r"WARC-Record-ID: <urn:doc:([0-9]+)>", 1)
            .cast("long").alias("cap_id"),
            F.regexp_extract(warc_hdr, r"WARC-Target-URI: ([^\r\n]*)", 1)
            .alias("target_uri"),
            F.regexp_extract(warc_hdr, r"WARC-Date: ([^\r\n]*)", 1).alias("warc_date"),
            F.regexp_extract(warc_hdr, r"WARC-Payload-Digest: md5:([0-9a-f]+)", 1)
            .alias("payload_digest"),
            F.when(
                F.regexp_extract(warc_hdr, r"WARC-Refers-To: <urn:doc:([0-9]+)>", 1)
                != "",
                F.regexp_extract(warc_hdr, r"WARC-Refers-To: <urn:doc:([0-9]+)>", 1)
                .cast("long"),
            ).alias("refers_to"),
            F.regexp_replace(parts.getItem(2), r"(\r\n)+$", "").alias("own_body"),
        )
    )
    responses = recs.where(F.col("warc_type") == "response").select(
        F.col("cap_id").alias("refers_to"), F.col("own_body").alias("orig_body")
    )
    return (
        recs.join(responses, "refers_to", "left")
        .select(
            "cap_id", "warc_type", "target_uri", "warc_date",
            "payload_digest", "refers_to",
            F.when(F.col("warc_type") == "response", F.col("own_body"))
            .otherwise(F.col("orig_body")).alias("body"),
        )
    )


def revisit_export(
    spark: SparkSession, sf_dir: str, scratch_root: str | None = None
) -> DataFrame:
    """Driver query: documents -> two-cycle captures -> digest-deduped WARC
    shards on disk -> resolved read -> per-capture fidelity columns.  The
    oracle re-derives the capture set from the documents formula and runs
    the SAME min-cap_id digest election in SQL, so an election or
    resolution drift hash-mismatches; body_md5 == digest for every row
    proves revisit bodies resolved byte-exactly through the link."""
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    root = scratch_root or tempfile.gettempdir()
    out_dir = os.path.join(
        root, f"pdf_parser_spark_warcdedup_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_warc_dedup(warc_captures(docs), out_dir)
    parsed = read_warc_resolved(spark, out_dir)
    # orig_cap is total (response rows self-refer) so the oracle compare
    # never hashes an engine-specific NULL representation
    return parsed.select(
        "cap_id", "warc_type", "target_uri", "warc_date",
        "payload_digest",
        F.coalesce("refers_to", "cap_id").alias("orig_cap"),
        F.md5("body").alias("body_md5"),
        (F.md5("body") == F.col("payload_digest")).alias("digest_ok"),
    ).orderBy("cap_id")
