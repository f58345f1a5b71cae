"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over sf0.001 documents
mapped into the pages shape.  ``queries()``/``oracle_sql()`` cover the
SURVEY.md §2 relational operators (W1/W2/W3, V2 banding, regex projections,
sessionization), the training-data operators (dedup exact/jaccard/minhash/
simhash/embedding, ANN brute-force + IVF, text stats, multimodal byte stats),
and TPC-H-style headline queries.  Float outputs are rounded to 4dp on BOTH
sides; integer outputs are BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RUN_TS = "2026-08-16T00:00:00Z"  # run-scoped literal: deterministic parsed_at

# registered domains dropped by the u_blocklist driver query (match actual
# reg_domains produced by weburl.with_synthetic_urls at any sf)
BLOCKED_DOMAINS = ["src3.example.com", "src5.co.uk", "src7.io", "src11.org"]


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, ...) -> pages(url, warc_ts, html, text, lang).

    doc_id % FILING_FLAVOR_MOD == FILING_FLAVOR_REM rows swap their webtext
    for filing_text(doc_id) — a filing-shaped page stream (cover, TOC,
    statements) — so the flagship extraction hash discriminates the G1
    splitter, the T8/T16 table path, E-field extraction, and W1 sequencing
    over real (company, period) groups, not only classification
    (r4-verdict oracle-net gap).  The flavor is applied identically by
    tools/gen_expected.py, so every oracle that reads the frozen fixture
    stays exact; it is NOT SQL-derivable, which is why no text-deriving
    SQL oracle consumes these pages."""
    import pandas as pd  # noqa: PLC0415

    from pdf_parser_spark.sources.corpus import (
        FILING_FLAVOR_MOD,
        FILING_FLAVOR_REM,
        filing_text,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def fn(batches):
        for pdf in batches:
            pdf = pdf.assign(text=[
                filing_text(int(d))
                if int(d) % FILING_FLAVOR_MOD == FILING_FLAVOR_REM else t
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ])
            yield pdf

    flavored = docs.select("doc_id", "source", "lang", "text").mapInPandas(
        fn, "doc_id long, source string, lang string, text string")
    return flavored.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (mapInPandas Arrow stage + W1/W2
    relational post-processing) over sf0.001 + the synthetic filing corpus."""
    from pdf_parser_spark.operators.consistency import finalize
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.sources.pages import synthetic_pages

    driver_pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    corpus = synthetic_pages(spark, n_docs=48).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    pages = driver_pages.unionByName(corpus)
    # persist: finalize consumes the extraction output in three plan branches
    # (W1 window, W2 groupBy, W2 broadcast build); without a materialization
    # point the Arrow stage would recompute 3x.  Batch jobs use the
    # checkpointed-sink shape instead (operators/pipeline.run_batch).
    extracted = extract_stage(pages, run_ts=RUN_TS).persist()
    final = finalize(extracted)
    return final.select(
        "url", "status", "report_type", "company_key", "filing_sequence",
        "period_end", "n_pages", "n_sections", "n_checks_pass", "n_checks_fail",
        "avg_confidence",
    )


# --------------------------------------------------------------------------
# queries(): name -> (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import tempfile

    from pdf_parser_spark.operators import (
        curation, dedup, htmlmeta, linkgraph, multimodal, pdflayout,
        similarity, snapshot, textstats, weburl,
    )
    from pdf_parser_spark.operators.consistency import finalize
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.plans import relational as R
    from pdf_parser_spark.plans import sqlapi
    from pdf_parser_spark.sources import jsonl, orc, warc, warc_datasource
    from pdf_parser_spark.sources import tableformat as tf
    from pdf_parser_spark.streaming import (
        attribution, botdetect, changefeed, late, neardup, ratelimit,
        sessionize, trending, windowed,
    )
    from pdf_parser_spark.streaming import dedup as st_dedup
    from pdf_parser_spark.streaming import join as st_join
    from pdf_parser_spark.streaming import pipeline as st_pipeline

    def _docs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def _qc_structural(spark, sf_dir):
        """Fleet pass-rates of the reference's 9 output checks over the
        synthetic corpus (extraction output is not SQL-expressible -> the
        driver's rows-only check; deterministic per seed)."""
        from pdf_parser_spark.operators.quality import (
            quality_summary, structural_check_stage,
        )
        from pdf_parser_spark.sources.pages import synthetic_pages

        ext = extract_stage(
            synthetic_pages(spark, 96), run_ts=RUN_TS
        ).where("status = 'ok'")
        return quality_summary(structural_check_stage(ext))

    def _x_accession(spark, sf_dir):
        from pdf_parser_spark.operators.xbrl import accession_lookup
        from pdf_parser_spark.sources import xbrl as X

        req = spark.createDataFrame(X.requests_rows(), X.REQUESTS_SCHEMA)
        # dates as ISO strings: pandas widens DATE to timestamp in the
        # driver's DuckDB fetch, so a date-typed column can't hash-match
        return accession_lookup(req, X.submissions_df(spark)).withColumn(
            "report_date", F.col("report_date").cast("string")
        )

    def _x_facts(spark, sf_dir):
        from pdf_parser_spark.operators.xbrl import statement_facts
        from pdf_parser_spark.sources import xbrl as X

        return (
            statement_facts(X.facts_df(spark))
            .withColumn("end_date", F.col("end_date").cast("string"))
            .withColumn("start_date", F.col("start_date").cast("string"))
        )

    def _x_crossval(spark, sf_dir):
        from pdf_parser_spark.operators.xbrl import cross_validate
        from pdf_parser_spark.sources import xbrl as X

        xv = (
            X.facts_df(spark)
            .where(
                "unit = 'USD' AND segment IS NULL "
                "AND end_date = DATE '2024-12-31' AND start_date = DATE '2024-10-01'"
            )
            .select("cik", "concept", F.col("val").alias("xbrl_val"))
        )
        pdfv = spark.createDataFrame(X.pdf_values_rows(), X.PDF_VALUES_SCHEMA)
        return cross_validate(pdfv, xv)

    def _x_fleet(spark, sf_dir):
        """Fleet-wide V8: extraction's exported statement_values broadcast-
        joined against the corpus-issuer facts dimension (rows-only — the PDF
        side comes out of the Arrow extraction stage, not SQL)."""
        from pdf_parser_spark.operators.xbrl import fleet_cross_validate
        from pdf_parser_spark.sources.pages import synthetic_pages
        from pdf_parser_spark.sources.xbrl import corpus_facts_df

        extracted = extract_stage(
            synthetic_pages(spark, n_docs=60), run_ts=RUN_TS
        )
        return fleet_cross_validate(extracted, corpus_facts_df(spark)).orderBy(
            "url", "concept"
        )

    def _emb(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def _host_edges(spark, sf_dir):
        """(doc link edges, doc_id -> host): the two inputs every
        host-graph face compresses the link graph with."""
        docs = _docs(spark, sf_dir)
        hosts = weburl.canonicalize(weburl.with_synthetic_urls(docs))
        return linkgraph.synthetic_edges(docs), hosts.select("doc_id", "host")

    def _st_extract(spark, sf_dir):
        """Streaming extraction held to the SAME frozen per-doc tuples as
        the batch flagship: pages stream in 4 micro-batches (one file per
        trigger) through streaming/pipeline.stream_extract into a parquet
        sink; the per-doc outputs must be byte-identical to the core path
        regardless of batch boundaries (the stage is stateless per row —
        that's the claim this hash-checks)."""
        with tempfile.TemporaryDirectory(
            prefix="stextract_", ignore_cleanup_errors=True
        ) as work:
            in_dir, out_dir, ckpt = (
                f"{work}/in", f"{work}/out", f"{work}/ckpt"
            )
            _docs_as_pages(spark, sf_dir).repartition(4).write.parquet(in_dir)
            q = st_pipeline.stream_extract(
                spark, in_dir, out_dir, ckpt, run_ts=RUN_TS,
                max_files_per_trigger=1,
            )
            q.processAllAvailable()
            q.stop()
            return (
                spark.read.parquet(out_dir)
                .select(
                    "url", "status", "report_type",
                    F.col("n_pages").cast("long").alias("n_pages"),
                    F.col("n_sections").cast("long").alias("n_sections"),
                )
                .orderBy("url")
                .localCheckpoint(eager=True)
            )

    def _incremental_extract(spark, sf_dir):
        """The incremental-crawl composition: snapshot_diff picks the
        added/changed docs of the demo recrawl, and ONLY those cross the
        Arrow extraction stage — the driver hash then checks the extracted
        tuples against the frozen core-path expectations restricted to the
        same formula-defined set.  (diff -> re-extract is what the
        checkpoint/changefeed machinery exists to feed.)"""
        docs = _docs(spark, sf_dir)
        todo = (
            snapshot.snapshot_diff(*snapshot.demo_snapshots(docs))
            .where(F.col("change").isin("added", "changed"))
            .select("doc_id")
        )
        pages = _docs_as_pages(spark, sf_dir).withColumn(
            "doc_id",
            F.regexp_extract("url", r"/([0-9]+)$", 1).cast("long"),
        ).join(todo, "doc_id").drop("doc_id")
        return extract_stage(pages, run_ts=RUN_TS).select(
            "url", "status", "report_type",
            F.col("n_pages").cast("long").alias("n_pages"),
            F.col("n_sections").cast("long").alias("n_sections"),
        ).orderBy("url")

    def _table_time_travel(spark, sf_dir):
        """Three appends into the snapshot/manifest table format, then a
        time-travel read AT version 2: exactly the first two snapshots'
        rows come back, regardless of the third append or any orphaned
        files (the manifest — not a directory glob — defines the table)."""
        with tempfile.TemporaryDirectory(
            prefix="tbl_", ignore_cleanup_errors=True
        ) as work:
            for k in range(3):
                tf.append_snapshot(
                    _docs(spark, sf_dir).where(F.col("doc_id") % 3 == k), work
                )
            return (
                tf.read_table(spark, work, version=2)
                .select("doc_id", "lang", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_wap(spark, sf_dir):
        """Write-audit-publish (Iceberg WAP / cherry-pick) end to end:
        v1 publishes doc_id%3==0; a POISONED %3==1 batch (every 5th
        lang mangled to 'zz') is STAGED, caught by the audit on the
        staged view (main never sees it), and aborted; the clean %3==1
        batch is staged and audits green; a concurrent %3==2 append
        lands BETWEEN stage and publish, and publish must rebase onto
        it; a replayed publish must no-op via the wap token ledger.
        The final per-lang rollup equals the raw documents table —
        a leaked poisoned row ('zz' group), a lost concurrent append,
        or a doubled publish each hash-mismatch."""
        with tempfile.TemporaryDirectory(
            prefix="tblwap_", ignore_cleanup_errors=True
        ) as work:
            docs = _docs(spark, sf_dir)
            v1 = tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 0), work)
            poisoned = docs.where(F.col("doc_id") % 3 == 1).withColumn(
                "lang",
                F.when(F.col("doc_id") % 5 == 0, F.lit("zz"))
                .otherwise(F.col("lang")),
            )
            wap_bad = tf.stage_append(poisoned, work)
            # staged is invisible: no new version, one pending stage
            assert tf.current_version(work) == v1
            assert len(tf.list_staged(work)) == 1
            # the audit runs on the WOULD-BE table and catches the batch
            n_bad = (
                tf.read_staged(spark, work, wap_bad)
                .where(F.col("lang") == "zz").count()
            )
            assert n_bad > 0, "audit should see the poisoned rows"
            tf.abort_staged(work, wap_bad)
            wap_ok = tf.stage_append(docs.where(F.col("doc_id") % 3 == 1), work)
            assert (
                tf.read_staged(spark, work, wap_ok)
                .where(F.col("lang") == "zz").count() == 0
            )
            # concurrent append lands between stage and publish
            tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 2), work)
            v = tf.publish_staged(work, wap_ok)
            assert tf.publish_staged(work, wap_ok) == v  # exactly-once
            return (
                tf.read_table(spark, work)
                .groupBy("lang")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("doc_id").alias("sum_ids"),
                    F.sum("n_chars").alias("sum_chars"),
                )
                .orderBy("lang")
                .localCheckpoint(eager=True)
            )

    def _table_mor_delete(spark, sf_dir):
        """Merge-on-read equality deletes under the Iceberg v2 SEQUENCE
        rule, end to end: v1/v2 append doc_id%3 in (0,1); v3 equality-
        deletes every doc_id%5==0 key (a delete FILE commit — zero data
        files rewritten); v4 appends doc_id%3==2 — whose %5==0 members
        must SURVIVE the older delete (strictly-newer-files rule).  The
        final read is therefore (%3 in (0,1) AND %5 != 0) OR %3 == 2,
        which the oracle states directly; purge_deletes is then applied
        and must not change the hash (the maintenance rewrite materializes
        exactly the readers' view)."""
        with tempfile.TemporaryDirectory(
            prefix="tblmor_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(docs.where(d % 3 == 0), work)
            tf.append_snapshot(docs.where(d % 3 == 1), work)
            tf.delete_keys(
                spark, docs.where(d % 5 == 0).select("doc_id"), work,
                "doc_id")
            tf.append_snapshot(docs.where(d % 3 == 2), work)
            tf.purge_deletes(spark, work)  # hash-identity pinned by oracle
            return (
                tf.read_table(spark, work)
                .select("doc_id", "lang", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_pos_delete(spark, sf_dir):
        """Merge-on-read POSITION deletes (Iceberg v2's second delete
        kind) end to end: v1/v2 append doc_id%3 in (0,1); positions_of
        turns the row predicate (lang='de' OR doc_id%7==2) into (file,
        ordinal) pairs over the CURRENT files and delete_positions
        commits them (kind='pos', zero data files rewritten); v4 appends
        doc_id%3==2 — whose de/%7==2 members land in NEW files no
        position names, so they survive (the positional analog of the
        equality path's strictly-newer-seq rule).  purge_deletes then
        rewrites exactly the recorded target files and must not change
        the hash.  Final view: (%3 in (0,1) AND NOT(de OR %7==2)) OR
        %3==2, stated directly by the oracle."""
        with tempfile.TemporaryDirectory(
            prefix="tblpos_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(docs.where(d % 3 == 0), work)
            tf.append_snapshot(docs.where(d % 3 == 1), work)
            hit = (F.col("lang") == "de") | (F.col("doc_id") % 7 == 2)
            tf.delete_positions(
                spark, tf.positions_of(spark, work, hit), work)
            tf.append_snapshot(docs.where(d % 3 == 2), work)
            tf.purge_deletes(spark, work)  # hash-identity pinned by oracle
            return (
                tf.read_table(spark, work)
                .select("doc_id", "lang", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_branch(spark, sf_dir):
        """Branch/tag refs end to end: main v1 appends doc_id%3==0 and is
        tagged; a branch forked at v1 takes TWO audit appends (%3==1,
        %3==2) that main readers never see; fast_forward publishes the
        series as ONE metadata-only main commit (branch-added files
        renumbered to the new sequence); an equality delete (%11==0) on
        main afterwards must hit the renumbered branch files too — the
        final read is exactly docs %11 != 0, stated by the oracle.  A
        leaked branch commit before the ff, a lost branch append, or a
        seq-collision sparing branch files from the delete each
        hash-mismatch."""
        with tempfile.TemporaryDirectory(
            prefix="tblbr_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(docs.where(d % 3 == 0), work)
            tf.create_tag(work, "rel-1")
            tf.create_branch(work, "audit")
            tf.branch_append(docs.where(d % 3 == 1), work, "audit")
            tf.branch_append(docs.where(d % 3 == 2), work, "audit")
            tf.fast_forward(work, "audit", token="ff:1")
            tf.delete_keys(
                spark, docs.where(d % 11 == 0).select("doc_id"), work,
                "doc_id")
            return (
                tf.read_table(spark, work)
                .select("doc_id", "lang", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_snapshots(spark, sf_dir):
        """Metadata-table introspection: a deterministic lifecycle
        (append, append, compact, MOR delete, append — every file count
        pinned by coalesce(1)/small-table compaction) and then the
        version history queried AS A TABLE: one row per version with the
        derived commit kind and file/row deltas.  The oracle states the
        expected history literally with row counts from the documents
        strata."""
        with tempfile.TemporaryDirectory(
            prefix="tblsnap_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(docs.where(d % 3 == 0).coalesce(1), work)
            tf.append_snapshot(docs.where(d % 3 == 1).coalesce(1), work)
            tf.compact_table(spark, work)
            tf.delete_keys(
                spark, docs.where(d % 5 == 0).select("doc_id"), work,
                "doc_id")
            tf.append_snapshot(docs.where(d % 3 == 2).coalesce(1), work)
            return tf.snapshots_table(spark, work)

    def _table_dedup_inplace(spark, sf_dir):
        """Lakehouse dedup maintenance under ONE hash — the operation a
        10^12-row corpus runs every crawl cycle: the table ingests docs
        in two snapshots plus a RECRAWL snapshot of byte-identical copies
        (doc_id%4==0 re-appended at +10^6 ids, same text), exact-dedup
        election (d_exact's normalized-md5 fingerprint, keeper = min
        doc_id) names the losers, and a merge-on-read equality DELETE
        removes them — kilobytes of delete metadata against the whole
        table, zero data files rewritten at delete time — then
        purge_deletes compacts back to copy-on-write and the read must be
        exactly the original corpus.  A wrong keeper (copy kept), a
        missed copy, an over-delete, or a purge divergence each
        hash-mismatch."""
        with tempfile.TemporaryDirectory(
            prefix="tbldedup_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir).select(
                "doc_id", "text", "lang", "source")
            tf.append_snapshot(docs.where(d % 2 == 0), work)
            tf.append_snapshot(docs.where(d % 2 == 1), work)
            recrawl = docs.where(d % 4 == 0).withColumn(
                "doc_id", d + 1_000_000)
            tf.append_snapshot(recrawl, work)
            live = tf.read_table(spark, work)
            groups = dedup.exact_dedup_groups(live)
            fp = F.md5(F.lower(
                F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
            losers = (
                live.select(fp.alias("fp"), "doc_id")
                .join(groups.where(F.col("n_docs") > 1), "fp")
                .where(F.col("doc_id") != F.col("keep_doc_id"))
                .select("doc_id")
            )
            tf.delete_keys(spark, losers, work, "doc_id")
            tf.purge_deletes(spark, work)
            return (
                tf.read_table(spark, work)
                .select("doc_id", "lang", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_schema_evolution(spark, sf_dir):
        """Schema evolution end to end: v1 appends (doc_id, lang), v2
        appends (doc_id, lang, source) — an ADD-COLUMN evolution recorded
        in the manifest — and v3 drops lang metadata-only.  The final read
        exposes exactly (doc_id, source) with v1's rows NULL-backfilled
        (they were written before the column existed), which the oracle
        states directly from the doc_id%2 split."""
        with tempfile.TemporaryDirectory(
            prefix="tblevo_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(
                docs.where(d % 2 == 0).select("doc_id", "lang"), work)
            tf.append_snapshot(
                docs.where(d % 2 == 1).select("doc_id", "lang", "source"),
                work)
            tf.drop_columns(spark, work, ["lang"])
            return (
                tf.read_table(spark, work)
                .select("doc_id", "source")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_incremental_mv(spark, sf_dir):
        """Every commit kind flows through ONE signed-delta fold: v1/v2
        append the %3 splits, v3 is a COW merge that both INSERTS (%3==2)
        and UPDATES (%30==0 rows flip lang to 'zz'), v4 MOR-deletes every
        %7==0 key.  The returned view is the INCREMENTALLY maintained one
        — a fold bug (sign flip, lost group, zero-group retention)
        hash-mismatches the oracle's direct aggregation of the final
        state."""
        with tempfile.TemporaryDirectory(
            prefix="tblmv_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            docs = _docs(spark, sf_dir)
            tf.append_snapshot(docs.where(d % 3 == 0), work)
            tf.append_snapshot(docs.where(d % 3 == 1), work)
            upsert = docs.where(d % 3 == 2).unionByName(
                docs.where(d % 30 == 0).withColumn("lang", F.lit("zz"))
            )
            tf.merge_snapshot(spark, upsert, work, "doc_id")
            tf.delete_keys(
                spark, docs.where(d % 7 == 0).select("doc_id"), work,
                "doc_id")
            return (
                tf.incremental_mv(spark, work, "lang")
                .select("lang", F.col("n_rows").alias("n_docs"))
                .orderBy("lang")
                .localCheckpoint(eager=True)
            )

    def _table_pruned_scan(spark, sf_dir):
        """Zone-map scan over the manifest table: three appends with
        disjoint doc_id ranges, then a doc_id >= 334 scan that must
        eliminate the first two snapshots' files from METADATA alone
        (asserted — a planner regression fails the driver run, not just
        a timing)."""
        with tempfile.TemporaryDirectory(
            prefix="tblscan_", ignore_cleanup_errors=True
        ) as work:
            d = F.col("doc_id")
            for lo, hi in ((0, 167), (167, 334), (334, 1 << 40)):
                tf.append_snapshot(
                    _docs(spark, sf_dir).where((d >= lo) & (d < hi)), work
                )
            df, n_read, n_total = tf.scan_table(
                spark, work, predicates=[("doc_id", ">=", 334)]
            )
            assert n_read < n_total, (n_read, n_total)
            return (
                df.select("doc_id", "lang").orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _table_partitioned_scan(spark, sf_dir):
        """Hidden partitioning end to end (Iceberg partition transforms):
        events written once under (day(ts), bucket(4, event_type)), then a
        scan whose predicates mention ONLY the source columns — the
        planner derives the partition predicates itself (day widening at
        the strict bound, the bucket hash for the equality), eliminates
        day x bucket files from manifest metadata alone (asserted — a
        derivation regression fails the driver run), and the day-level
        rollup must hash-match the oracle's direct filter over the raw
        parquet.  At 10^12 rows this is the difference between listing a
        crawl-day's files and listing the crawl's."""
        with tempfile.TemporaryDirectory(
            prefix="tblpart_", ignore_cleanup_errors=True
        ) as work:
            ev = spark.read.parquet(f"{sf_dir}/events.parquet")
            tf.partitioned_append(
                ev, work, [("day", "ts"), ("bucket", 4, "event_type")]
            )
            df, n_read, n_total = tf.scan_table(
                spark, work,
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

    def _table_spec_evolution(spark, sf_dir):
        """Partition-spec evolution end to end (Iceberg §Partition
        Evolution): half the docs land under identity(lang), the spec
        evolves — one JSON write, zero data bytes — and the other half
        lands under identity(source).  Scan planning then resolves each
        file's OWN spec: a lang predicate eliminates old-era files, a
        source predicate eliminates new-era files, and each era's files
        pass un-pruned through the other era's predicate (asserted —
        era-appropriate pruning is the contract).  The returned rollup of
        three labeled scans must hash-match the oracle's direct filters
        over the raw parquet — pruning is an optimization, never the
        correctness path."""
        docs = _docs(spark, sf_dir)
        with tempfile.TemporaryDirectory(
            prefix="tblspec_", ignore_cleanup_errors=True
        ) as work:
            tf.partitioned_append(
                docs.where(F.col("doc_id") % 2 == 0), work,
                [("identity", "lang")],
            )
            tf.evolve_partition_spec(work, [("identity", "source")])
            tf.partitioned_append(
                docs.where(F.col("doc_id") % 2 == 1), work,
                [("identity", "source")],
            )
            scans = []
            for label, preds in [
                ("lang_eq", [("lang", "=", "en")]),
                ("source_eq", [("source", "=", "src3")]),
                ("both", [("lang", "=", "en"), ("source", "=", "src3")]),
            ]:
                df, n_read, n_total = tf.scan_table(
                    spark, work, predicates=preds
                )
                assert n_read < n_total, (label, n_read, n_total)
                scans.append(df.agg(
                    F.lit(label).alias("scan"),
                    F.count("*").cast("long").alias("n_docs"),
                    F.sum("doc_id").cast("long").alias("sum_ids"),
                ))
            return (
                scans[0].unionByName(scans[1]).unionByName(scans[2])
                .orderBy("scan").localCheckpoint(eager=True)
            )

    def _table_files(spark, sf_dir):
        """The files metadata table over a two-append identity(lang)
        table written one-file-per-partition-value: every footer row
        count and zone-map key range must equal the oracle's direct
        per-(stratum, lang) aggregation, ordinal = (min, max, rows)
        rank — uuid paths never surface."""
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        with tempfile.TemporaryDirectory(
            prefix="tblfiles_", ignore_cleanup_errors=True
        ) as work:
            for stratum in (0, 1):
                tf.partitioned_append(
                    docs.where(F.col("doc_id") % 3 == stratum).coalesce(1),
                    work, [("identity", "lang")],
                )
            return tf.files_table(spark, work)

    def _table_rollback(spark, sf_dir):
        """Rollback end to end: good append, bad append, metadata-only
        rollback (history moves FORWARD — the bad version stays time-
        travelable), the bad batch's token still refuses to replay after
        the rollback (exactly-once is per-batch, not per-state), then a
        recovery append.  Final state = good + recovery rows; the oracle
        is the direct filter."""
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        with tempfile.TemporaryDirectory(
            prefix="tblrb_", ignore_cleanup_errors=True
        ) as work:
            tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 0), work)
            tf.append_snapshot(
                docs.where(F.col("doc_id") % 3 == 1), work, token="bad-b2"
            )
            v3 = tf.rollback_to(work, 1)
            assert v3 == 3
            # the rolled-back batch must NOT replay: ledger survives
            v_after = tf.append_snapshot(
                docs.where(F.col("doc_id") % 3 == 1), work, token="bad-b2"
            )
            assert v_after == 3, v_after
            # the bad version is still time-travelable (forward history)
            n_v2 = tf.read_table(spark, work, version=2).count()
            assert n_v2 > tf.read_table(spark, work, version=3).count()
            kinds = {r["version"]: r["kind"]
                     for r in tf.snapshots_table(spark, work).collect()}
            assert kinds[3] == "rollback"
            tf.append_snapshot(docs.where(F.col("doc_id") % 3 == 2), work)
            return (
                tf.read_table(spark, work).orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _cdx_lookup_join(spark, sf_dir):
        """Composable CDX lookup (r3 verdict item 5): write the sorted
        range-partitioned capture shards, then resolve a FRAME of
        authorities (every 7th doc's authority) through the pure-plan
        broadcast range join — boundary frame x authority windows pick the
        hit files, the capture scan broadcast-hash-joins on file with the
        SURT-prefix residual; no driver action inside the composed query."""
        docs = _docs(spark, sf_dir)
        with tempfile.TemporaryDirectory(
            prefix="cdxjoin_", ignore_cleanup_errors=True
        ) as work:
            bounds = weburl.write_cdx(docs, work, n_shards=4)
            auth = (
                weburl.surt_key(
                    weburl.canonicalize(weburl.with_synthetic_urls(docs)))
                .where(F.col("doc_id") % 7 == 0)
                .select(F.substring_index("surt", ")", 1).alias("authority"))
                .distinct()
            )
            return weburl.cdx_lookup_join(
                spark, work, bounds, auth
            ).localCheckpoint(eager=True)

    def _warc_ingest_corpus(spark, sf_dir):
        """The full crawl-to-corpus lifecycle under ONE hash (r3 verdict
        item 9): documents -> write_warc shards on disk -> the REGISTERED
        format('warc') DataSource read (Content-Length framing, real
        bytes) -> per-doc_id mixed-charset re-encode -> composed ingest
        chain (sniff-decode -> NFC -> hard gate) -> corpus_build (gate ->
        exact dedup -> decontaminate -> stratified sample -> shard pack)
        over EXACTLY the text the ingest chain decoded.  Output: the
        packed survivors with their ingest verdicts — drift anywhere in
        the lifecycle (archive framing, charset decode, NFC bytes, gate
        thresholds, dedup keeper, sampling hash, packing prefix-sum)
        fails the one hash."""
        docs = _docs(spark, sf_dir)
        with tempfile.TemporaryDirectory(
            prefix="warclife_", ignore_cleanup_errors=True
        ) as work:
            warc.write_warc(docs, work)
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", "true")
            spark.dataSource.register(warc_datasource.WarcDataSource)
            back = spark.read.format("warc").load(work).select(
                F.regexp_extract("target_uri", r"/doc/([0-9]+)$", 1)
                .cast("long").alias("doc_id"),
                F.regexp_extract("target_uri", r"^https://([^.]+)\.", 1)
                .alias("source"),
                F.col("body").alias("text"),
            )
            # lang is crawl metadata, not archive bytes: dim join
            rebuilt = back.join(docs.select("doc_id", "lang"), "doc_id")
            pages = curation.with_mixed_encodings(rebuilt)
            ing = curation.ingest_pipeline(pages, return_text=True)
            decoded_docs = ing.select("doc_id", "text").join(
                rebuilt.select("doc_id", "source", "lang"), "doc_id")
            built = curation.corpus_build(decoded_docs)
            return (
                built.join(
                    ing.select("doc_id", "charset", "nfc_changed"), "doc_id")
                .select("doc_id", "source", "lang", "n_tokens", "shard_id",
                        "charset", "nfc_changed")
                .orderBy("doc_id")
                .localCheckpoint(eager=True)
            )

    def _run_lineage(spark, sf_dir):
        """The north rule's checkpoint/lineage/resume channel in the
        driver gate (previously pytest-only): run r0 extracts the EVEN
        doc_ids through the checkpoint sink (committed by its lineage
        rows in ``{work}/lineage``), run r1 submits ALL pages with
        resume=True — the anti-join against r0's committed rows must
        route exactly the odd half through extraction — and the returned
        rollup aggregates the per-partition lineage rows per run: totals,
        ok/error split, url range.  Partition-count and per-partition
        splits are parallelism-dependent and deliberately NOT in the
        output; the SUMS are exact and provably lossless against the
        frozen fixture (a dropped or double-counted partition breaks
        the hash)."""
        from pdf_parser_spark.operators.pipeline import run_batch

        with tempfile.TemporaryDirectory(
            prefix="lineage_", ignore_cleanup_errors=True
        ) as work:
            pages = _docs_as_pages(spark, sf_dir).withColumn(
                "doc_id",
                F.regexp_extract("url", r"/([0-9]+)$", 1).cast("long"),
            )
            run_batch(
                pages.where(F.col("doc_id") % 2 == 0).drop("doc_id"),
                work, run_ts=RUN_TS, run_id="r0",
            )
            run_batch(
                pages.drop("doc_id"), work, run_ts=RUN_TS, run_id="r1",
                resume=True,
            )
            return (
                spark.read.parquet(f"{work}/lineage")
                .groupBy("run_id")
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    F.sum("n_ok").cast("long").alias("n_ok"),
                    F.sum("n_error").cast("long").alias("n_error"),
                    F.min("url_min").alias("url_min"),
                    F.max("url_max").alias("url_max"),
                )
                .orderBy("run_id")
                .localCheckpoint(eager=True)
            )

    def extract_pipeline(spark, sf_dir):
        # materialized once (finalize fans out into 3 plan branches); an
        # eager localCheckpoint is released with the frame, a persist is not
        extracted = extract_stage(
            _docs_as_pages(spark, sf_dir), run_ts=RUN_TS
        ).localCheckpoint(eager=True)
        final = finalize(extracted)
        # counters cast to long: the driver's hash compares against DuckDB
        # BIGINTs (same convention as every other integer output)
        return final.select(
            "url", "status", "report_type",
            F.col("n_pages").cast("long").alias("n_pages"),
            F.col("n_sections").cast("long").alias("n_sections"),
            F.col("filing_sequence").cast("long").alias("filing_sequence"),
        ).orderBy("url")

    return {
        # --- SURVEY §2.9 cross-document operators over driver tables ---
        "w1_event_sequence": R.w1_event_sequence,
        "w2_first_value": R.w2_first_value,
        "w3_lang_summary": R.w3_lang_summary,
        "v2_tolerance_bands": R.v2_tolerance_bands,
        "w4_sessionize": R.w4_sessionize,
        # strictly-ordered first-touch funnel: chained window mins over ONE
        # user partitioning, exact-bp conversion — never an events^3 self-join
        "w5_funnel": R.w5_funnel,
        # weekly cohort retention matrix: first-active-week cohorts x
        # week offsets, exact-bp retained share — all keyed shuffles
        "w7_cohort_retention": R.w7_cohort_retention,
        # last-touch attribution: one ignorenulls struct-carry window
        "w8_attribution": R.w8_attribution,
        # per-user peak-rate bot gate: ONE range-frame window (trailing
        # 60 s count, maxed per user) — exact peak, no self-join
        "w9_bot_detect": R.w9_bot_detect,
        # RFM quartile segmentation: fixed as-of recency, total-order
        # ntiles (ties split by user_id, the documented rule)
        "w10_rfm": R.w10_rfm,
        # per-week DAU/WAU stickiness in exact bp (floor-epoch periods)
        "w11_stickiness": R.w11_stickiness,
        # Pareto user-concentration curve: ceil-sized top slices, exact
        # cumulative shares off one user-dim rank window
        "w12_user_concentration": R.w12_user_concentration,
        # per-type think-time histogram: floor-log2 gap buckets off one
        # (user, type) lag window — the bot signature lives at bucket 0
        "w13_interevent_gaps": R.w13_interevent_gaps,
        # growth accounting: dense-week WAU decomposition (new/retained/
        # resurrected/churned) with both accounting identities holding at
        # every row; churn derives as lag(n_active) - n_retained
        "w14_growth_accounting": R.w14_growth_accounting,
        # activity Gini in exact bp: rank-weighted form over the
        # two-phase exact rank (w10/w12 machinery), one floor division
        "w15_activity_gini": R.w15_activity_gini,
        # native session_window (third sessionize face; INCLUSIVE merge
        # boundary — an event at exactly prev+gap merges, same as W4's lag
        # rule; pinned by the oracle's `> gap` new-session test and the
        # pytest boundary pin)
        "w6_session_window": R.w6_session_window,
        "st_sessionize": sessionize.sessionize_via_stream,
        # bucketed interval join: equi join on the time bucket + exact
        # range filter — never a nested-loop range predicate
        "j_range_join": R.j_range_join,
        "f_regex_extract": R.f_regex_extract,
        # GeoAlign-style aggregate alignment across unaligned time grids
        "a_align_rollup": R.a_align_rollup,
        # gap-filled hourly series + forward fill (generated per-type grid,
        # last(ignorenulls) over the bounded series dim)
        "a_gapfill": R.a_gapfill,
        # --- joins / set ops / rollup ---
        "j_asof_latest_order": R.j_asof_latest_order,
        "u_setops": R.u_setops,
        "g_rollup_revenue": R.g_rollup_revenue,
        # CUBE: all 2^d grouping sets + grouping_id lattice check
        "g_cube_revenue": R.g_cube_revenue,
        # PIVOT with an explicit value list (the only 10^12-safe form)
        "q_pivot_lang_matrix": R.q_pivot_lang_matrix,
        # --- TPC-H-style headline queries ---
        "q1_pricing_summary": R.q1_pricing_summary,
        "q3_top_orders": R.q3_top_orders,
        "q5_region_revenue": R.q5_region_revenue,
        "q6_forecast_revenue": R.q6_forecast_revenue,
        "q4_order_priority": R.q4_order_priority,
        "q18_large_orders": R.q18_large_orders,
        "q7_volume_shipping": R.q7_volume_shipping,
        "q10_returned_items": R.q10_returned_items,
        "q12_priority_by_status": R.q12_priority_by_status,
        "q13_order_count_distribution": R.q13_order_count_distribution,
        "q14_promo_revenue": R.q14_promo_revenue,
        "q15_top_supplier": R.q15_top_supplier,
        "q19_bracket_revenue": R.q19_bracket_revenue,
        "q22_dormant_customers": R.q22_dormant_customers,
        # --- r2: the correlated/decorrelation family (adapted to the
        # available schema: no partsupp/receiptdate/container columns) ---
        "q17_small_quantity_revenue": R.q17_small_quantity_revenue,
        "q20_promo_volume_suppliers": R.q20_promo_volume_suppliers,
        "q21_lone_returning_supplier": R.q21_lone_returning_supplier,
        "q2_min_price_supplier": R.q2_min_price_supplier,
        "q8_market_share": R.q8_market_share,
        "q9_profit_by_nation_year": R.q9_profit_by_nation_year,
        "q11_revenue_concentration": R.q11_revenue_concentration,
        "q16_supplier_diversity": R.q16_supplier_diversity,
        # --- structural quality harness (SURVEY §5 level 4; rows-only) ---
        "qc_structural": _qc_structural,
        # --- XBRL dimension operators (N6/N7/V8 relational) ---
        "x_accession_lookup": _x_accession,
        "x_statement_facts": _x_facts,
        "x_cross_validate": _x_crossval,
        "x_fleet_cross_validate": _x_fleet,
        # --- text analysis ---
        "t_token_count": lambda s, d: textstats.token_count(_docs(s, d)),
        # bigram-LM surprisal with stupid backoff (integer-bits KenLM analog)
        "t_surprisal2": lambda s, d: textstats.lm_surprisal2(_docs(s, d)),
        # interpolated Kneser-Ney bigram surprisal — continuation-count
        # smoothing (the 'Francisco' fix), exact integers in quarters
        "t_surprisal_kn": lambda s, d: textstats.lm_surprisal_kn(
            _docs(s, d)),
        # Flesch reading ease + FK grade in exact milli-units, one scan
        "t_readability": lambda s, d: textstats.readability(_docs(s, d)),
        # TTR + moving-average TTR (MATTR) lexical diversity, all-JVM
        "t_lexical_diversity": lambda s, d: textstats.lexical_diversity(
            _docs(s, d)),
        # per-language tokenizer fertility (multilingual-fairness stat)
        "t_fertility": lambda s, d: textstats.tokenizer_fertility(_docs(s, d)),
        # per-doc n-gram novelty vs everything ingested before it (the
        # marginal-value / memorization-risk stat; ordered via min(doc_id))
        "t_novelty": lambda s, d: textstats.ngram_novelty(_docs(s, d)),
        # Heaps-law vocabulary growth: distinct types per ingest prefix —
        # one vocab-key min-groupBy, then K-row ladder histograms + cumsums
        "t_vocab_growth": lambda s, d: textstats.vocab_growth(_docs(s, d)),
        # Zipf rank-frequency audit: type/token ladder per log2-frequency
        # bucket (floor-log2 bits doctrine), integer-bp token shares
        "t_zipf_buckets": lambda s, d: textstats.zipf_buckets(_docs(s, d)),
        "t_lang_id": lambda s, d: textstats.lang_id(_docs(s, d)),
        # declared-vs-detected confusion audit (zero-join: prediction is
        # the same in-scan Column lang_id uses)
        "t_lang_mismatch": lambda s, d: textstats.lang_mismatch_audit(
            _docs(s, d)
        ),
        # unicode-script distribution over injected multilingual samples
        "t_script_stats": lambda s, d: textstats.script_stats(
            textstats.with_script_mix(_docs(s, d))
        ),
        # unigram-LM surprisal + CCNet head/middle/tail value-terciles
        # (exact integer bits via bin()-length, no log/float anywhere)
        "t_surprisal": lambda s, d: textstats.lm_surprisal(_docs(s, d)),
        # Naive-Bayes wiki-vs-crawl quality classifier (CCNet §4.3 /
        # fastText's linear filter in closed form): per-class floor-log2
        # bits, margin = bits_neg - bits_pos, keep when >= 0 — all BIGINT
        "t_nb_classifier": lambda s, d: textstats.nb_quality_classifier(
            _docs(s, d)
        ),
        # NB-vs-heuristic-gate calibration confusion matrix
        "t_filter_agreement": lambda s, d: textstats.filter_agreement(
            _docs(s, d)
        ),
        # per-domain quality prior (CCNet/RefinedWeb): exact integer bp
        # mean of the shared soft-quality formula, min-docs trust gate
        "u_domain_quality": lambda s, d: weburl.domain_quality_prior(
            _docs(s, d)
        ),
        # global fetch budget apportioned across trusted domains by prior
        # weight — Hamilton largest-remainder, exact-sum invariant
        "u_crawl_budget": lambda s, d: weburl.crawl_budget(
            weburl.domain_quality_prior(_docs(s, d))
        ),
        # crawler-trap url audit (depth / repeated segment / runaway
        # pagination / session id) — all-JVM scan rules
        "u_trap_urls": lambda s, d: weburl.trap_url_audit(
            weburl.with_trap_urls(_docs(s, d))
        ),
        # per-host URL templates ({h}/{d} slot mining + explosion gate):
        # the template-level face of the trap problem
        "u_url_templates": lambda s, d: weburl.url_templates(
            weburl.with_trap_urls(_docs(s, d))
        ),
        # per-template duplicate-content rates: template mining x exact
        # fingerprints -> cap the TEMPLATE, not urls one by one
        "u_template_dup": lambda s, d: weburl.template_dup_rates(
            weburl.with_trap_urls(_docs(s, d))
        ),
        # soft-404 detection (Bar-Yossef WWW 2004 probe trick, the crawl's
        # own hard 404s as the free probes): error-title regexp + host
        # error-template length band, broadcast host dim
        "u_soft404": lambda s, d: weburl.soft404_audit(
            weburl.with_fetch_log(_docs(s, d))
        ),
        # typosquat/homoglyph domain audit: FastSS 1-deletion postings
        # blocking + UTS-39-style skeleton channel, exact levenshtein
        # verify, defended top-N broadcast — never all-pairs
        "u_typosquat": lambda s, d: weburl.typosquat_audit(
            weburl.with_brand_domains(_docs(s, d))
        ),
        # RFC 9111 revalidation policy ladder: no-store/private >
        # max-age > validators > heuristic (a crawler is a SHARED cache)
        "u_http_cache": lambda s, d: weburl.http_cache_policy(
            weburl.with_http_headers(_docs(s, d))
        ),
        # composed recrawl verdict: dead pages out (hard then soft 404)
        # before the RFC 9111 ladder routes survivors — stage interaction
        # under ONE hash
        "u_recrawl_decision": lambda s, d: weburl.recrawl_decision(
            _docs(s, d)
        ),
        # RFC 3986 §5.2.4 dot-segment removal: one string fold, root
        # clamp, directory-ness preserved
        "u_dot_segments": lambda s, d: weburl.remove_dot_segments(
            weburl.with_dot_urls(_docs(s, d))
        ),
        # RFC 9309 §2.2.2 longest-match Allow/Disallow decisions: rules
        # parsed from real bytes (shared group resolution), one struct-max
        # per url
        "u_robots_allow": lambda s, d: (lambda canon: weburl.robots_decision(
            canon,
            weburl.parse_robots_rules(
                weburl.with_robots_allow(canon.select("host").distinct())
            ),
        ))(weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))),
        # tracking-param mining on the RAW url stream (upstream of the
        # canonicalizer whose drop list this table would grow)
        "u_param_audit": lambda s, d: weburl.param_audit(_docs(s, d)),
        # wildcard robots grammar: '*' spans + trailing '$' anchor, raw
        # pattern length ranks, parsed from real bytes
        "u_robots_wild": lambda s, d: (lambda canon: weburl.robots_decision_wildcard(
            canon,
            weburl.parse_robots_rules(
                weburl.with_robots_wildcards(canon.select("host").distinct())
            ),
        ))(weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))),
        # sitemap discovery: Sitemap: lines parsed out of REAL robots bytes
        # (RFC 9309 §2.3), one multiline regexp on the per-host dim
        "u_sitemap_discovery": lambda s, d: weburl.discover_sitemaps(
            weburl.with_robots_sitemaps(
                weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
                .select("host").distinct()
            )
        ),
        "t_quality_score": lambda s, d: textstats.quality_score(_docs(s, d)),
        # Gopher filter battery (Rae et al. 2021 App. A): one verdict column
        # per published rule over the synthetic multi-line text (single-line
        # documents.text would degenerate the two line rules)
        "t_gopher_rules": lambda s, d: textstats.gopher_rules(
            curation.with_synthetic_lines(_docs(s, d)), text_col="text_multi"
        ),
        # C4 cleaning battery (Raffel et al. 2020 §2.2): line-granular keep/
        # drop + page verdicts over synthetic lines that exercise every rule
        # on coprime doc_id moduli; kept_md5 pins the byte-exact cleaned text
        "t_c4_rules": lambda s, d: textstats.c4_rules(
            curation.with_c4_lines(_docs(s, d)), text_col="text_c4"
        ),
        "t_fingerprint": lambda s, d: textstats.fingerprint(_docs(s, d)),
        # exact per-source token-length quantiles (rank-based, portable)
        "t_length_quantiles": lambda s, d: textstats.length_quantiles(
            _docs(s, d)
        ),
        # capped inverted index: per-term df + top-k postings by tf
        "t_inverted_index": lambda s, d: textstats.inverted_index(
            _docs(s, d)
        ),
        # BPE merge induction over the word-frequency dict (fit-small
        # argmax per iteration, JVM aggregate() fold for the merge)
        "t_bpe_merges": lambda s, d: textstats.bpe_merges(_docs(s, d)),
        # tokenizer apply: per-doc symbol counts under the learned merges
        "t_bpe_apply": lambda s, d: textstats.bpe_apply(_docs(s, d)),
        # PRODUCTION fit (r3 verdict item 2): one corpus word-count pass,
        # all k merge rounds driver-side over the frequency-capped head —
        # hash-checked against the SAME oracle as the distributed trainer
        "t_bpe_merges_localfit": lambda s, d: textstats.bpe_merges_local(
            _docs(s, d)
        ),
        # production apply: broadcast merge table, one Arrow pass over
        # DISTINCT words, vocab-map join — same oracle as t_bpe_apply
        "t_bpe_apply_localfit": lambda s, d: textstats.bpe_apply_local(
            _docs(s, d)
        ),
        # crawl-cycle drift monitor: hashed-token share deltas between the
        # two deterministic snapshots, top movers by |delta| in bp
        "t_token_drift": lambda s, d: textstats.token_drift(
            *textstats.drift_snapshots(_docs(s, d))
        ),
        "t_winnow_fp": lambda s, d: textstats.winnow_fingerprint(_docs(s, d)),
        "t_token_count_bpe": lambda s, d: textstats.bpe_token_count(_docs(s, d)),
        "t_quality_gate": lambda s, d: textstats.quality_gate(_docs(s, d)),
        "t_repetition": lambda s, d: textstats.repetition_stats(_docs(s, d)),
        # corpus vocabulary report: top-10 terms per language
        "t_top_terms": lambda s, d: textstats.top_terms(_docs(s, d)),
        # CMS heavy hitters: mergeable d x w counter sketch, one-sided
        # guarantee hash-checked as exact integer verdicts
        "t_cms_heavy_hitters": lambda s, d: textstats.cms_heavy_hitters(
            _docs(s, d)
        ),
        # skew-proof two-phase top-k: salted candidate windows AFTER the
        # global count — exact by construction, same oracle as t_top_terms
        "t_top_terms_2p": lambda s, d: textstats.top_terms_two_phase(
            _docs(s, d)
        ),
        # PMI collocations: bound pairs raw frequency buries — exact
        # integer ppm ranking, no floats/logs anywhere
        "t_collocations": lambda s, d: textstats.pmi_collocations(_docs(s, d)),
        # the release datasheet: per-(source, lang) docs/tokens/dup rollup
        "t_datasheet": lambda s, d: textstats.corpus_datasheet(_docs(s, d)),
        # the ONE-row release headline above the datasheet: composes the
        # live gate + quality operators (corpus_build doctrine)
        "c_release_headline": lambda s, d: curation.release_headline(_docs(s, d)),
        # 10^12 face: HLL distinct instead of the exact fingerprint shuffle.
        # HLL++ register layouts are engine-specific so the sketch VALUE
        # can't cross-engine compare — the registered face is the BAND
        # VERDICT (r3 item 3): exact columns + hll_within_band boolean,
        # which the oracle recomputes/asserts, so the row hash-checks
        "t_datasheet_approx": lambda s, d: textstats.corpus_datasheet_audit(
            _docs(s, d)
        ),
        # sketch face of the exact quantiles (GK percentile_approx): same
        # doctrine — the registered face emits the exact quantiles plus
        # per-percentile in-envelope verdicts the oracle asserts TRUE
        "t_length_quantiles_approx": lambda s, d: textstats.length_quantiles_audit(
            _docs(s, d)
        ),
        # per-doc keywords: all-integer TF-IDF ordering (df asc, tf desc)
        "t_keywords": lambda s, d: textstats.doc_keywords(_docs(s, d)),
        # BM25 top-k retrieval: corpus-derived 2-term queries, exact-BIGINT
        # rational tf component (k1/b cleared by x1000T), single-ln idf
        # under the 4dp round — the ranked-search face of t_inverted_index
        "t_bm25": lambda s, d: textstats.bm25_topk(_docs(s, d)),
        # labeled retrieval audit: rank of each query's SOURCE doc, exact
        # integer MRR components — shares _bm25_scores with t_bm25
        "t_bm25_mrr": lambda s, d: textstats.bm25_source_mrr(_docs(s, d)),
        # exact phrase search via a positional inverted index: adjacency
        # as a pure equi-join on (doc_id, pos+1), query-term broadcast
        # semi-filters before any pairing
        "t_phrase_search": lambda s, d: textstats.phrase_search(
            _docs(s, d), textstats.phrase_queries(_docs(s, d))
        ),
        # code-vs-prose routing signals: brace/keyword/EOL-shape counts,
        # one JVM scan projection
        "t_code_detect": lambda s, d: textstats.code_detect(
            textstats.with_code_blocks(_docs(s, d))
        ),
        # BM25F body+anchor field ranking (Robertson CIKM'04): weighted
        # tf merged BEFORE saturation, either-field df
        "t_bm25f": lambda s, d: textstats.bm25f_topk(
            _docs(s, d), textstats.with_anchor_field(_docs(s, d))
        ),
        # KWIC concordance for the df-top term: in-row context slicing,
        # positional per-doc cap
        "t_kwic": lambda s, d: textstats.kwic(_docs(s, d)),
        # in-text ISO-date freshness: real month/day ranges, lexicographic
        # min/max (ISO's gift), decoys pinned
        "t_date_extract": lambda s, d: textstats.date_extract(
            textstats.with_pub_dates(_docs(s, d))
        ),
        # character entropy in floored milli-bits: the junk detector
        # orthogonal to word rules (repeated-char filler sits far below
        # prose, base64 far above)
        "t_char_entropy": lambda s, d: textstats.char_entropy(_docs(s, d)),
        # unigram-LM tokenizer (SentencePiece-style): ONE distributed word
        # count -> driver-local EM on the capped head; oracle = the frozen
        # pure-Python twin sharing _unigram_em verbatim
        "t_unigram_vocab": lambda s, d: textstats.unigram_fit_local(
            _docs(s, d)
        ),
        # Viterbi segmentation totals under that vocabulary (integer
        # combined units fold the fewest-pieces tie-break into the cost)
        "t_unigram_apply": lambda s, d: textstats.unigram_apply(_docs(s, d)),
        # per-lang fertility of the unigram tokenizer (model-card stat)
        "t_unigram_fertility": lambda s, d: textstats.unigram_fertility(
            _docs(s, d)
        ),
        # is the quality score a length proxy? exact-integer Pearson
        # moments + covariance sign, one map-side aggregate
        "t_len_quality_assoc": lambda s, d: textstats.len_quality_assoc(
            _docs(s, d)
        ),
        # per-rule gate impact: fires / sole-blocker / token mass per rule,
        # zero-filled (the knob-tuning table)
        "t_gate_impact": lambda s, d: textstats.gate_impact(_docs(s, d)),
        # curriculum tiers: exact decile binning via the 4dp value histogram
        # (no global-sort ntile window)
        # dup-vs-quality concentration: injected recrawl copies, exact
        # groups over the augmented stream, per-tier rates
        "c_dup_by_tier": lambda s, d: curation.dup_by_quality_tier(
            _docs(s, d)
        ),
        "c_quality_tiers": lambda s, d: curation.quality_tiers(
            textstats.quality_score(_docs(s, d)).select("doc_id", "quality")
        ),
        "st_dedup": st_dedup.dedup_via_stream,
        # bounded-state streaming dedup: dropDuplicatesWithinWatermark —
        # one-batch replay never evicts, so the exact DISTINCT oracle
        # holds; eviction/re-admit pinned in pytest
        "st_dedup_watermark": st_dedup.dedup_watermark_via_stream,
        # streaming LSH near-dup candidate feed: stateful first-seen keeper
        # per band bucket; one-batch replay makes the keeper the bucket min,
        # so the batch oracle is exact
        "st_neardup": neardup.neardup_via_stream,
        # per-host politeness rate limiter: stateful max-plus schedule
        # (emit_n = max(arrival, last_emit + delay)), one BIGINT state row
        # per host; oracle = the closed form delay*n + running_max(arr-k*d)
        "st_rate_limit": ratelimit.rate_limit_via_stream,
        # streaming last-touch attribution: per-user stateful touch-carry
        # (applyInPandasWithState); one-batch replay -> the batch W8 SQL
        # is the oracle verbatim; cross-batch carry pinned in pytest
        "st_attribution": attribution.attribution_via_stream,
        # streaming decayed trending (forward decay base 2, ICDE 2009):
        # per-key stateful floor-shift fold, two-BIGINT state; one-batch
        # replay -> recursive-CTE window chain is the oracle
        "st_trending": trending.trending_via_stream,
        # streaming peak-rate bot gate: bounded per-second histogram
        # state (applyInPandasWithState); one-batch replay -> the batch
        # W9 SQL is the oracle verbatim
        "st_bot_detect": botdetect.bot_detect_via_stream,
        # streaming right-to-be-forgotten: delete-request batches ->
        # foreachBatch(delete_keys) MOR commits, exactly-once via the
        # txnAppId-style token; read merges at scan time
        "st_gdpr_delete": st_pipeline.gdpr_delete_via_stream,
        # streaming ingest into a hidden-partitioned table: two micro-
        # batches -> partitioned_append commits, exactly-once via the
        # token ledger (batch 0 replayed in-harness and MUST skip), then
        # a pruned source-column-predicate scan feeds the rollup
        "st_partitioned_ingest": st_pipeline.partitioned_ingest_via_stream,
        # gated streaming ingest: write-audit-publish per micro-batch —
        # the poisoned batch is staged, audited, and ABORTED (no version);
        # clean batches publish; a replayed published batch must skip
        "st_gated_ingest": st_pipeline.gated_ingest_via_stream,
        # streaming incremental-MV maintenance: per-batch signed fold
        # (-1 from the batch keys' current rows, +1 from the batch), MV
        # committed before the idempotent base merge under the token
        # ledger — group-moving updates and a replayed batch both pinned
        "st_incremental_mv": st_pipeline.mv_maintain_via_stream,
        # watermark late-DROP semantics: 4-batch replay with a re-delivered
        # early batch that must be dropped (and a trap batch that would
        # re-emit duplicates if it were merged instead)
        "st_late_events": late.late_events_via_stream,
        "st_window_counts": windowed.window_counts_via_stream,
        # stream-static enrichment join: broadcast dim per micro-batch,
        # stateless (no watermark, no buffering) — the common join form
        "st_static_enrich": st_join.static_enrich_via_stream,
        # stream-stream interval join (view->click attribution): watermarks
        # on BOTH legs + the time-range condition bound the join state to
        # the attribution horizon — the only way a 10^12-event firehose
        # join is runnable at all
        "st_stream_join": st_join.attribution_join_via_stream,
        # streaming extraction replay: per-doc outputs must equal the
        # frozen core-path tuples whatever the micro-batch boundaries
        "st_extract": _st_extract,
        # streaming crawl change-feed: one micro-batch per recrawl cycle,
        # last-seen fingerprint in keyed state; held to the batch lag() oracle
        "st_change_feed": changefeed.change_feed_via_stream,
        # --- dedup ---
        "d_exact": lambda s, d: dedup.exact_dedup_groups(_docs(s, d)),
        # cross-snapshot dedup curve (FineWeb-style): per synthetic crawl,
        # new vs within-crawl-dup vs seen-in-earlier-crawl partition of
        # every doc, exact bp rates, zero-filled over the crawl dim
        "d_dup_trend": lambda s, d: dedup.dup_rate_trend(_docs(s, d)),
        # survivorship audit: which sources keep their docs and which lose
        # them to another source's copy when near-dup clusters collapse
        "d_survivorship": lambda s, d: dedup.dedup_survivorship(_docs(s, d)),
        "d_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(_docs(s, d), threshold=0.2),
        # one-pass threshold knob table: banded candidates verified ONCE,
        # thresholded |grid| times — pairs + docs-touched per candidate
        "d_threshold_sweep": lambda s, d: dedup.jaccard_threshold_sweep(
            _docs(s, d)),
        "d_minhash_sig": lambda s, d: dedup.minhash_signatures(_docs(s, d))
        .select("doc_id", F.posexplode("sig").alias("k", "minhash"))
        .select("doc_id", F.col("k").cast("long").alias("k"), "minhash")
        .orderBy("doc_id", "k"),
        "d_minhash_lsh": lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
        # cross-source duplication matrix: the datasheet face of the pair
        # stream (syndication/mirror mass per unordered source pair)
        "d_cross_source": lambda s, d: dedup.cross_source_dups(_docs(s, d)),
        # sketch-accuracy audit: MinHash estimate vs exact Jaccard per
        # candidate pair, signed err in exact-integer bp
        "d_minhash_est": lambda s, d: dedup.minhash_estimate_audit(_docs(s, d)),
        # content-defined chunking (LBFS lineage): boundaries re-sync after
        # edits; greedy MIN/MAX walk over md5-window cut candidates
        "d_cdc_chunks": lambda s, d: dedup.cdc_chunks(_docs(s, d)),
        "d_components": lambda s, d: dedup.connected_components(
            dedup.minhash_lsh_pairs(_docs(s, d))
        ),
        # quality-aware keeper election: the cluster keeps its BEST copy
        # (shared soft-quality formula, exact-bp struct-max argmax)
        "d_keeper_election": lambda s, d: dedup.keeper_election(
            dedup.connected_components(dedup.minhash_lsh_pairs(_docs(s, d))),
            textstats.quality_score(_docs(s, d)).select("doc_id", "quality"),
        ),
        "d_simhash": lambda s, d: dedup.simhash(_docs(s, d)),
        # asymmetric containment: excerpts/syndication that Jaccard misses
        "d_containment": lambda s, d: dedup.containment_pairs(
            dedup.with_syndicated(_docs(s, d))
        ),
        "d_embedding_neardup": lambda s, d: dedup.embedding_neardup_pairs(_emb(s, d), threshold=0.3),
        # SemDeDup (Abbas et al. 2023): cosine dup groups within the coarse
        # cluster, keeper = LOWEST centroid-cosine member (exact-integer
        # election: quantized sum-centroid + sign-adjusted square ratio)
        "d_semdedup": lambda s, d: dedup.semdedup(_emb(s, d), threshold=0.3),
        # --- similarity search ---
        "s_ann_brute": lambda s, d: similarity.brute_force_topk(_emb(s, d)),
        # MMR diversified re-rank (lambda=0.7 in exact integer bp): greedy
        # argmax over brute candidates, select_k bounded keyed rounds
        "s_mmr_rerank": lambda s, d: similarity.mmr_rerank(_emb(s, d)),
        "s_ann_ivf": lambda s, d: similarity.ivf_topk(_emb(s, d)),
        # fit-on-sample mode: Lloyd rounds touch only the md5-deterministic
        # 25% sample; the oracle's frozen numpy twin applies the same filter
        "s_ann_ivf_samplefit": lambda s, d: similarity.ivf_topk(
            _emb(s, d),
            centroids=similarity.kmeans_fit(
                _emb(s, d), sample_bp=similarity.KMEANS_SAMPLE_BP
            ),
        ),
        "s_ann_lsh": lambda s, d: similarity.lsh_topk(_emb(s, d)),
        # SQ8 scalar quantization: one-byte codes against a global range,
        # quantized cosine from INTEGER sufficient statistics (the
        # int8-dot-product engine path; 8x memory vs raw doubles)
        "s_ann_sq8": lambda s, d: similarity.sq8_topk(_emb(s, d)),
        # IVF x PQ (FAISS IVFADC): coarse cells prune WHICH vectors, codes
        # compress WHAT is scanned — the reduction factors multiply
        "s_ann_ivfpq": lambda s, d: similarity.ivfpq_topk(_emb(s, d)),
        # IVFADC as PUBLISHED (Jegou PAMI 2011 §IV-A): PQ codes quantize the
        # RESIDUAL vs the coarse centroid, query ADC tables become per-probe
        # — the Spark query fits both stages itself, the oracle composes the
        # frozen centroid + residual-codebook numpy twins
        # rerank=None: ADC-only face, same rationale as s_ann_pq
        "s_ann_ivfpq_residual": lambda s, d: similarity.ivfpq_residual_topk(
            _emb(s, d), rerank=None
        ),
        # matryoshka dim audit: exact recall of prefix-truncated rankings
        # vs the full dim, per ladder step, integer bp
        "s_dim_audit": lambda s, d: similarity.dim_truncation_audit(_emb(s, d)),
        # product quantization: corpus stored as M subspace codes, queries
        # score by asymmetric distance (ADC) — the compressed-scan path; the
        # Spark query fits its OWN per-subspace Lloyd codebooks, the oracle
        # uses the frozen numpy twins (E.PQ_CODEBOOKS)
        # rerank=None pins the textbook ADC-only stage (the library
        # DEFAULT is now rerank=PQ_RERANK — ADC+R — per the r5 retune;
        # this face keeps the raw quantization error measurable)
        "s_ann_pq": lambda s, d: similarity.pq_topk(_emb(s, d),
                                                    rerank=None),
        # ADC+R: the ADC scan shortlists PQ_RERANK candidates, only those
        # fetch full-precision vectors (key equi join) for exact re-rank —
        # the production second stage that confines recall loss to
        # shortlist misses
        "s_ann_pq_rerank": lambda s, d: similarity.pq_topk(
            _emb(s, d), rerank=similarity.PQ_RERANK
        ),
        # --- multimodal plumbing (oracle-checked byte stats face) ---
        "m_binary_stats": lambda s, d: multimodal.binary_stats(_docs(s, d)),
        # magic-byte Content-Type sniff vs the declared header (every
        # MIME_LIE_MOD-th doc declares the wrong type): JVM byte-slice
        # signatures over REAL payload bytes, <= 12 leading bytes per row
        "m_mime_sniff": lambda s, d: multimodal.mime_sniff(
            multimodal.with_declared_mime(
                multimodal.synthetic_media(_docs(s, d)))),
        # header-only PNG/JPEG/GIF dimensions — pure JVM byte expressions
        # (JPEG SOF via a bounded aggregate() marker-walk fold); corrupt
        # payloads (doc_id%13==0) fail soft; -1 = not-applicable (the
        # nullable-int-widens-to-NaN doctrine, same as m_media_features)
        "m_image_dims": lambda s, d: multimodal.image_dims(
            multimodal.synthetic_web_images(_docs(s, d))
        ).na.fill({"width": -1, "height": -1}),
        # header-only EXIF (APP1/TIFF IFD0) parse honoring the container's
        # OWN byte order (II/MM both synthesized); -1/'' = not-applicable
        # (the nullable-int-widens-to-NaN doctrine)
        "m_exif_meta": lambda s, d: multimodal.exif_meta(
            multimodal.synthetic_exif_images(_docs(s, d))
        ).na.fill({"orientation": -1, "byte_order": "", "make": ""}),
        # orientation-corrected display dims: SOF walk x APP1 walk on ONE
        # byte fleet; orientations 5-8 transpose (-1 = corrupt, no dims)
        "m_exif_display_dims": lambda s, d: multimodal.exif_display_dims(
            multimodal.synthetic_exif_images(_docs(s, d))
        ).na.fill({"width": -1, "height": -1}),
        # byte-level PDF layout parse (north rule): xref walk ->
        # FlateDecode -> text operators -> line/block segmentation +
        # font-size heading heuristic, one Arrow stage
        "p_pdf_layout": lambda s, d: pdflayout.pdf_layout(
            pdflayout.synthetic_pdfs(_docs(s, d))
        ),
        # reading-order text assembly over the layout rows (line -> block
        # -> page -> document, explicit in-group ordering throughout)
        "p_pdf_text": lambda s, d: pdflayout.pdf_text(
            pdflayout.synthetic_pdfs(_docs(s, d))
        ),
        # /Link-annotation URI outlinks (§12.5.6.5 + §12.6.4.7): the PDF
        # half of the outlink story; decoy annots/actions skipped
        "p_pdf_links": lambda s, d: pdflayout.pdf_links(
            pdflayout.synthetic_link_pdfs(_docs(s, d))
        ),
        # author-declared outline (PDF §12.3.3 bookmarks): pre-order
        # /First-before-/Next walk; outline-less docs yield zero rows
        # (the heuristics-fallback population)
        "p_pdf_outline": lambda s, d: pdflayout.pdf_outline(
            pdflayout.synthetic_outline_pdfs(_docs(s, d))
        ),
        # scanned-document rejection from raw bytes (reference S3
        # detect_scanned rule: strictly > 80% of pages under 50 chars),
        # fail-soft
        "p_pdf_scanned": lambda s, d: pdflayout.pdf_scanned_audit(
            pdflayout.synthetic_scan_pdfs(_docs(s, d))
        ),
        # two-strategy policy observability: which path (ruled grids /
        # hint-gated text retry / none) produced each doc's tables
        "p_pdf_table_strategy": lambda s, d: pdflayout.pdf_table_strategy_audit(
            pdflayout.synthetic_table_pdfs(_docs(s, d))
        ),
        # table extraction from layout runs (the pdfplumber
        # extract_tables role): >= 2-run line bands, x-rank columns,
        # prose lines break bands
        "p_pdf_tables": lambda s, d: pdflayout.pdf_tables(
            pdflayout.synthetic_table_pdfs(_docs(s, d))
        ),
        # multimodal ingest dispatcher: magic-byte sniff -> per-family
        # typed extractors (html title / full pdf layout / png dims / wav
        # fmt), expensive branches filter first
        "m_ingest_dispatch": lambda s, d: multimodal.ingest_dispatch(
            multimodal.synthetic_mixed_media(_docs(s, d))
        ),
        # real container decode over deterministic BMP/WAV/PPM payloads keyed
        # by doc_id; the oracle recomputes the header fields from the doc_id
        # formulas, so a decode bug (endianness, offset, padding) mismatches
        # the compared view fills non-applicable fields with -1 instead of
        # NULL: a nullable int column widens to float64+NaN through the
        # driver's pandas fetch and can never hash-match (same doctrine as
        # the ISO-string dates elsewhere)
        # perceptual image near-dup: aHash over decoded BMP rasters, group
        # sizes via one window on the 64-bit fingerprint
        "m_image_ahash": lambda s, d: multimodal.image_ahash(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # gradient (difference) hash: LOCAL left-vs-right bits on an 8x9
        # grid — survives the global-mean shifts that flip aHash bits;
        # shares the pixel sampler with aHash
        "m_image_dhash": lambda s, d: multimodal.image_dhash(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # per-window dominant-frequency bin via integer DFT (fixed-point
        # trig tables shared with the oracle; constellation primitive)
        "m_audio_spectral": lambda s, d: multimodal.audio_spectral_peaks(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # DCT (spectral) hash: exact-integer unnormalized DCT-II over a
        # 32x32 sample, 8x8 low-freq block thresholded on its lower
        # median — the brightness/blur-robust third fingerprint; the
        # fixed-point cosine table is shared verbatim with the oracle
        "m_image_phash": lambda s, d: multimodal.image_phash(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # perceptual near-dup PAIRS (Manku WWW'07 banding on the image
        # hash): originals + overlay-edited copies, 4 x 16-bit band
        # equi-joins for candidates, exact Hamming filter JVM-side
        "m_image_neardup": lambda s, d: multimodal.image_neardup(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # windowed PCM energy / silence segmentation (the VAD primitive):
        # engine walks REAL RIFF chunks and square-sums int16 windows in
        # numpy; exact-BIGINT energies, integer silence compare
        "m_audio_energy": lambda s, d: multimodal.audio_energy(
            multimodal.synthetic_media(_docs(s, d))
        ),
        # VAD segments: gaps-and-islands over the shared detector pass
        "m_audio_segments": lambda s, d: multimodal.audio_segments(
            multimodal.synthetic_media(_docs(s, d))
        ),
        "m_media_features": lambda s, d: multimodal.media_features(
            multimodal.synthetic_media(_docs(s, d))
        ).select(
            "doc_id", "media_type", "byte_len",
            F.coalesce("width", F.lit(-1)).alias("width"),
            F.coalesce("height", F.lit(-1)).alias("height"),
            F.coalesce("n_channels", F.lit(-1)).alias("n_channels"),
            F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
            F.coalesce("duration_ms", F.lit(-1).cast("long")).alias("duration_ms"),
        ).orderBy("doc_id"),
        # real transform kernels over real container bytes: nearest-neighbor
        # image resize + 2x audio decimation; data_sum is the exact integer
        # byte-sum of the TRANSFORMED raster/PCM, recomputed by the oracle
        # from the synthesis formulas (payload column dropped — the integer
        # evidence is the cross-engine face; the bytes round-trip in pytest)
        "m_transform": lambda s, d: multimodal.transform_media(
            multimodal.synthetic_media(_docs(s, d))
        ).select(
            "doc_id", "media_type", "out_w", "out_h", "out_rate",
            "n_units", "data_sum", "out_len",
        ).orderBy("doc_id"),
        # real frame sampling over concatenated-P6 streams (ffmpeg
        # image2pipe wire format): every 2nd frame re-emitted standalone
        # shot-boundary detection: per consecutive-frame SAD over real P6
        # streams, exact-integer verdicts (audio_energy doctrine on video)
        "m_shot_detect": lambda s, d: multimodal.shot_boundaries(
            multimodal.synthetic_video(_docs(s, d))
        ),
        # video near-dup: frame-fingerprint containment over originals +
        # trimmed reposts (postings join on shared frame hashes)
        "m_video_neardup": lambda s, d: multimodal.video_neardup(
            multimodal.synthetic_video(_docs(s, d))
        ),
        # audio near-dup: window-energy fingerprint containment over tone
        # WAVs + head-trimmed reposts; the fingerprint stage IS the audited
        # audio_energy kernel (real RIFF parsing on real written bytes)
        "m_audio_neardup": lambda s, d: multimodal.audio_neardup(
            _docs(s, d)
        ),
        "m_frame_sample": lambda s, d: multimodal.sample_ppm_frames(
            multimodal.synthetic_video(_docs(s, d))
        ).select(
            "doc_id", "frame_index", "n_frames", "width", "height",
            "data_sum", "frame_len",
        ).orderBy("doc_id", "frame_index"),
        "d_simhash_pairs": lambda s, d: dedup.simhash_near_pairs(_docs(s, d), max_hamming=16),
        # sub-document exact duplicate-span detection (Lee et al. ACL 2022
        # suffix-array dedup re-expressed as n-gram fingerprint islands);
        # the shared passage is injected by the SPAN_MOD formula so the
        # oracle re-derives the identical token lists
        "d_dup_spans": lambda s, d: dedup.dup_spans(
            dedup.with_shared_passage(_docs(s, d))
        ),
        # the apply side: duplicated spans cut from every doc (remove-all
        # policy), surviving bytes md5-pinned
        "d_strip_spans": lambda s, d: dedup.strip_dup_spans(
            dedup.with_shared_passage(_docs(s, d))
        ),
        # --- URL / domain operators (deterministic synthetic url column;
        # the oracle re-derives it from the same doc_id/source formula) ---
        "u_canonicalize": lambda s, d: weburl.registered_domain(
            weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
        ).select("doc_id", "url", "canonical_url", "host", "reg_domain")
        .orderBy("doc_id"),
        "u_domain_rollup": lambda s, d: weburl.domain_rollup(
            weburl.with_synthetic_urls(_docs(s, d))
        ),
        # hreflang translation clusters: real regexp extraction -> shared
        # canonicalize on the declared hrefs -> url-dim resolve (dangling
        # declarations drop like 404s) -> symmetrized transitive closure
        "u_hreflang": lambda s, d: weburl.hreflang_clusters(_docs(s, d)),
        # SURT keys (Common Crawl / CDX sort order): reversed comma-joined
        # host labels, one leading www. folded, non-default port kept
        "u_surt": lambda s, d: weburl.surt_key(
            weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
        ).select("doc_id", "canonical_url", "surt").orderBy("doc_id"),
        # the cluster-index face: authority-prefix rollup proving one
        # authority = one contiguous SURT range
        "u_cdx_index": lambda s, d: weburl.cdx_authority_index(_docs(s, d)),
        # the composable READ face: a frame of authorities resolved via
        # boundary-frame broadcast range join (no driver action in-plan)
        "u_cdx_lookup_join": _cdx_lookup_join,
        "u_blocklist": lambda s, d: weburl.blocklist_filter(
            weburl.with_synthetic_urls(_docs(s, d)), BLOCKED_DOMAINS
        ).select("doc_id", "reg_domain").orderBy("doc_id"),
        # the whole crawl admission gate under ONE hash: blocklist ->
        # trap shape -> robots disallow -> per-domain quota in production
        # order, first_block attributing each rejection to the FIRST
        # stage that fired (quota ranks count survivors only)
        "u_crawl_admission": lambda s, d: weburl.crawl_admission(
            weburl.with_synthetic_urls(_docs(s, d)), BLOCKED_DOMAINS
        ),
        # robots.txt politeness: disallow-prefix filter + per-host
        # crawl-delay schedule over the canonicalized corpus
        "u_robots": lambda s, d: weburl.robots_filter(
            weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
        ),
        # frontier partitioning: hosts hash to fetcher lanes (a host never
        # spans two fetchers), per-lane politeness-budget + megahost audit
        "u_fetcher_lanes": lambda s, d: weburl.fetcher_lanes(
            weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
        ),
        # per-host politeness-queue latency report under the ACTUAL
        # arrival process: max-plus closed form (shared verbatim with the
        # streaming limiter via with_arrivals) rolled to the host dim —
        # drain time, queueing waits, bottleneck rank
        "u_crawl_plan": lambda s, d: weburl.crawl_queue_audit(_docs(s, d)),
        # robots.txt PARSED from raw bytes (RFC 9309 group semantics); the
        # synthesized text reproduces the formula rules, so the parse is
        # hash-held to the same dim robots_filter consumes
        "u_robots_parsed": lambda s, d: weburl.parse_robots(
            weburl.with_robots_txt(
                weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
                .select("host").distinct()
            )
        ).select(
            "host",
            F.coalesce("disallow_prefix", F.lit("")).alias("disallow_prefix"),
            "crawl_delay_ms",
        ).orderBy("host"),
        # sitemap.xml ingestion: loc/lastmod pairs + freshest-first rank
        "u_sitemap": lambda s, d: weburl.parse_sitemap(
            weburl.with_sitemaps(
                weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
                .select("host").distinct()
            )
        ),
        # sitemap INDEX expansion (sitemaps.org §Index): mixed fleet —
        # even-length hosts serve an index of child shards, odd a plain
        # urlset; one global per-host rank across shards
        "u_sitemap_index": lambda s, d: weburl.sitemap_expand(
            weburl.with_sitemap_index(
                weburl.canonicalize(weburl.with_synthetic_urls(_docs(s, d)))
                .select("host").distinct()
            )
        ),
        # per-site quota: at most 5 docs per registered domain
        "u_domain_quota": lambda s, d: weburl.domain_quota(
            weburl.with_synthetic_urls(_docs(s, d))
        ),
        # crawl snapshot diff: added/removed/changed/unchanged by fingerprint
        # token-multiset change magnitude between snapshots: HOW MUCH a
        # page changed (order-insensitive bp), not just the md5 boolean
        "d_change_magnitude": lambda s, d: snapshot.change_magnitude(
            *snapshot.demo_text_snapshots(_docs(s, d))
        ),
        "u_snapshot_diff": lambda s, d: snapshot.snapshot_diff(
            *snapshot.demo_snapshots(_docs(s, d))
        ),
        # the spark.sql surface: ONE ANSI string executed by both engines
        "q1_pricing_sql": sqlapi.q1_pricing_sql,
        # same gate for the window family (row_number rank + join)
        "q_top_orders_sql": sqlapi.top_orders_sql,
        # snapshot/manifest table format: 3 appends, read AT version 2 —
        # time travel returns exactly the first two snapshots' rows
        "u_table_time_travel": _table_time_travel,
        # incremental re-extraction of the diff-selected set only
        "p_incremental_extract": _incremental_extract,
        # zone-map file skipping: manifest min/max stats eliminate files
        "u_table_pruned_scan": _table_pruned_scan,
        # hidden partitioning: day/bucket transforms derived from source-
        # column predicates, file elimination from manifest metadata alone
        "u_table_partitioned_scan": _table_partitioned_scan,
        # partition-spec evolution: metadata-only current-spec change,
        # each file prunes under the spec it was written with
        "u_table_spec_evolution": _table_spec_evolution,
        # metadata-only rollback: forward history, surviving token ledger
        "u_table_rollback": _table_rollback,
        # files metadata table: footer rows + zone-map ranges as a frame
        "u_table_files": _table_files,
        # write-audit-publish: staged snapshot invisible, audit on the
        # staged view, abort the poisoned batch, publish rebases over a
        # concurrent append, replayed publish no-ops (wap token ledger)
        "u_table_wap": _table_wap,
        # merge-on-read equality deletes + purge: v2 sequence rule (a key
        # appended after its delete survives), purge hash-identity
        "u_table_mor_delete": _table_mor_delete,
        "u_table_pos_delete": _table_pos_delete,
        "u_table_branch": _table_branch,
        "u_table_dedup_inplace": _table_dedup_inplace,
        "u_table_snapshots": _table_snapshots,
        # add-column evolution (NULL backfill for pre-evolution files) +
        # metadata-only column drop
        "u_table_schema_evolution": _table_schema_evolution,
        # incrementally-maintained MV: signed CDC fold over append + COW
        # upsert + MOR delete, held to the direct final aggregation
        "u_table_incremental_mv": _table_incremental_mv,
        # WARC connector round-trip: docs -> archive files -> parsed back;
        # md5(body) pins byte-exact payload fidelity against the oracle
        "u_warc_roundtrip": warc.roundtrip,
        # the REGISTERED Python DataSource read of the same WARC bytes
        # (spark.read.format('warc')): held to u_warc_roundtrip's oracle —
        # JVM lineSep parse and Python DataSource parse share one hash
        "u_warc_datasource": warc_datasource.datasource_roundtrip,
        # WET export: extracted text written back out as Common Crawl's
        # conversion-record format (2-block framing, no HTTP block) and read
        # back — body_md5 pins byte-exact fidelity, refers_to the WARC urn
        "u_wet_export": warc.wet_export,
        # WAT export: the metadata member of the WARC/WAT/WET triple —
        # concat-built JSON payload (engine-stable bytes) inside metadata
        # records, read back via get_json_object
        "u_wat_export": warc.wat_export,
        # WARC revisit records (WARC 1.1 §6.7.2 identical-payload-digest):
        # two-cycle capture stream -> digest-elected dedup on write (later
        # captures of a digest become payload-free revisit records with
        # Refers-To linkage) -> read resolves revisit bodies through the
        # link; digest_ok pins byte-exact resolution, the oracle reruns the
        # SAME min-cap_id election in SQL
        "u_warc_revisit": warc.revisit_export,
        # JSONL interchange round-trip: binary html crosses the text format
        # as base64; text_md5/html_md5 pin byte-exact payload fidelity
        "u_jsonl_roundtrip": jsonl.roundtrip,
        # ORC round-trip: the second columnar interchange format — binary
        # html crosses Spark's native ORC path; hashes held to the
        # documents-only oracle (DuckDB never reads ORC)
        "u_orc_roundtrip": orc.roundtrip,
        # --- corpus curation (training-data build steps) ---
        "c_decontaminate": lambda s, d: curation.decontaminate(
            _docs(s, d), curation.benchmark_snippets(_docs(s, d))
        ),
        # Bloom-prefiltered variant: broadcasts 10 bits/shingle instead of
        # the shingle strings, exact-verifies survivors — no false negatives
        # means it reproduces the exact answer and shares ITS oracle
        "c_decontaminate_bloom": lambda s, d: curation.decontaminate_bloom(
            _docs(s, d), curation.benchmark_snippets(_docs(s, d))
        ),
        # fuzzy decontamination: MinHash-band candidates vs the benchmark
        # member documents (doc_id%37==0 stand-ins), exact-Jaccard verified
        # — catches the near-duplicate-of-a-benchmark-item case exact
        # n-gram matching misses
        "c_decontaminate_fuzzy": lambda s, d: curation.decontaminate_fuzzy(
            _docs(s, d),
            _docs(s, d).where(F.col("doc_id") % curation.BENCH_MOD == 0)
            .select(F.col("doc_id").alias("bench_id"), "text"),
        ),
        "c_pii_scrub": lambda s, d: curation.pii_scrub(
            curation.with_synthetic_pii(_docs(s, d))
        ),
        "c_stratified_sample": lambda s, d: curation.stratified_sample(_docs(s, d)),
        "c_lm_coverage": lambda s, d: curation.lm_coverage(
            _docs(s, d), curation.fit_vocab(_docs(s, d))
        ),
        "c_pack_shards": lambda s, d: curation.pack_shards(_docs(s, d)),
        # shard-count resize audit: modulo vs rendezvous (HRW) placement —
        # keys moved growing 8 -> 10 writers; HRW moves the stateless
        # minimum (~1 - 8/10), modulo reshuffles nearly everything
        "c_shard_rebalance": lambda s, d: curation.shard_rebalance(
            _docs(s, d)
        ),
        # deterministic global training shuffle: md5(seed:doc_id) shard +
        # within-shard hash rank — no corpus-wide ORDER BY anywhere
        "c_global_shuffle": lambda s, d: curation.global_shuffle(_docs(s, d)),
        # concat-and-split sequence packing over the shuffle order: one
        # window per shard + in-stage arithmetic explode, no token text
        "c_pack_sequences": lambda s, d: curation.pack_sequences(_docs(s, d)),
        # per-shard packing datasheet: tail waste + boundary-split docs
        "c_packing_stats": lambda s, d: curation.packing_stats(_docs(s, d)),
        # one-pass SEQ_LEN sweep: waste vs boundary-split trade priced at
        # every candidate length against the SAME L-independent offsets
        "c_pack_lenscan": lambda s, d: curation.packing_lenscan(_docs(s, d)),
        # the curation-to-trainer lifecycle under ONE hash: corpus_build
        # survivors -> shuffle-ordered concat-and-split packing manifest
        "c_release_manifest": lambda s, d: curation.release_manifest(
            _docs(s, d)
        ),
        # token-budget selection: best-quality-first fill WITHOUT a global
        # sort (bucket dim window + per-bucket hash-ordered prefix)
        "c_budget_select": lambda s, d: curation.budget_select(_docs(s, d)),
        # curriculum/annealing read order: tiers worst-first, hash shuffle
        # within tier (n_tiers x n_shards independent window sorts)
        "c_curriculum_order": lambda s, d: curation.curriculum_order(
            _docs(s, d)
        ),
        # license tagging: substring battery with most-restrictive-wins
        # precedence over injected co-occurring footers
        "c_license_tags": lambda s, d: curation.license_tags(
            curation.with_license_lines(_docs(s, d))
        ),
        # the datasheet rollup a release's legal review reads first
        "c_license_rollup": lambda s, d: curation.license_rollup(
            _docs(s, d)
        ),
        # repeat-budget audit sharing mixture_resample's epoch arithmetic:
        # epochs_bp per source + the ~4-epoch healthy-repetition verdict
        "c_epoch_plan": lambda s, d: curation.epoch_plan(_docs(s, d)),
        # mT5/XLM-R temperature smoothing swept over the alpha grid: raw vs
        # smoothed source shares + implied boost factor, exact via
        # sqrt-composed powers (no pow(); IEEE sqrt is deterministic)
        "c_temperature_mix": lambda s, d: curation.temperature_mix(
            _docs(s, d)),
        # eval-integrity report: exact vs fuzzy contamination counts per
        # benchmark item (idiom-collision vs real-leak signatures)
        "c_contamination_report": lambda s, d: curation.contamination_report(
            _docs(s, d)
        ),
        # fixed-size per-source eval holdout: deterministic hash-rank
        # reservoir (exactly k per source, not a drifting rate)
        # cross-split near-dup leakage: banded pairs x holdout split
        # under one hash (eval-integrity, Lee et al. 2022)
        "c_leakage_audit": lambda s, d: curation.leakage_audit(_docs(s, d)),
        "c_holdout_split": lambda s, d: curation.holdout_split(_docs(s, d)),
        # the burn-down funnel (stage chain shared with corpus_build)
        "c_corpus_funnel": lambda s, d: curation.corpus_funnel(_docs(s, d)),
        # fixed-context-window chunking: in-scan explode, no shuffle
        "c_chunk_windows": lambda s, d: curation.chunk_windows(_docs(s, d)),
        # epoch-weighted data mixing: per-source token-count dim -> integer
        # epochs + hash-fractional extra copy, in-scan copy fan-out
        "c_mixture_resample": lambda s, d: curation.mixture_resample(_docs(s, d)),
        # mojibake repair: double-encoded injections repaired JVM-side;
        # the oracle predicts the repaired bytes from the injection formula
        # charset sniffing at ingest: BOM/UTF-8-validity detection + decode,
        # entirely JVM (binary substring + is_valid_utf8 + per-branch decode)
        "c_charset_sniff": lambda s, d: curation.sniff_decode(
            curation.with_mixed_encodings(_docs(s, d))
        ),
        # NFC normalization: a REAL cross-engine check — DuckDB's
        # nfc_normalize computes the canonical bytes independently and both
        # engines must agree on every md5
        "c_nfc_normalize": lambda s, d: curation.nfc_normalize_docs(
            curation.with_denormalized(_docs(s, d))
        ),
        # the composed ingest chain under one hash: charset decode -> NFC
        # -> hard quality gate, drift in any stage fails the one hash
        "c_ingest_pipeline": lambda s, d: curation.ingest_pipeline(
            curation.with_mixed_encodings(_docs(s, d))
        ),
        "c_mojibake": lambda s, d: curation.repair_mojibake(
            curation.with_mojibake(_docs(s, d))
        ),
        # DSIR importance selection: hashed-bigram count-ratio scores vs a
        # target subset, deterministic threshold at the corpus prior
        "c_dsir_select": lambda s, d: curation.dsir_select(_docs(s, d)),
        # Dolma-style paragraph attribute taggers + mixer verdict over the
        # synthetic multi-line text (pure in-scan posexplode, no shuffle)
        "c_paragraph_tags": lambda s, d: curation.paragraph_tags(
            curation.with_synthetic_lines(_docs(s, d))
        ),
        # the mixer's apply face: kept paragraphs reassembled, bytes pinned
        "c_paragraph_mix": lambda s, d: curation.paragraph_mixer_apply(
            curation.with_synthetic_lines(_docs(s, d))
        ),
        "d_incremental": lambda s, d: curation.incremental_dedup(_docs(s, d)),
        # hyphen line-wrap repair (PDF/OCR artifact): real-bytes oracle,
        # lowercase-both-sides join rule
        # invisible/control-char scrub over deterministic zero-width/BOM/
        # soft-hyphen/control injections; text_md5 pins the scrubbed bytes
        # computed INDEPENDENTLY by each engine's regexp_replace
        "c_invisible_scrub": lambda s, d: curation.invisible_scrub(
            curation.with_invisible_chars(_docs(s, d))
        ),
        "c_dehyphenate": lambda s, d: curation.dehyphenate(
            curation.with_hyphen_wraps(_docs(s, d))
        ),
        # the composed training-corpus build: gate -> exact dedup ->
        # decontaminate -> stratified sample -> shard pack, one hash over
        # the whole chain (the curation analog of g_corpus_frontier)
        "c_corpus_build": lambda s, d: curation.corpus_build(_docs(s, d)),
        # the FULL crawl-to-corpus lifecycle: WARC bytes on disk -> the
        # registered DataSource read -> ingest chain -> corpus build
        "p_warc_ingest_corpus": _warc_ingest_corpus,
        # --- link graph (crawl-frontier ops) ---
        "u_outlinks": lambda s, d: linkgraph.extract_outlinks(
            linkgraph.with_synthetic_html(_docs(s, d))
        ),
        "g_pagerank": lambda s, d: linkgraph.pagerank(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # TrustRank: teleport mass lands only on the vetted seed set
        "g_trustrank": lambda s, d: linkgraph.trustrank(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # rel=nofollow/ugc/sponsored link semantics: per-link relation +
        # followed flag (token-list match), attrs parsed order-free
        "u_outlinks_nofollow": lambda s, d: linkgraph.extract_outlinks_rel(
            linkgraph.with_synthetic_html_rel(_docs(s, d))
        ),
        # PageRank on the followed-edge subgraph — the endorsement rule
        # made operative: same exact-integer dataflow, filtered edge set
        "g_pagerank_followed": lambda s, d: linkgraph.pagerank_followed(
            _docs(s, d)
        ),
        # spam mass (Gyöngyi VLDB'06): rank unexplained by seed trust —
        # exact-integer composition of the two faces above, trust rescaled
        # by n_docs/n_seeds via the overflow-safe decomposed product
        "g_spam_mass": lambda s, d: linkgraph.spam_mass(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # exact-integer HITS (hubs/authorities) over the same ring graph
        "g_hits": lambda s, d: linkgraph.hits(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # SALSA (Lempel-Moran 2000): the stochastic HITS — degree-
        # normalized floor-div walk, kills the tightly-knit-community
        # amplification (farm-vs-honest pin in pytest)
        "g_salsa": lambda s, d: linkgraph.salsa(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # personalized PageRank related-pages (Jeh/Widom 2003): singleton
        # -seed trustrank per seed, top-k excluding the seed
        "g_related": lambda s, d: linkgraph.related_docs(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # degree-assortativity moments (Newman 2002): exact BIGINT
        # per-edge (outdeg(src), indeg(dst)) moments + covariance sign
        "g_assortativity": lambda s, d: linkgraph.assortativity_moments(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # co-citation pairs (shared citing sources) + one-row graph audit
        "g_cocitation": lambda s, d: linkgraph.cocitation_pairs(
            linkgraph.synthetic_edges(_docs(s, d))
        ),
        "g_graph_stats": lambda s, d: linkgraph.graph_stats(
            linkgraph.synthetic_edges(_docs(s, d))
        ),
        # BFS crawl depth from the vetted seed set (fetch waves to reach
        # each page; absent = outside the horizon)
        "g_seed_depth": lambda s, d: linkgraph.seed_distance(
            _docs(s, d), linkgraph.synthetic_edges(_docs(s, d))
        ),
        # host-graph compression: one host map on BOTH endpoints, intra-host
        # self-loops dropped, distinct linking pages counted
        "g_host_graph": lambda s, d: linkgraph.host_graph(*_host_edges(s, d)),
        # weighted label propagation over the compressed host graph: the
        # community face next to PageRank popularity / TrustRank spam —
        # fixed synchronous rounds, neighbor-only votes, (weight desc,
        # label asc) argmax as one struct-min groupBy per round
        "g_communities": lambda s, d: linkgraph.host_communities(
            *_host_edges(s, d)
        ),
        # host-graph reciprocity (one-row structural stat; spam-ring jump
        # detector)
        "g_reciprocity": lambda s, d: linkgraph.graph_reciprocity(
            *_host_edges(s, d)
        ),
        # per-host triangle count + local clustering coefficient over the
        # undirected simple host graph — the link-farm detector (cliques
        # cluster, editorial hubs don't); degree-ordered orientation
        # bounds the wedge join's fan-out under power-law skew
        "g_triangles": lambda s, d: linkgraph.host_triangles(*_host_edges(s, d)),
        # exact k-core numbers via iterated neighborhood h-index (Lü et
        # al. 2016) — the farm detector raw degree overstates (a 10^4-
        # satellite hub is core 1; a dense mutual-link neighborhood is
        # high-core); fixed rounds, engine-asserted convergence
        "g_kcore": lambda s, d: linkgraph.host_kcore(*_host_edges(s, d)),
        # harmonic centrality (Boldi-Vigna axioms): exact 1/d fold over
        # the SAME layered-BFS reach set as g_neighborhood — incoming
        # distances, micro-unit integers, zeros for unreached hosts
        "g_harmonic": lambda s, d: linkgraph.host_harmonic(*_host_edges(s, d)),
        # exact neighborhood function N(t) + effective diameter (the
        # HyperBall curve, Boldi-Vigna): all-sources layered BFS on the
        # compressed host graph, one join+distinct+anti-join per level
        "g_neighborhood": lambda s, d: linkgraph.host_neighborhood(
            *_host_edges(s, d)
        ),
        # log2-binned degree histogram of the host graph: the power-law
        # audit, exact-integer bins via length(bin(deg))-1
        "g_degree_dist": lambda s, d: linkgraph.degree_distribution(
            *_host_edges(s, d)
        ),
        # Broder bow-tie decomposition of the host graph: core/in/out/other
        # relative to the min-host pivot's SCC, two bounded reachability
        # sweeps on the compressed graph
        "g_bowtie": lambda s, d: linkgraph.bowtie(*_host_edges(s, d)),
        # crawl-frontier assembly: robots ∩ quota ∩ pagerank, per-host queues
        "g_frontier": lambda s, d: linkgraph.frontier_schedule(_docs(s, d)),
        # frontier v2: ranking-integrity rules layered on — rank on
        # FOLLOWED edges only, spam-mass suspects demoted BEFORE slot
        # assignment (no hole in the politeness spacing)
        "g_frontier2": lambda s, d: linkgraph.frontier_schedule_v2(_docs(s, d)),
        # the REAL crawl cycle: REAL Arrow extraction picks the ok docs,
        # the quality gate picks the crawl-worthy ones, then outlinks ->
        # PageRank -> robots ∩ quota over the surviving subgraph only
        "g_corpus_frontier": lambda s, d: linkgraph.corpus_frontier(
            _docs(s, d), _docs_as_pages(s, d), run_ts=RUN_TS
        ),
        # inverted anchor-text index per link target (sorted-distinct texts)
        "u_anchor_text": lambda s, d: linkgraph.anchor_text_index(
            linkgraph.with_synthetic_html(_docs(s, d))
        ),
        # corpus-level line dedup: drop lines shared by >=2 docs (CCNet);
        # clean_md5 pins the byte-exact surviving text per doc
        "c_line_dedup": lambda s, d: curation.line_dedup(
            curation.with_synthetic_lines(_docs(s, d))
        ),
        # host-scoped line dedup (RefinedWeb rule): df and anti-join key on
        # (source, fp), so only lines saturating ONE host's pages are
        # boilerplate — the subscribe block (hot only corpus-wide) survives
        # here, the per-source footer does not
        "c_line_dedup_host": lambda s, d: curation.line_dedup(
            curation.with_synthetic_lines(_docs(s, d)),
            min_df=curation.LINE_HOST_MIN_DF,
            scope_col="source",
        ),
        # head-metadata extraction: five fields, one codegen'd regex pass
        "u_head_meta": lambda s, d: htmlmeta.head_meta(
            htmlmeta.with_head_html(_docs(s, d))
        ),
        # boilerplate-gate audit: the north-star text/link-density block
        # verdicts as records (real DOM walk); per-block char arithmetic
        # re-derived exactly by the oracle from the synthesis formula
        "p_boilerplate_audit": lambda s, d: htmlmeta.boilerplate_audit(
            htmlmeta.with_boilerplate_html(_docs(s, d))
        ),
        # SCD2 recrawl history: per-url validity intervals over 4 cycles
        "u_scd2_history": lambda s, d: snapshot.scd2_history(
            snapshot.snapshot_series(_docs(s, d))
        ),
        # adaptive recrawl scheduling: exponential backoff for stable urls
        "u_recrawl_schedule": lambda s, d: snapshot.recrawl_schedule(
            snapshot.snapshot_series(_docs(s, d))
        ),
        # redirect-chain resolution: terminal url per source in O(log L)
        # pointer-doubling shuffles; oracle walks the same chains with a
        # recursive CTE (the synthesized graph is acyclic by construction;
        # the cycle guard is pytest-pinned engine-side)
        "u_redirect_resolve": lambda s, d: weburl.resolve_redirects(
            weburl.with_synthetic_redirects(_docs(s, d))
        ),
        # on-page rel=canonical declarations: real html parse -> chained
        # declarations resolved by the SAME pointer-doubling resolver ->
        # per-doc canonical + cluster size
        "u_rel_canonical": lambda s, d: weburl.rel_canonical_clusters(
            weburl.with_synthetic_canonical_html(_docs(s, d))
        ),
        # the consumer: alias-group accounting — every doc keyed by the
        # terminal url its own url resolves to, min-doc_id keeper election
        "u_redirect_groups": lambda s, d: weburl.canonical_url_groups(
            _docs(s, d)
        ),
        # content-level redirects: meta-refresh tags parsed from the html
        # (the regexp itself is oracle-checked — DuckDB runs the same
        # pattern over the same reconstructed pages), then chains collapse
        # through the same pointer-doubling resolver
        "u_meta_redirects": lambda s, d: weburl.resolve_redirects(
            weburl.extract_meta_redirects(
                weburl.with_meta_refresh_html(_docs(s, d))
            )
        ),
        # --- full extraction pipeline (non-SQL-expressible; rows-only) ---
        "extract_pipeline": extract_pipeline,
        # checkpoint + lineage + resume (north rule): two-run
        # rollup of the per-partition lineage sink; run r1's resume
        # anti-join must extract exactly the odd half
        "p_run_lineage": _run_lineage,
    }


# --------------------------------------------------------------------------
# oracle_sql(): DuckDB-ANSI equivalents on the same tables
# --------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

# 3-gram word shingles, matching functions.word_shingles exactly:
# len<3 -> single whole-text shingle, else windows of 3
_SHINGLES = (
    "CASE WHEN len({t}) < 3 THEN [array_to_string({t}, ' ')] "
    "ELSE list_transform(range(1, len({t}) - 1), i -> array_to_string({t}[i:i+2], ' ')) END"
).format(t=_TOKS)

_H32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

_EN = "['the','a','of','and','to','in','is','for','on','with']"
_ES = "['el','la','de','y','que','en','un','una','los','por']"
_FR = "['le','la','de','et','que','en','un','une','les','pour']"
_DE = "['der','die','das','und','zu','in','ein','eine','mit','von']"


def _hits(words: str) -> str:
    return (
        f"CAST(len(list_intersect(list_distinct(list_transform({_TOKS}, w -> lower(w))), {words})) AS BIGINT)"
    )


# the soft quality score, shared by t_quality_score and u_domain_quality so
# the per-doc score and the domain prior can never diverge
_QUALITY_SQL = (
    f"round(0.5 * ({{h}} / 10.0)"
    f" + 0.3 * (CASE WHEN length(regexp_replace({{t}}, '\\s+', '', 'g'))"
    f" / len({{toks}}) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)"
    f" + 0.2 * least(len({{toks}}) / 100.0, 1.0), 4)"
)


def _quality_sql(text_col: str = "text") -> str:
    toks = _TOKS.replace("text", text_col) if text_col != "text" else _TOKS
    h = _hits(_EN).replace(_TOKS, toks)
    return _QUALITY_SQL.format(h=h, t=text_col, toks=toks)


# the lang-id argmax CASE, shared by t_lang_id and t_lang_mismatch so the
# per-doc prediction and the audit rollup can never diverge (mirrors
# textstats.predicted_lang_col on the Spark side)
_PRED_LANG_CASE = f"""CASE
                     WHEN {_hits(_ES)} > {_hits(_EN)} AND {_hits(_ES)} >= {_hits(_FR)} AND {_hits(_ES)} >= {_hits(_DE)} THEN 'es'
                     WHEN {_hits(_FR)} > {_hits(_EN)} AND {_hits(_FR)} > {_hits(_ES)} AND {_hits(_FR)} >= {_hits(_DE)} THEN 'fr'
                     WHEN {_hits(_DE)} > {_hits(_EN)} AND {_hits(_DE)} > {_hits(_ES)} AND {_hits(_DE)} > {_hits(_FR)} THEN 'de'
                     ELSE 'en' END"""


def oracle_sql() -> dict[str, str]:
    from pdf_parser_spark.operators.dedup import MINHASH_PARAMS
    from pdf_parser_spark.streaming import trending as _TREND

    minhash_terms = ", ".join(
        f"CAST(list_min(list_transform(hs, h -> ({a} * h + {b}) % 4294967296)) AS BIGINT)"
        for a, b in MINHASH_PARAMS
    )
    sigs_cte = f"""
        WITH sh AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS shingles FROM documents
        ), hashed AS (
            SELECT doc_id, list_transform(shingles, s -> {_H32.format(x='s')}) AS hs
            FROM sh
        ), sigs AS (
            SELECT doc_id, [{minhash_terms}] AS sig FROM hashed
        )
    """
    bands_cte = sigs_cte + """
        , banded AS (
            SELECT doc_id, b AS band,
                   CAST(b AS VARCHAR) || '_' || CAST(sig[2*b+1] AS VARCHAR) || '_' || CAST(sig[2*b+2] AS VARCHAR) AS bucket
            FROM sigs, (SELECT unnest(range(0, 4)) AS b)
        )
    """

    # curation constants shared with the Spark side (regex literals, rate
    # table, mods) — imported so the oracle can never drift from the engine
    from pdf_parser_spark.operators import curation as C
    from pdf_parser_spark.operators import dedup as D
    from pdf_parser_spark.operators import htmlmeta as HM
    from pdf_parser_spark.operators import linkgraph as LG
    from pdf_parser_spark.operators import snapshot as SN
    from pdf_parser_spark.plans import sqlapi as _SQLAPI
    from pdf_parser_spark.streaming import late as LT

    # shared duplicated passage, the literal twin of dedup.with_shared_passage
    _span_passage_sql = (
        "[" + ", ".join(f"'{w}'" for w in D.SPAN_PASSAGE.split()) + "]"
    )

    # the full dup-span derivation (spliced tokens -> windows -> hot fps ->
    # gaps-and-islands -> maximal spans), shared by d_dup_spans and
    # d_strip_spans so the detect and apply oracles can never diverge
    _span_cte = f"""base AS (
                SELECT doc_id, {_TOKS} AS t FROM documents
            ), sp AS (
                SELECT doc_id,
                       CASE WHEN doc_id % {D.SPAN_MOD} = 0
                            THEN t[1:{D.SPAN_SPLICE_AT}]
                                 || {_span_passage_sql}
                                 || t[{D.SPAN_SPLICE_AT} + 1:len(t)]
                            ELSE t END AS t
                FROM base
            ), widx AS (
                SELECT doc_id, t,
                       CASE WHEN len(t) >= {D.SPAN_N}
                            THEN range(0, len(t) - {D.SPAN_N} + 1)
                            ELSE [] END AS idx
                FROM sp
            ), wins AS (
                SELECT doc_id, unnest(idx) AS pos,
                       unnest(list_transform(idx,
                           i -> md5(array_to_string(t[i + 1:i + {D.SPAN_N}], ' '))))
                           AS fp
                FROM widx
            ), hot AS (
                SELECT fp FROM wins
                GROUP BY fp HAVING count(DISTINCT doc_id) >= {D.SPAN_MIN_DF}
            ), dup AS (
                SELECT doc_id, pos FROM wins WHERE fp IN (SELECT fp FROM hot)
            ), marked AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                                 IS NULL
                              OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                      ORDER BY pos) > {D.SPAN_N}
                            THEN 1 ELSE 0 END AS brk
                FROM dup
            ), isl AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS grp
                FROM marked
            ), spans AS (
                SELECT doc_id,
                       CAST(min(pos) AS BIGINT) AS span_start,
                       CAST(max(pos) + {D.SPAN_N} - 1 AS BIGINT) AS span_end,
                       CAST(max(pos) - min(pos) + {D.SPAN_N} AS BIGINT) AS span_len,
                       CAST(count(*) AS BIGINT) AS n_windows
                FROM isl GROUP BY doc_id, grp
            )"""

    from pdf_parser_spark.operators import textstats as TS

    # BPE merge induction: K unrolled stages (like the PageRank CTE chain).
    # Symbol sequences ride in a '|sym||sym|' wrapped string: replace() is
    # left-to-right non-overlapping — exactly BPE's greedy merge scan — and
    # the per-symbol '|...|' wrapping keeps adjacent matches from sharing
    # boundary characters ('|a||a||a||a|' merges to '|aa||aa|', not
    # '|aa||a||a|').  Corpus tokens are \\S+ runs, so '|' cannot occur
    # inside a symbol.
    _bpe_stages = []
    for _k in range(1, TS.BPE_MERGES + 1):
        _bpe_stages.append(f"""
            p{_k} AS (
                SELECT p.l AS l, p.r AS r, sum(freq) AS cnt FROM (
                    SELECT freq,
                           unnest(list_transform(range(1, len(syms)),
                               i -> {{'l': syms[i], 'r': syms[i+1]}})) AS p
                    FROM (
                        SELECT freq,
                               string_split(substr(seq, 2, length(seq) - 2),
                                            '||') AS syms
                        FROM v{_k - 1}
                    )
                ) GROUP BY p.l, p.r
            ), b{_k} AS (
                SELECT l, r, cnt FROM p{_k}
                ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
            ), v{_k} AS (
                SELECT replace(seq,
                           (SELECT '|' || l || '||' || r || '|' FROM b{_k}),
                           (SELECT '|' || l || r || '|' FROM b{_k})) AS seq,
                       freq
                FROM v{_k - 1}
            )""")
    _bpe_cte = f"""
        WITH bvocab AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'),
                    x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        ), v0 AS (
            SELECT array_to_string(list_transform(range(1, length(w) + 1),
                       i -> '|' || w[i:i] || '|'), '') AS seq, freq
            FROM bvocab
        ),{",".join(_bpe_stages)}
    """
    # apply face: a parallel word-carrying chain driven by the SAME b{k}
    # merge selections, so train and apply share every merge decision
    _aw_stages = "".join(
        f""", aw{_k} AS (
                SELECT w, replace(seq,
                    (SELECT '|' || l || '||' || r || '|' FROM b{_k}),
                    (SELECT '|' || l || r || '|' FROM b{_k})) AS seq
                FROM aw{_k - 1}
            )"""
        for _k in range(1, TS.BPE_MERGES + 1)
    )
    _bpe_apply_sql = _bpe_cte + f""", aw0 AS (
            SELECT w, array_to_string(list_transform(range(1, length(w) + 1),
                       i -> '|' || w[i:i] || '|'), '') AS seq
            FROM bvocab
        ){_aw_stages}, wmap AS (
            SELECT w,
                   CAST(len(string_split(substr(seq, 2, length(seq) - 2),
                                         '||')) AS BIGINT) AS n_syms,
                   CAST(length(w) AS BIGINT) AS n_ch
            FROM aw{TS.BPE_MERGES}
        ), dw AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(text), '\\s+'),
                x -> x <> '')) AS w
            FROM documents
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(m.n_ch) AS BIGINT) AS n_chars,
               CAST(sum(m.n_syms) AS BIGINT) AS n_bpe_symbols
        FROM dw JOIN wmap m USING (w)
        GROUP BY doc_id ORDER BY doc_id
    """

    # synthetic multi-line text, the literal twin of curation.with_synthetic_lines
    # NB: array_to_string over an empty slice is NULL in DuckDB (Spark's
    # concat_ws over an empty array is '') — coalesce every slice-join
    _lines_sql = (
        "list_filter(["
        "CASE WHEN doc_id % 2 = 0 THEN 'Home | About | Contact' ELSE '' END, "
        f"coalesce(array_to_string(({_TOKS})[1:12], ' '), ''), "
        f"coalesce(array_to_string(({_TOKS})[13:24], ' '), ''), "
        "CASE WHEN doc_id % 3 <> 2 THEN 'Subscribe to our newsletter' ELSE '' END, "
        "'(c) ' || source || ' media group'"
        "], x -> x <> '')"
    )
    # synthetic C4-rule lines, the literal twin of curation.with_c4_lines
    # (same empty-slice coalesce NB as _lines_sql)
    _c4_lines_sql = (
        "list_filter(["
        f"coalesce(array_to_string(({_TOKS})[1:12], ' '), '') || '.', "
        "CASE WHEN doc_id % 3 = 0 THEN 'Enable javascript to view this content.' ELSE '' END, "
        f"coalesce(array_to_string(({_TOKS})[13:24], ' '), '') || "
        "(CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END), "
        "CASE WHEN doc_id % 4 = 0 THEN 'This website uses cookies to improve your experience.' ELSE '' END, "
        "CASE WHEN doc_id % 5 = 0 THEN 'Click here now.' ELSE '' END, "
        "CASE WHEN doc_id % 11 = 0 THEN 'Buy cheap casino chips online right now.' ELSE '' END, "
        "CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet consectetur.' ELSE '' END, "
        "CASE WHEN doc_id % 17 = 0 THEN 'var f = function() { return 1; }' ELSE '' END, "
        f"coalesce(array_to_string(({_TOKS})[25:36], ' '), '') || '?'"
        "], x -> x <> '')"
    )

    # synthetic <head>, the literal twin of htmlmeta.with_head_html
    _title_sql = f"coalesce(array_to_string(({_TOKS})[1:5], ' '), '')"
    _head_html_sql = f"""
        '<html><head><meta charset="'
        || (CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'UTF-8'
                 WHEN 2 THEN 'iso-8859-1' ELSE 'windows-1252' END)
        || '"><title>' || {_title_sql} || '</title>'
        || (CASE WHEN doc_id % 4 <> 1
                 THEN '<meta name="description" content="'
                      || coalesce(array_to_string(({_TOKS})[1:8], ' '), '') || '">'
                 ELSE '' END)
        || (CASE WHEN doc_id % 3 <> 0
                 THEN '<link rel="canonical" href="https://' || source
                      || '.example.com/doc/' || doc_id || '">'
                 ELSE '' END)
        || (CASE WHEN doc_id % 5 < 2
                 THEN '<meta property="og:title" content="'
                      || upper({_title_sql}) || '">'
                 ELSE '' END)
        || '</head><body><p>' || substr(text, 1, 60) || '</p></body></html>'
    """

    # synthetic link graph: same (m, a) ring formulas as the Spark side
    _edges_sql = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {m} + {a}) % "
        f"(SELECT count(*) FROM documents) AS dst FROM documents"
        for m, a in LG.LINK_PARAMS
    )
    # ONE unrolled-CTE builder for the PageRank family (aggregates are not
    # allowed in a recursive term; unrolling keeps the SQL the literal twin
    # of the Spark _power_iterate loop) — init/base are the only degrees of
    # freedom, same as the Spark side, so the twins cannot drift apart.
    def _rank_cte(prefix: str, col: str, init_sql: str, base_sql: str,
                  k: int = 5, nodes: str = "documents") -> str:
        cte = (
            f"{prefix}0 AS (SELECT doc_id, CAST({init_sql} AS BIGINT) "
            f"AS {col} FROM {nodes})"
        )
        for i in range(k):
            cte += f""",
        {prefix}{i + 1} AS (
            SELECT d.doc_id,
                   CAST({base_sql}
                        + ({LG.DAMP_NUM} * coalesce(m.s, 0))
                        // {LG.DAMP_DEN} AS BIGINT) AS {col}
            FROM {nodes} d LEFT JOIN (
                SELECT e.dst AS doc_id,
                       CAST(sum(p.{col} // dg.outdeg) AS BIGINT) AS s
                FROM {prefix}{i} p JOIN edges e ON p.doc_id = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY e.dst
            ) m USING (doc_id))"""
        return cte

    _seed_base = (
        f"CASE WHEN d.doc_id % {LG.TRUST_SEED_MOD} = 0 THEN {LG.BASE} ELSE 0 END"
    )
    _tr_cte = _rank_cte(
        "tr", "trust",
        f"CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0 THEN {LG.BASE} ELSE 0 END",
        _seed_base,
    )
    # exact-integer HITS, iterations unrolled the same way as PageRank's
    _hits_cte = "h0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS h FROM documents)"
    for _i in range(LG.HITS_ITERATIONS):
        _hits_cte += f""",
        a{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS a
            FROM documents d LEFT JOIN (
                SELECT e.dst AS doc_id, sum(h.h) AS s
                FROM edges e JOIN h{_i} h ON h.doc_id = e.src GROUP BY e.dst
            ) x USING (doc_id)),
        h{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS h
            FROM documents d LEFT JOIN (
                SELECT e.src AS doc_id, sum(a.a) AS s
                FROM edges e JOIN a{_i + 1} a ON a.doc_id = e.dst GROUP BY e.src
            ) x USING (doc_id))"""
    _K = LG.HITS_ITERATIONS
    # SALSA: the hits chain with degree-normalized floor divisions —
    # nonnegative values make DuckDB // == Spark div
    _salsa_cte = f"""sdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
        ddeg AS (SELECT dst, count(*) AS c FROM edges GROUP BY dst),
        sh0 AS (SELECT doc_id, CAST({LG.SALSA_SCALE} AS BIGINT) AS h
                FROM documents)"""
    for _i in range(LG.SALSA_ITERATIONS):
        _salsa_cte += f""",
        sa{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS a
            FROM documents d LEFT JOIN (
                SELECT e.dst AS doc_id, sum(h.h // o.c) AS s
                FROM edges e JOIN sh{_i} h ON h.doc_id = e.src
                JOIN sdeg o ON o.src = e.src GROUP BY e.dst
            ) x USING (doc_id)),
        sh{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS h
            FROM documents d LEFT JOIN (
                SELECT e.src AS doc_id, sum(a.a // i.c) AS s
                FROM edges e JOIN sa{_i + 1} a ON a.doc_id = e.dst
                JOIN ddeg i ON i.dst = e.dst GROUP BY e.src
            ) x USING (doc_id))"""
    _SK = LG.SALSA_ITERATIONS

    from pdf_parser_spark.plans import relational as R

    _ppr_ctes = ",\n".join(
        _rank_cte(
            f"pp{_s}", "ppr",
            f"CASE WHEN doc_id = {_s} THEN {LG.PPR_UNIT} ELSE 0 END",
            f"CASE WHEN d.doc_id = {_s} THEN {LG.PPR_UNIT} ELSE 0 END",
        )
        for _s in LG.PPR_SEEDS
    )
    _ppr_final = " UNION ALL ".join(
        f"""SELECT CAST({_s} AS BIGINT) AS seed_id, doc_id, ppr,
            CAST(row_number() OVER (ORDER BY ppr DESC, doc_id ASC)
                 AS BIGINT) AS rel_rank
            FROM pp{_s}5 WHERE doc_id != {_s} AND ppr > 0
            QUALIFY rel_rank <= {LG.PPR_TOPK}"""
        for _s in LG.PPR_SEEDS
    )

    # floor-log2 gap buckets as the same bounded power-comparison chain
    # the Spark side folds (k = 1..40)
    _gap_powers = " + ".join(
        f"CASE WHEN gap + 1 >= {2 ** _k} THEN 1 ELSE 0 END"
        for _k in range(1, 41)
    )

    _w9bot_sql = f"""
        WITH ev AS (
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
            FROM events
        ), rated AS (
            SELECT user_id,
                   count(*) OVER (
                       PARTITION BY user_id ORDER BY es
                       RANGE BETWEEN {R.BOT_WINDOW_S - 1} PRECEDING
                             AND CURRENT ROW) AS in_win
            FROM ev
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(in_win) AS BIGINT) AS peak_rate,
               max(in_win) >= {R.BOT_RPM_MIN} AS is_bot
        FROM rated GROUP BY user_id ORDER BY user_id
    """

    # MMR greedy walk, select_k rounds unrolled as chained CTEs (the
    # hits/pagerank unroll doctrine — aggregates are not allowed in a
    # recursive term, and the unroll is the literal twin of the Spark
    # driver loop).  sel0 is the empty selected set; round r scores every
    # still-available candidate and picks the (score desc, vec_id) argmax.
    from pdf_parser_spark.operators import similarity as SIM

    _mmr_pen = SIM.MMR_LAMBDA_DEN - SIM.MMR_LAMBDA_NUM
    _mmr_cte = f"""emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), mscored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   round(list_dot_product(q.v, c.v) /
                         (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(c.v, c.v))), 4) AS cs
            FROM emb q CROSS JOIN emb c
            WHERE q.vec_id < {SIM.MMR_QUERIES} AND q.vec_id != c.vec_id
        ), cand AS (
            SELECT query_id, vec_id,
                   CAST(round(cs * 10000) AS BIGINT) AS rel_bp
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cs DESC, vec_id ASC) AS rk FROM mscored)
            WHERE rk <= {SIM.MMR_CAND_K}
        ), msims AS (
            SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
                   CAST(round(list_dot_product(va.v, vb.v) /
                        (sqrt(list_dot_product(va.v, va.v))
                         * sqrt(list_dot_product(vb.v, vb.v))) * 10000)
                        AS BIGINT) AS sim_bp
            FROM cand x JOIN cand y USING (query_id)
            JOIN emb va ON va.vec_id = x.vec_id
            JOIN emb vb ON vb.vec_id = y.vec_id
            WHERE x.vec_id != y.vec_id
        ), sel0 AS (
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id WHERE false
        )"""
    for _r in range(1, SIM.MMR_SELECT_K + 1):
        _mmr_cte += f""",
        pick{_r} AS (
            SELECT query_id, vec_id, rel_bp, score FROM (
                SELECT c.query_id, c.vec_id, c.rel_bp,
                       {SIM.MMR_LAMBDA_NUM} * c.rel_bp
                           - {_mmr_pen} * coalesce(m.ms, 0) AS score,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY {SIM.MMR_LAMBDA_NUM} * c.rel_bp
                                    - {_mmr_pen} * coalesce(m.ms, 0) DESC,
                                    c.vec_id ASC) AS rn
                FROM cand c
                LEFT JOIN (
                    SELECT s.query_id, s.a AS vec_id,
                           max(s.sim_bp) AS ms
                    FROM msims s JOIN sel{_r - 1} x
                      ON x.query_id = s.query_id AND x.vec_id = s.b
                    GROUP BY 1, 2
                ) m ON m.query_id = c.query_id AND m.vec_id = c.vec_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM sel{_r - 1} x
                    WHERE x.query_id = c.query_id
                      AND x.vec_id = c.vec_id)
            ) WHERE rn = 1),
        sel{_r} AS (
            SELECT query_id, vec_id FROM sel{_r - 1}
            UNION ALL SELECT query_id, vec_id FROM pick{_r})"""
    _mmr_final = " UNION ALL ".join(
        f"SELECT query_id, vec_id, CAST({_r} AS INTEGER) AS mmr_rank,"
        f" rel_bp, CAST(score AS BIGINT) AS score FROM pick{_r}"
        for _r in range(1, SIM.MMR_SELECT_K + 1)
    )
    # exact-integer PageRank, iterations unrolled as chained CTEs (aggregates
    # are not allowed in a recursive term, and unrolling keeps the SQL the
    # literal twin of the Spark driver loop)
    _pr_cte = _rank_cte("pr", "rank", str(LG.UNIT), str(LG.BASE))

    # shingles of the first-8-word benchmark snippet: the _SHINGLES macro
    # with its token array sliced to [1:8] (rejoin+resplit on the Spark side
    # is identity on space-joined whitespace tokens)
    _SNIP_SHINGLES = _SHINGLES.replace(_TOKS, f"({_TOKS})[1:8]")
    _rate_cases = " ".join(
        f"WHEN '{lang}' THEN {bp}" for lang, bp in sorted(C.DEFAULT_RATES.items())
    )

    # frozen unigram vocabulary as SQL VALUES (quote-escaped pieces)
    from pdf_parser_spark.sources.expected import UNIGRAM_VOCAB as _UV

    _UNIGRAM_VALUES = ", ".join(
        f"('{p.replace(chr(39), chr(39) * 2)}', {c})" for p, c in _UV
    )

    # unigram Viterbi DP as CTE fragments (uv vocab, uw distinct words,
    # step linear recursion, wunits per-word units, utoks token stream) —
    # ONE definition shared by t_unigram_apply and t_unigram_fertility;
    # callers prepend WITH RECURSIVE and append their rollup
    _unigram_units_ctes = f"""uv(piece, cost) AS (
                SELECT * FROM (VALUES {_UNIGRAM_VALUES}) t(piece, cost)
            ), uw AS (
                SELECT DISTINCT w FROM (
                    SELECT unnest(list_transform({_TOKS}, t -> lower(t)))
                        AS w FROM documents) u
                WHERE w <> ''
            ), step(w, n, pos, d0, d1, d2, d3) AS (
                SELECT w, length(w), 0, CAST(0 AS BIGINT),
                       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                       CAST(NULL AS BIGINT)
                FROM uw
                UNION ALL
                SELECT s.w, s.n, s.pos + 1,
                       least(
                           coalesce(s.d0 + (coalesce(v1.cost,
                               {TS.UNIGRAM_UNK_MILLI}) * 1000 + 1),
                               {1 << 60}),
                           coalesce(s.d1 + (v2.cost * 1000 + 1), {1 << 60}),
                           coalesce(s.d2 + (v3.cost * 1000 + 1), {1 << 60}),
                           coalesce(s.d3 + (v4.cost * 1000 + 1), {1 << 60})
                       ),
                       s.d0, s.d1, s.d2
                FROM step s
                LEFT JOIN uv v1 ON v1.piece = substr(s.w, s.pos + 1, 1)
                LEFT JOIN uv v2 ON s.pos >= 1
                               AND v2.piece = substr(s.w, s.pos, 2)
                LEFT JOIN uv v3 ON s.pos >= 2
                               AND v3.piece = substr(s.w, s.pos - 1, 3)
                LEFT JOIN uv v4 ON s.pos >= 3
                               AND v4.piece = substr(s.w, s.pos - 2, 4)
                WHERE s.pos < s.n
            ), wunits AS (
                SELECT w, d0 AS units FROM step WHERE pos = n
            ), utoks AS (
                SELECT doc_id, w FROM (
                    SELECT doc_id,
                           unnest(list_transform({_TOKS}, t -> lower(t)))
                               AS w FROM documents) u
                WHERE w <> ''
            )"""

    # fuzzy-decontamination pair stream (appended after bands_cte): banded
    # candidates vs the doc_id%37 bench members, exact-Jaccard verified —
    # ONE fragment shared by c_decontaminate_fuzzy and
    # c_contamination_report so the pair rule cannot drift
    _fuzzy_ctes = f"""
            , fcand AS (
                SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
                       count(*) AS n_shared_bands
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                WHERE b.doc_id % {C.BENCH_MOD} = 0
                GROUP BY 1, 2
            ), fuzzy AS (
                SELECT c.doc_id, c.bench_id,
                       CAST(c.n_shared_bands AS BIGINT) AS n_shared_bands,
                       CAST((10000 * len(list_intersect(sa.shingles,
                                                        sb.shingles)))
                            // len(list_distinct(list_concat(sa.shingles,
                                                             sb.shingles)))
                            AS BIGINT) AS jaccard_bp
                FROM fcand c JOIN sh sa ON sa.doc_id = c.doc_id
                             JOIN sh sb ON sb.doc_id = c.bench_id
                WHERE (10000 * len(list_intersect(sa.shingles, sb.shingles)))
                      // len(list_distinct(list_concat(sa.shingles,
                                                       sb.shingles)))
                      >= {C.FUZZY_DECON_BP}
            )"""

    # quality-tier map over the bounded 4dp value histogram — ONE fragment
    # shared by c_quality_tiers and c_curriculum_order so the tier rule
    # cannot drift between the standalone face and the composition
    _tiers_ctes = f"""scored AS (
                SELECT doc_id,
                       round(0.5 * ({_hits(_EN)} / 10.0)
                           + 0.3 * (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOKS}) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
                           + 0.2 * least(len({_TOKS}) / 100.0, 1.0), 4) AS quality
                FROM documents
            ), hist AS (
                SELECT quality, count(*) AS cnt FROM scored GROUP BY quality
            ), cum AS (
                SELECT quality, cnt,
                       sum(cnt) OVER (ORDER BY quality DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tiers AS (
                SELECT quality,
                       CAST(least({C.N_TIERS} - 1,
                            ({C.N_TIERS} * cum_before) // total) AS BIGINT) AS tier
                FROM cum
            )"""

    def _pack_seq_sql_for(tbl: str, lead: str = "WITH") -> str:
        """The pack_sequences twin (shuffle-order offsets + concat-and-split
        explode) over any docs-shaped CTE/table — ONE definition shared by
        c_pack_sequences and the release-manifest composition so the packing
        twin cannot drift between the two faces.  `//` (floor) here vs `div`
        (trunc) in Spark agree because every operand is non-negative."""
        return f"""{lead} pk AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{C.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({_TOKS}) + 1 AS BIGINT) AS n_tok
                FROM {tbl} WHERE trim(text) <> ''
            ), psh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {C.SHUFFLE_SHARDS}) + {C.SHUFFLE_SHARDS})
                       % {C.SHUFFLE_SHARDS} AS shard
                FROM pk
            ), po AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM psh
            ), pe AS (
                SELECT doc_id, shard, n_tok, off,
                       unnest(range(CAST(off // {C.SEQ_LEN} AS BIGINT),
                                    CAST((off + n_tok - 1) // {C.SEQ_LEN} + 1
                                         AS BIGINT))) AS seq_id
                FROM po
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(off + greatest(0, seq_id * {C.SEQ_LEN} - off)
                        - seq_id * {C.SEQ_LEN} AS BIGINT) AS seq_slot_start,
                   doc_id,
                   CAST(greatest(0, seq_id * {C.SEQ_LEN} - off) AS BIGINT)
                       AS doc_tok_start,
                   CAST(least(n_tok, (seq_id + 1) * {C.SEQ_LEN} - off)
                        AS BIGINT) AS doc_tok_end,
                   CAST(least(n_tok, (seq_id + 1) * {C.SEQ_LEN} - off)
                        - greatest(0, seq_id * {C.SEQ_LEN} - off) AS BIGINT)
                       AS n_toks
            FROM pe ORDER BY doc_id, seq_id"""

    def _corpus_chain_for(tbl: str) -> str:
        """The corpus_build stage chain (gate -> exact-dedup keepers ->
        decontaminate -> stratified sample -> tokenized survivor set `t`)
        over any docs-shaped CTE/table — ONE definition shared by
        c_corpus_build and the WARC lifecycle composition so the stage
        twins cannot drift between the two faces."""
        return f"""{_gate_cte_for(tbl)},
            s1 AS (
                SELECT d.* FROM {tbl} d
                JOIN gated g USING (doc_id) WHERE g.reasons = ''
            ), keepers AS (
                SELECT min(doc_id) AS doc_id FROM (
                    SELECT doc_id,
                           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
                    FROM s1
                ) GROUP BY fp
            ), s2 AS (
                SELECT s1.* FROM s1 JOIN keepers USING (doc_id)
            ), bench AS (
                SELECT DISTINCT unnest(list_distinct({_SNIP_SHINGLES})) AS s
                FROM {tbl} WHERE doc_id % {C.BENCH_MOD} = 0
            ), conts AS (
                SELECT DISTINCT doc_id FROM (
                    SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s
                    FROM s2
                ) x JOIN bench USING (s)
            ), s3 AS (
                SELECT * FROM s2
                WHERE doc_id NOT IN (SELECT doc_id FROM conts)
            ), s4 AS (
                SELECT * FROM s3
                WHERE CAST(('0x' || substr(md5('smpl:' || doc_id), 1, 8)) AS BIGINT)
                      % 10000 < CASE lang {_rate_cases} ELSE -1 END
            ), t AS (
                SELECT doc_id, source, lang,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM s4
            )"""

    # XBRL dimension data inlined as VALUES CTEs from the SAME generator the
    # Spark side uses, so the oracle checks the relational logic (N6/N7/V8)
    from pdf_parser_spark.sources import xbrl as X

    subs_cte = X.values_cte(
        X.submissions_rows(), ["cik", "form", "report_date", "accession"],
        dates={"report_date"},
    )
    req_cte = X.values_cte(
        X.requests_rows(), ["cik", "form", "report_date"], dates={"report_date"}
    )
    facts_cte = X.values_cte(
        X.facts_rows(),
        ["cik", "concept", "unit", "accn", "start_date", "end_date", "val", "segment"],
        dates={"start_date", "end_date"}, doubles={"val"},
    )
    pdfv_cte = X.values_cte(
        X.pdf_values_rows(), ["cik", "concept", "pdf_val"],
        dates=set(), doubles={"pdf_val"},
    )

    # expected per-document extraction outputs, computed through the CORE
    # path (plain Python, no Spark) by tools/gen_expected.py — the oracle
    # re-expresses only the DISTRIBUTED machinery (W1 window, quality
    # roll-up, V8 facts join) in SQL, so those are what the hash verifies
    from pdf_parser_spark.operators.xbrl import CONCEPT_CANONICAL
    from pdf_parser_spark.sources import expected as E
    from pdf_parser_spark.sources.corpus import COMPANIES

    extract_cte = X.values_cte(
        E.EXTRACT_DOC_ROWS, E.EXTRACT_DOC_COLS,
        bigints={"n_pages", "n_sections"},
    )
    qc_cte = X.values_cte(
        E.QC_CHECK_ROWS, ["url", "chk", "passed"],
    )
    fleet_pdf_cte = X.values_cte(
        E.FLEET_PDF_ROWS, E.FLEET_PDF_COLS, doubles={"pdf_val"},
    )
    corpus_facts_cte = X.values_cte(
        X.facts_rows(ciks=[cik for _n, _t, cik in COMPANIES]),
        ["cik", "concept", "unit", "accn", "start_date", "end_date", "val", "segment"],
        dates={"start_date", "end_date"}, doubles={"val"},
    )
    concept_dim_cte = X.values_cte(
        [(k, v) for k, v in CONCEPT_CANONICAL.items()],
        ["concept", "canonical"],
    )
    # kmeans centroids (numpy twin of similarity.kmeans_fit, frozen by
    # tools/gen_expected.py) — the Spark query fits its OWN centroids via
    # distributed Lloyd, so a fit divergence hash-mismatches here
    cents_cte = (
        "(SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {c}::DOUBLE[])" for i, c in enumerate(E.KMEANS_CENTROIDS)
        )
        + ") AS c(cl, cv))"
    )
    sample_cents_cte = (
        "(SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {c}::DOUBLE[])"
            for i, c in enumerate(E.KMEANS_SAMPLE_CENTROIDS)
        )
        + ") AS c(cl, cv))"
    )
    # PQ codebooks: frozen numpy twins of similarity.pq_fit (per-subspace
    # Lloyd over the sliced embeddings) — the Spark query fits its own
    pq_books_cte = (
        "(SELECT * FROM (VALUES "
        + ", ".join(
            f"({s}, {i}, {c}::DOUBLE[])"
            for s, book in enumerate(E.PQ_CODEBOOKS)
            for i, c in enumerate(book)
        )
        + ") AS b(sub, cl, cv))"
    )
    # residual-encoding codebooks (numpy twin of similarity.pq_fit_residual:
    # Lloyd over residuals w.r.t. KMEANS_CENTROIDS, Jegou PAMI 2011 §IV-A)
    pq_res_books_cte = (
        "(SELECT * FROM (VALUES "
        + ", ".join(
            f"({s}, {i}, {c}::DOUBLE[])"
            for s, book in enumerate(E.PQ_RESIDUAL_CODEBOOKS)
            for i, c in enumerate(book)
        )
        + ") AS b(sub, cl, cv))"
    )
    pq_subdim = len(E.PQ_CODEBOOKS[0][0])
    from pdf_parser_spark.plans import relational as R
    from pdf_parser_spark.streaming.join import ATTR_HOURS as ST_ATTR_HOURS
    from pdf_parser_spark.streaming.join import USER_TIER_MOD as ST_TIER_MOD

    from pdf_parser_spark.sources import warc as WRC_

    # WARC revisit: the oracle re-derives the two-cycle capture stream from
    # the documents formula (every constant interpolated from the module —
    # anti-drift) and runs the SAME min-cap_id digest election, so an
    # election-order or link-resolution drift hash-mismatches
    _warc_revisit_sql = f"""
        WITH caps AS (
            SELECT CAST(doc_id AS BIGINT) AS cap_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS uri,
                   '{WRC_.WARC_DATE}' AS cap_date, text
            FROM documents
            UNION ALL
            SELECT CAST(doc_id + {WRC_.REVISIT_OFFSET} AS BIGINT) AS cap_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS uri,
                   '{WRC_.WARC_DATE2}' AS cap_date, text
            FROM documents WHERE doc_id % {WRC_.REVISIT_MOD} = {WRC_.REVISIT_REM}
        ), dig AS (
            SELECT cap_id, uri, cap_date, md5(text) AS digest FROM caps
        ), orig AS (
            SELECT digest, min(cap_id) AS orig_cap FROM dig GROUP BY digest
        )
        SELECT c.cap_id,
               CASE WHEN c.cap_id = o.orig_cap THEN 'response'
                    ELSE 'revisit' END AS warc_type,
               c.uri AS target_uri,
               c.cap_date AS warc_date,
               c.digest AS payload_digest,
               o.orig_cap,
               c.digest AS body_md5,
               TRUE AS digest_ok
        FROM dig c JOIN orig o ON c.digest = o.digest
        ORDER BY cap_id
    """

    # WARC round-trip fidelity projection, shared verbatim by the JVM
    # lineSep read (u_warc_roundtrip) and the registered Python DataSource
    # read (u_warc_datasource) — one oracle, two parsers
    _warc_rt_sql = """
        SELECT doc_id,
               'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
               CAST(200 AS INT) AS http_status,
               -- HTTP Content-Length is BYTES (octet_length), not chars
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
               CAST(length(text) AS BIGINT) AS n_body_chars,
               md5(text) AS body_md5
        FROM documents ORDER BY doc_id
    """

    from pdf_parser_spark.operators import multimodal as MM_

    # shared audio-energy CTE chain (WAV synthesis formula -> per-window
    # exact square sums), used by m_audio_energy and m_audio_segments
    _ae_ctes = f"""w AS (
                SELECT doc_id, 1 + doc_id % 2 AS ch,
                       (200 + doc_id % 100) * (1 + doc_id % 2) AS total
                FROM documents WHERE doc_id % 3 = 1
            ), wins AS (
                SELECT doc_id, ch, total,
                       unnest(range(0, (total + {MM_.AE_WIN} - 1) // {MM_.AE_WIN})) AS win_idx
                FROM w
            ), en AS (
                SELECT doc_id, win_idx,
                       least(total - win_idx * {MM_.AE_WIN}, {MM_.AE_WIN}) AS n_samps,
                       list_sum(list_transform(
                           list_transform(
                               range(win_idx * {MM_.AE_WIN},
                                     least(total, win_idx * {MM_.AE_WIN} + {MM_.AE_WIN})),
                               j -> ((2 * j * 13 + ch) % 256)
                                  + 256 * (((2 * j + 1) * 13 + ch) % 256)),
                           r -> CASE WHEN r >= 32768
                                     THEN (r - 65536) * (r - 65536)
                                     ELSE r * r END)) AS energy
                FROM wins
            )"""

    from pdf_parser_spark.operators.similarity import DIM_LADDER as _DIM_LADDER
    from pdf_parser_spark.operators.similarity import PQ_RERANK as similarity_PQ_RERANK
    from pdf_parser_spark.operators.similarity import PQ_ROUND_DP

    # dim-truncation audit: a ranked top-3 set per ladder step over the
    # sliced vectors (same 4dp round + neighbor-asc tie as s_ann_brute),
    # then join overlap counts vs the full ranking
    def _rset(name: str, vexpr: str) -> str:
        return f"""{name} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           round(list_dot_product({vexpr.format(t='q')}, {vexpr.format(t='n')}) /
                                 (sqrt(list_dot_product({vexpr.format(t='q')}, {vexpr.format(t='q')}))
                                  * sqrt(list_dot_product({vexpr.format(t='n')}, {vexpr.format(t='n')}))), 4) DESC,
                           n.vec_id ASC) AS rk
                FROM emb q CROSS JOIN emb n
                WHERE q.vec_id < 10 AND n.vec_id != q.vec_id)
            WHERE rk <= 3
        )"""

    _dim_ctes = ",\n".join(
        [_rset("full_r", "{t}.v")]
        + [_rset(f"t{d}", f"{{t}}.v[1:{d}]") for d in _DIM_LADDER]
    )
    _dim_rows = " UNION ALL ".join(
        f"""SELECT {d} AS dim,
                   (SELECT CAST(count(*) AS BIGINT) FROM full_r) AS n_pairs,
                   (SELECT CAST(count(*) AS BIGINT) FROM full_r f
                    JOIN t{d} USING (query_id, neighbor_id)) AS n_overlap"""
        for d in _DIM_LADDER
    )
    _dim_audit_sql = f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        {_dim_ctes}
        SELECT dim, n_pairs, n_overlap,
               CAST((10000 * n_overlap) // n_pairs AS BIGINT) AS recall_bp
        FROM ({_dim_rows}) ORDER BY dim
    """
    # shared PQ/ADC CTE chain: codes = per-(vector, subspace) argmin over
    # the frozen codebook twins; dists doubles as the query-side distance
    # table, so the codes join IS the ADC lookup
    _pq_adc_ctes = f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            books AS (SELECT * FROM {pq_books_cte}),
            dists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i] - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i] - b.cv[i]))) AS d2
                FROM emb e CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists) WHERE rn = 1
            ), adc AS (
                SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM dists d
                JOIN codes c ON c.sub = d.sub AND c.code = d.cl
                WHERE d.vec_id < 10 AND c.vec_id != d.vec_id
                GROUP BY d.vec_id, c.vec_id
            )"""

    # IVF oracle, parameterized by the quantizer CTE: assignment + nprobe=2
    # probing from the frozen centroid literals; squared distances via the
    # same elementwise (x-y)^2 left-fold shape as the Spark column expression.
    # The Spark query fits its OWN centroids via distributed Lloyd (full or
    # md5-sample), so a fit divergence hash-mismatches here.
    def _ivf_sql(cte: str) -> str:
        return f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cte}),
            dists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists WHERE vec_id < 10) WHERE rn <= 2
            ), scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, n.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cos_sim
                FROM probes p
                JOIN assign a ON a.cell = p.probe
                JOIN emb q ON q.vec_id = p.query_id
                JOIN emb n ON n.vec_id = a.vec_id
                WHERE a.vec_id != p.query_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """

    # shared URL CTEs: synthesize the deterministic url column, parse with
    # the same URL_RE six-group regex, canonicalize under the same rules,
    # and resolve registered domains on the distinct-host dim exactly as
    # weburl.registered_domain does (longest matching suffix, <= 3 labels)
    from pdf_parser_spark.operators import multimodal as MM
    from pdf_parser_spark.operators import pdflayout as PL
    from pdf_parser_spark.operators import weburl as WU

    # spectral peaks: the 32x64 fixed-point cos/sin tables embedded as
    # literals; re/im built ONCE per window as lists (linear SQL size),
    # mags from the lists, argmax via list_position-of-max (first = lowest
    # bin, matching np.argmax)
    _spc_rows = [
        "[" + ", ".join(str(v) for v in row) + "]" for row in MM.SPEC_C
    ]
    _sps_rows = [
        "[" + ", ".join(str(v) for v in row) + "]" for row in MM.SPEC_S
    ]
    _spec_re = ", ".join(
        f"list_sum(list_transform(range(0, {MM.SPEC_WIN}), "
        f"n -> x[n+1] * ({_spc_rows[k]})[n+1]))"
        for k in range(MM.SPEC_BINS)
    )
    _spec_im = ", ".join(
        f"list_sum(list_transform(range(0, {MM.SPEC_WIN}), "
        f"n -> x[n+1] * ({_sps_rows[k]})[n+1]))"
        for k in range(MM.SPEC_BINS)
    )

    # pHash: the 8x32 fixed-point DCT table embedded as literals (the SAME
    # ints MM.PHASH_C the Spark kernel uses), one list_sum per kept
    # coefficient T[u][v] = sum_i C_u[i//32] * C_v[i%32] * gray[i]
    _ph_rows = [
        "[" + ", ".join(str(v) for v in row) + "]" for row in MM.PHASH_C
    ]
    _G2 = MM.PHASH_GRID * MM.PHASH_GRID
    _ph_terms = ", ".join(
        f"list_sum(list_transform(range(0, {_G2}), i -> "
        f"({_ph_rows[u]})[i//{MM.PHASH_GRID} + 1] * "
        f"({_ph_rows[v]})[i%{MM.PHASH_GRID} + 1] * grays[i+1]))"
        for u in range(MM.PHASH_LOW) for v in range(MM.PHASH_LOW)
    )

    _track = ", ".join(f"'{k}'" for k in WU.TRACKING_KEYS)
    _sfx = ", ".join(f"'{sx}'" for sx in WU.PUBLIC_SUFFIXES)

    def _url_cte_for(tbl: str) -> str:
        return f"""
        u AS (SELECT doc_id, lang, text, source, {WU.URL_SYNTH_SQL} AS url
              FROM {tbl}),
        p AS (
            SELECT u.*,
                   lower(regexp_extract(url, '{WU.URL_RE}', 1)) AS scheme,
                   lower(regexp_extract(url, '{WU.URL_RE}', 2)) AS host,
                   regexp_extract(url, '{WU.URL_RE}', 3) AS port_s,
                   regexp_extract(url, '{WU.URL_RE}', 4) AS path_raw,
                   regexp_extract(url, '{WU.URL_RE}', 5) AS query_s
            FROM u
        ),
        canon AS (
            SELECT *,
                scheme || '://' || host
                || CASE WHEN (scheme = 'https' AND port_s = ':443')
                          OR (scheme = 'http' AND port_s = ':80')
                        THEN '' ELSE port_s END
                || CASE WHEN regexp_replace(path_raw, '/+$', '') = ''
                        THEN '/' ELSE regexp_replace(path_raw, '/+$', '') END
                || CASE WHEN len(kept) = 0 THEN ''
                        ELSE '?' || array_to_string(kept, '&') END
                AS canonical_url
            FROM (
                SELECT *, list_sort(list_filter(
                        regexp_split_to_array(substr(query_s, 2), '&'),
                        q -> q <> ''
                             AND NOT starts_with(split_part(q, '=', 1), 'utm_')
                             AND NOT list_contains([{_track}], split_part(q, '=', 1))
                    )) AS kept
                FROM p
            )
        ),
        hll AS (
            SELECT host, regexp_split_to_array(host, '\\.') AS l
            FROM (SELECT DISTINCT host FROM p)
        ),
        cands AS (
            SELECT host, i, array_to_string(l[len(l)-i+1:len(l)], '.') AS s
            FROM hll, unnest(range(1,
                greatest(least(len(l) - 1, {WU.MAX_SUFFIX_LABELS}), 1) + 1)) AS r(i)
        ),
        best AS (
            SELECT host, max(CASE WHEN s IN ({_sfx}) THEN i END) AS b
            FROM cands GROUP BY host
        ),
        reg AS (
            SELECT hll.host,
                   CASE WHEN len(l) > COALESCE(b, 1)
                        THEN array_to_string(l[len(l)-COALESCE(b,1):len(l)], '.')
                        ELSE hll.host END AS reg_domain
            FROM hll JOIN best USING (host)
        )
    """

    _url_cte = _url_cte_for("documents")

    # synthesized-PDF layout rows (shared by p_pdf_layout and p_pdf_text
    # so the two faces cannot drift): page count, paragraph line counts,
    # y ladder, and texts re-derived from the doc_id arithmetic
    _pdf_rows_cte = f"""
        parms AS (
            SELECT doc_id, p,
                   2 + (doc_id + p) % 3 AS k1,
                   1 + (doc_id + p) % 2 AS k2
            FROM (
                SELECT doc_id,
                       unnest(range(0, CASE WHEN doc_id % 4 = 3
                                           THEN 1 ELSE 2 END)) AS p
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
            )
        ), pdf_headings AS (
            SELECT doc_id, p AS page_no, 0 AS block_id, 0 AS line_id,
                   {PL.HEAD_SIZE * 10} AS font_tenths,
                   {PL.HEAD_Y * 10} AS y_tenths,
                   true AS is_heading,
                   'Heading ' || p || ' of doc ' || doc_id AS text
            FROM parms
        ), pdf_para1 AS (
            SELECT doc_id, p AS page_no, 1 AS block_id,
                   CAST(i AS INTEGER) AS line_id,
                   {PL.BODY_SIZE * 10} AS font_tenths,
                   CAST({PL.P1_Y * 10} - {PL.LEADING * 10} * i
                        AS INTEGER) AS y_tenths,
                   false AS is_heading,
                   'Body (para one) line ' || i || ' of ' || doc_id
                       AS text
            FROM (SELECT doc_id, p,
                         unnest(range(0, k1)) AS i FROM parms)
        ), pdf_para2 AS (
            SELECT doc_id, p AS page_no, 2 AS block_id,
                   CAST(i AS INTEGER) AS line_id,
                   {PL.BODY_SIZE * 10} AS font_tenths,
                   CAST({PL.P2_Y * 10} - {PL.LEADING * 10} * i
                        AS INTEGER) AS y_tenths,
                   false AS is_heading,
                   'Body (para two) line ' || i || ' of ' || doc_id
                       AS text
            FROM (SELECT doc_id, p,
                         unnest(range(0, k2)) AS i FROM parms)
        ), pdf_lines AS (
            SELECT * FROM pdf_headings
            UNION ALL SELECT * FROM pdf_para1
            UNION ALL SELECT * FROM pdf_para2
        )
    """

    # SURT key as one SQL fragment over canon.canonical_url (shared by
    # u_surt and u_cdx_index so the two faces cannot drift)
    _surt_hostport = "regexp_extract(canonical_url, '^[a-z]+://([^/]+)', 1)"
    _surt_sql = (
        "array_to_string(list_reverse(string_split(regexp_replace("
        f"regexp_extract({_surt_hostport}, '^([^:]*)', 1), "
        "'^www\\.', ''), '.')), ',')"
        f" || regexp_extract({_surt_hostport}, '(:[0-9]+)$', 1)"
        " || ')' || regexp_extract(canonical_url, '^[a-z]+://[^/]+(.*)$', 1)"
    )

    # unrolled label-propagation rounds (aggregates are not allowed in a
    # recursive term — same doctrine as _rank_cte): round r relabels every
    # connected host with the (weight desc, label asc) argmax over round
    # r-1 neighbor labels; isolated hosts coalesce back to their own label
    _lpa_rounds_sql = ""
    _lpa_prev = "lab0"
    for _r in range(1, LG.LPA_ROUNDS + 1):
        _lpa_rounds_sql += f""",
            v{_r} AS (
                SELECT e.a AS host, l.label, sum(e.w) AS wt
                FROM ue e JOIN {_lpa_prev} l ON l.host = e.b
                GROUP BY e.a, l.label
            ), p{_r} AS (
                SELECT host, label FROM (
                    SELECT *, row_number() OVER (PARTITION BY host
                             ORDER BY wt DESC, label ASC) AS rn
                    FROM v{_r}) WHERE rn = 1
            ), lab{_r} AS (
                SELECT n.host, coalesce(p.label, n.host) AS label
                FROM nodes n LEFT JOIN p{_r} p USING (host)
            )"""
        _lpa_prev = f"lab{_r}"

    # k-core h-index rounds: the unrolled twin of host_kcore's loop
    # (H^{t+1}(v) = h-index of neighbors' H^t; K fixed rounds, engine
    # asserts convergence within them)
    _kcore_rounds_sql = ""
    for _r in range(LG.KCORE_ROUNDS):
        _kcore_rounds_sql += f""",
            kh{_r + 1} AS (
                SELECT u, CAST(max(CASE WHEN val >= rn THEN rn ELSE 0 END)
                               AS BIGINT) AS val
                FROM (SELECT s.u, l.val,
                             row_number() OVER (PARTITION BY s.u
                                 ORDER BY l.val DESC, s.v ASC) AS rn
                      FROM sym s JOIN kh{_r} l ON l.u = s.v)
                GROUP BY u
            )"""
    _kcore_last = f"kh{LG.KCORE_ROUNDS}"

    # per-host robots dim: ONE definition (weburl.ROBOTS_*_SQL) shared by
    # every oracle that re-derives it
    _rules_cte = f"""
            rules AS (
                SELECT host,
                       {WU.ROBOTS_DISALLOW_SQL} AS disallow_prefix,
                       {WU.ROBOTS_DELAY_SQL} AS crawl_delay_ms
                FROM (SELECT DISTINCT host FROM canon)
            )"""

    # C4/Gopher hard-gate signals + verdict (twin of textstats.quality_gate,
    # thresholds interpolated from the module so they cannot drift) over any
    # docs-shaped CTE/table
    from pdf_parser_spark.operators import textstats as TS

    # shared NB-classifier CTE chain (t_nb_classifier + t_filter_agreement):
    # both class LMs re-derived from the seed-slice formulas, shared-vocab
    # Laplace floor-log2 bits, final CTE nbout carries the scored columns
    _nb_cte = f"""nbtoks AS (
                SELECT doc_id,
                       unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                FROM documents
            ), nbref AS (
                SELECT term,
                       CAST(sum(CASE WHEN doc_id % {TS.NB_POS_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                       CAST(sum(CASE WHEN doc_id % {TS.NB_POS_MOD} = {TS.NB_NEG_REM}
                                     THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
                FROM nbtoks
                WHERE doc_id % {TS.NB_POS_MOD} = 0
                   OR doc_id % {TS.NB_POS_MOD} = {TS.NB_NEG_REM}
                GROUP BY term
            ), nbmodel AS (
                SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
                       CAST(sum(c_neg) AS BIGINT) AS n_neg,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM nbref
            ), nbdim AS (
                SELECT term,
                       CAST(length(bin(greatest(
                           (m.n_pos + m.v_model) // (c_pos + 1), 1)))
                           - 1 AS BIGINT) AS bp,
                       CAST(length(bin(greatest(
                           (m.n_neg + m.v_model) // (c_neg + 1), 1)))
                           - 1 AS BIGINT) AS bn
                FROM nbref CROSS JOIN nbmodel m
            ), nbdoc AS (
                SELECT t.doc_id,
                       CAST(count(*) AS BIGINT) AS n_toks,
                       CAST(coalesce(sum(d.bp), 0) AS BIGINT) AS known_bp,
                       CAST(coalesce(sum(d.bn), 0) AS BIGINT) AS known_bn,
                       CAST(sum(CASE WHEN d.bp IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_oov
                FROM nbtoks t LEFT JOIN nbdim d USING (term)
                GROUP BY t.doc_id
            ), nbsc AS (
                SELECT doc_id, n_toks, n_oov,
                       CAST(known_bp + n_oov *
                            (length(bin(greatest(m.n_pos + m.v_model, 1))) - 1)
                            AS BIGINT) AS bits_pos,
                       CAST(known_bn + n_oov *
                            (length(bin(greatest(m.n_neg + m.v_model, 1))) - 1)
                            AS BIGINT) AS bits_neg
                FROM nbdoc CROSS JOIN nbmodel m
            ), nbout AS (
                SELECT doc_id, n_toks, n_oov, bits_pos, bits_neg,
                       CAST(bits_neg - bits_pos AS BIGINT) AS margin,
                       CASE WHEN bits_neg - bits_pos >= 0
                            THEN 'keep' ELSE 'drop' END AS label
                FROM nbsc
            )"""

    def _gate_cte_for(tbl: str) -> str:
        return f"""
            gsig AS (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                       length(regexp_replace(text, '\\s+', '', 'g'))
                           / len({_TOKS}) AS mean_wl,
                       {_hits(_EN)} AS stop_hits,
                       (length(text) - length(replace(text, '#', '')))
                           / len({_TOKS}) AS hash_ratio,
                       len(list_filter(regexp_split_to_array(text, '\\n'),
                           l -> ends_with(l, '...')))
                           / len(regexp_split_to_array(text, '\\n')) AS ellipsis_ratio,
                       len(list_filter(regexp_split_to_array(text, '\\n'),
                           l -> starts_with(ltrim(l), '- ')
                             OR starts_with(ltrim(l), '* ')))
                           / len(regexp_split_to_array(text, '\\n')) AS bullet_ratio
                FROM {tbl}
            ), gated AS (
                SELECT doc_id, concat_ws(';',
                    CASE WHEN n_tokens < {TS.GATE_MIN_TOKENS} THEN 'too_few_tokens' END,
                    CASE WHEN n_tokens > {TS.GATE_MAX_TOKENS} THEN 'too_many_tokens' END,
                    CASE WHEN mean_wl < {TS.GATE_MEAN_WL_LO}
                           OR mean_wl > {TS.GATE_MEAN_WL_HI} THEN 'word_len' END,
                    CASE WHEN stop_hits < {TS.GATE_MIN_STOPWORD_HITS} THEN 'no_stopwords' END,
                    CASE WHEN hash_ratio > {TS.GATE_MAX_HASH_RATIO} THEN 'hash_symbols' END,
                    CASE WHEN ellipsis_ratio > {TS.GATE_MAX_ELLIPSIS_LINE_RATIO} THEN 'ellipsis_lines' END,
                    CASE WHEN bullet_ratio > {TS.GATE_MAX_BULLET_LINE_RATIO} THEN 'bullet_lines' END
                ) AS reasons
                FROM gsig)"""

    _w8_sql = f"""
            WITH base AS (
                SELECT event_id, user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es,
                       CAST(round(value * 100) AS BIGINT) AS value_cents
                FROM events
            ), carried AS (
                SELECT *,
                       last_value(CASE WHEN event_type IN ({", ".join(
                           f"'{t}'" for t in R.ATTR_TOUCHES)})
                           THEN {{'tes': es, 'tid': event_id,
                                  'tty': event_type}} END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY es, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS lt
                FROM base
            )
            SELECT event_id, user_id, value_cents,
                   CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN lt.tty ELSE 'direct' END AS touch_type,
                   CAST(CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN lt.tid ELSE -1 END AS BIGINT)
                        AS touch_event_id,
                   CAST(CASE WHEN lt IS NOT NULL
                             AND es - lt.tes <= {R.ATTR_LOOKBACK_S}
                        THEN es - lt.tes ELSE -1 END AS BIGINT) AS gap_s
            FROM carried WHERE event_type = 'purchase'
            ORDER BY event_id
        """

    sql = {
        "w1_event_sequence": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
            FROM events ORDER BY user_id, seq
        """,
        "w2_first_value": """
            SELECT event_type, first_value FROM (
                SELECT event_type, value AS first_value,
                       row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
                FROM events) WHERE rn = 1 ORDER BY event_type
        """,
        "w3_lang_summary": """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "v2_tolerance_bands": """
            SELECT status, count(*) AS n FROM (
                SELECT CASE
                    WHEN l_quantity * p_retailprice = l_extendedprice THEN 'PASS'
                    WHEN abs(l_quantity * p_retailprice - l_extendedprice)
                         / abs(l_quantity * p_retailprice) <= 0.01 THEN 'WARN'
                    ELSE 'FAIL' END AS status
                FROM lineitem JOIN part ON l_partkey = p_partkey)
            GROUP BY status ORDER BY status
        """,
        "w4_sessionize": """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM gaps
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
        """,
        # gap-fill: generated per-type hour grid + IGNORE NULLS carry-forward
        "a_gapfill": """
            WITH hourly AS (
                SELECT event_type,
                       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
                       count(*) AS n_events,
                       round(avg(value), 4) AS mean_value
                FROM events GROUP BY 1, 2
            ), grid AS (
                SELECT event_type,
                       unnest(range(min(h), max(h) + 3600, 3600)) AS h
                FROM hourly GROUP BY event_type
            )
            SELECT g.event_type, g.h AS hour_start_s,
                   CAST(coalesce(hh.n_events, 0) AS BIGINT) AS n_events,
                   last_value(hh.mean_value IGNORE NULLS) OVER (
                       PARTITION BY g.event_type ORDER BY g.h
                       ROWS UNBOUNDED PRECEDING) AS filled_value,
                   hh.n_events IS NULL AS is_gap
            FROM grid g
            LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
            ORDER BY g.event_type, hour_start_s
        """,
        # range join: the oracle is the PLAIN interval join — the engine's
        # bucket explode + equi join + filter must be semantics-invisible
        "j_range_join": f"""
            WITH iv AS (
                SELECT CAST(i AS BIGINT) AS interval_id,
                       TIMESTAMP '{R.RANGE_T0}'
                           + i * INTERVAL {R.RANGE_STRIDE_H} HOUR AS s,
                       TIMESTAMP '{R.RANGE_T0}'
                           + i * INTERVAL {R.RANGE_STRIDE_H} HOUR
                           + INTERVAL {R.RANGE_WIDTH_H} HOUR AS e
                FROM unnest(range(0, {R.RANGE_N_INTERVALS})) t(i)
            )
            SELECT interval_id, CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
            GROUP BY interval_id ORDER BY interval_id
        """,
        # native session_window: the lag/cumsum twin at MICROSECOND
        # precision with the INCLUSIVE break (measured, pytest-pinned:
        # Spark merges an event at exactly prev + gap — touching windows
        # DO merge; the first draft assumed strict and only the
        # engineered-boundary test caught it, the real corpus has no
        # exact-gap pair)
        "w6_session_window": """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                > 1800 * 1000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM gaps
            )
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
                   count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start_s
        """,
        # first-touch funnel: per-user conditional mins chained strictly,
        # counts of non-null steps, integer-bp conversion
        # last-touch attribution: same ignorenulls struct-carry window,
        # same lookback/direct predicates
        "w8_attribution": _w8_sql,
        # peak-rate bot gate: the same trailing range frame — the exact
        # sliding-window peak via RANGE n PRECEDING over the BIGINT es
        "w9_bot_detect": _w9bot_sql,
        # streaming twin: one-batch replay, histogram fold == the range
        # frame (RANGE includes peers, so per-second sums attain the
        # peak); SAME SQL string (ratelimit doctrine)
        "st_bot_detect": _w9bot_sql,
        # RFM: identical total-order ntiles; 111 = best (recency ASC
        # seconds, F/M DESC)
        "w10_rfm": f"""
            WITH pu AS (
                SELECT user_id,
                       CAST({R.RFM_ASOF_S} - max(CAST(floor(epoch(ts))
                            AS BIGINT)) AS BIGINT) AS recency_s,
                       CAST(count(*) AS BIGINT) AS frequency,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS monetary_cents
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id
            ), tiled AS (
                SELECT *,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY recency_s ASC, user_id ASC)
                           AS BIGINT) AS r_tier,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY frequency DESC, user_id ASC)
                           AS BIGINT) AS f_tier,
                       CAST(ntile({R.RFM_TIERS}) OVER (
                           ORDER BY monetary_cents DESC, user_id ASC)
                           AS BIGINT) AS m_tier
                FROM pu
            )
            SELECT user_id, recency_s, frequency, monetary_cents,
                   r_tier, f_tier, m_tier,
                   CAST(r_tier * 100 + f_tier * 10 + m_tier AS BIGINT)
                       AS segment
            FROM tiled ORDER BY user_id
        """,
        # gaps: same lag window and the same bounded power-comparison
        # chain for floor-log2
        # activity Gini: ascending total-order rank, one floor division
        # of nonnegative BIGINTs — bit-identical in both engines
        "w15_activity_gini": """
            WITH pu AS (
                SELECT user_id, count(*) AS n_events
                FROM events GROUP BY user_id
            ), rk AS (
                SELECT n_events,
                       row_number() OVER (
                           ORDER BY n_events ASC, user_id ASC) AS rk
                FROM pu
            )
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(n_events) AS BIGINT) AS t_events,
                   CAST((10000 * (2 * sum(rk * n_events)
                         - (count(*) + 1) * sum(n_events)))
                        // (count(*) * sum(n_events)) AS BIGINT)
                       AS gini_bp
            FROM rk
        """,
        # growth accounting: dense weeks via range(w0, w1+1); churn =
        # lag(n_active) - n_retained so both identities hold at every row
        "w14_growth_accounting": f"""
            WITH uw AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) // {R.WEEK_S}
                           AS week
                FROM events
            ), fl AS (
                SELECT week,
                       CASE WHEN week = min(week)
                                 OVER (PARTITION BY user_id)
                            THEN 1 ELSE 0 END AS is_new,
                       CASE WHEN lag(week) OVER (
                                 PARTITION BY user_id ORDER BY week)
                                 = week - 1
                            THEN 1 ELSE 0 END AS is_retained
                FROM uw
            ), agg AS (
                SELECT week, count(*) AS n_active,
                       sum(is_new) AS n_new,
                       sum(is_retained) AS n_retained,
                       sum((1 - is_new) * (1 - is_retained))
                           AS n_resurrected
                FROM fl GROUP BY week
            ), bnd AS (SELECT min(week) AS w0, max(week) AS w1 FROM uw),
            wk AS (SELECT unnest(range(w0, w1 + 1)) AS week FROM bnd),
            dense AS (
                SELECT wk.week,
                       coalesce(n_active, 0) AS n_active,
                       coalesce(n_new, 0) AS n_new,
                       coalesce(n_retained, 0) AS n_retained,
                       coalesce(n_resurrected, 0) AS n_resurrected
                FROM wk LEFT JOIN agg ON agg.week = wk.week
            )
            SELECT CAST(week AS BIGINT) AS week,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(n_new AS BIGINT) AS n_new,
                   CAST(n_retained AS BIGINT) AS n_retained,
                   CAST(n_resurrected AS BIGINT) AS n_resurrected,
                   CAST(coalesce(lag(n_active) OVER (ORDER BY week), 0)
                        - n_retained AS BIGINT) AS n_churned
            FROM dense ORDER BY week
        """,
        "w13_interevent_gaps": f"""
            WITH ev AS (
                SELECT user_id, event_type, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events
            ), g AS (
                SELECT event_type,
                       es - lag(es) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY es, event_id) AS gap
                FROM ev
            )
            SELECT event_type,
                   CAST({_gap_powers} AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_gaps
            FROM g WHERE gap IS NOT NULL
            GROUP BY event_type, bucket ORDER BY event_type, bucket
        """,
        # concentration: same ceil slice rule (a + b - 1) div b — both
        # engines TRUNCATE integer division toward zero, so the negate
        # trick would floor, not ceil — and cumulative window
        "w12_user_concentration": f"""
            WITH pu AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY user_id
            ), rk AS (
                SELECT user_id, n_events,
                       row_number() OVER (
                           ORDER BY n_events DESC, user_id ASC) AS rk,
                       sum(n_events) OVER (
                           ORDER BY n_events DESC, user_id ASC
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM pu
            ), tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_users,
                       CAST(sum(n_events) AS BIGINT) AS t_events
                FROM pu
            ), grid AS (
                SELECT unnest([{", ".join(str(b) for b in R.CONC_TOP_BP)}])
                           AS top_bp
            )
            SELECT CAST(g.top_bp AS BIGINT) AS top_bp,
                   CAST(r.rk AS BIGINT) AS n_top_users,
                   CAST(10000 * r.cum // t.t_events AS BIGINT)
                       AS share_bp
            FROM grid g CROSS JOIN tot t
            JOIN rk r ON r.rk = (g.top_bp * t.n_users + 9999) // 10000
            ORDER BY top_bp
        """,
        # stickiness: same floor-epoch day/week buckets, two distinct
        # aggregations, 10000*sum(DAU) div (7*WAU)
        "w11_stickiness": f"""
            WITH base AS (
                SELECT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events
            ), days AS (
                SELECT DISTINCT user_id, es // {R.DAY_S} AS day,
                       es // {R.WEEK_S} AS week
                FROM base
            ), dau AS (
                SELECT week, day,
                       CAST(count(DISTINCT user_id) AS BIGINT) AS dau
                FROM days GROUP BY week, day
            ), wau AS (
                SELECT week, CAST(count(*) AS BIGINT) AS wau FROM (
                    SELECT DISTINCT user_id, es // {R.WEEK_S} AS week
                    FROM base)
                GROUP BY week
            )
            SELECT d.week, CAST(sum(d.dau) AS BIGINT) AS sum_dau,
                   CAST(count(*) AS BIGINT) AS n_active_days,
                   w.wau,
                   CAST(10000 * sum(d.dau) // (7 * w.wau) AS BIGINT)
                       AS stickiness_bp
            FROM dau d JOIN wau w USING (week)
            GROUP BY d.week, w.wau ORDER BY d.week
        """,
        # streaming twin: one-batch replay makes stream order = global
        # order, so the batch SQL is the oracle VERBATIM (ratelimit
        # doctrine); cross-batch state carry is pinned in pytest
        "st_attribution": _w8_sql,
        # streaming decayed trending: one-batch replay -> the per-key
        # floor-shift decay chain as a recursive CTE over the window
        # sequence (one row per (key, window) step), shift clamp mirrored
        "st_trending": f"""
            WITH RECURSIVE wins AS (
                SELECT event_type,
                       CAST(floor(epoch(ts)) AS BIGINT)
                           // {_TREND.TREND_WINDOW_S} AS win,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2
            ), seq AS (
                SELECT event_type, win, n_events,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY win) AS i
                FROM wins
            ), chain AS (
                SELECT event_type, i, win, n_events, n_events AS decayed
                FROM seq WHERE i = 1
                UNION ALL
                SELECT s.event_type, s.i, s.win, s.n_events,
                       CASE WHEN s.win - c.win > {_TREND.TREND_SHIFT_CLAMP}
                            THEN CAST(0 AS BIGINT)
                            ELSE c.decayed
                                 // (CAST(1 AS BIGINT) << (s.win - c.win))
                       END + s.n_events
                FROM chain c JOIN seq s
                  ON s.event_type = c.event_type AND s.i = c.i + 1
            )
            SELECT event_type, win, n_events, decayed
            FROM chain ORDER BY event_type, win
        """,
        "w5_funnel": """
            WITH u1 AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'view' THEN ts END) AS t1
                FROM events GROUP BY user_id
            ), u2 AS (
                SELECT e.user_id, any_value(u1.t1) AS t1,
                       min(CASE WHEN e.event_type = 'click'
                                 AND e.ts > u1.t1 THEN e.ts END) AS t2
                FROM events e JOIN u1 USING (user_id) GROUP BY e.user_id
            ), u3 AS (
                SELECT e.user_id, any_value(u2.t1) AS t1,
                       any_value(u2.t2) AS t2,
                       min(CASE WHEN e.event_type = 'purchase'
                                 AND e.ts > u2.t2 THEN e.ts END) AS t3
                FROM events e JOIN u2 USING (user_id) GROUP BY e.user_id
            ), f AS (
                SELECT count(t1) AS c1, count(t2) AS c2, count(t3) AS c3
                FROM u3
            )
            SELECT step, step_name, CAST(n AS BIGINT) AS n_users,
                   CAST(CASE WHEN c1 = 0 THEN 0
                             ELSE (10000 * n) // c1 END AS BIGINT) AS conv_bp
            FROM f, (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
                 AS s(step, step_name),
                 LATERAL (SELECT CASE step WHEN 1 THEN c1 WHEN 2 THEN c2
                                 ELSE c3 END AS n)
            ORDER BY step
        """,
        # streaming twin of W4 — held to the SAME sql oracle (bounded replay
        # through applyInPandasWithState must reproduce the batch sessions)
        "st_sessionize": """
            WITH gaps AS (
                SELECT user_id, ts, value, event_id,
                       CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, value,
                       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM gaps
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
        """,
        "f_regex_extract": """
            SELECT event_id, CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) AS k
            FROM events ORDER BY event_id
        """,
        "j_asof_latest_order": """
            SELECT e.event_id, o.o_orderkey, o.o_orderdate
            FROM events e LEFT JOIN LATERAL (
                SELECT o_orderkey, o_orderdate FROM orders o
                WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
                ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
            ) o ON TRUE
            ORDER BY event_id
        """,
        "u_setops": """
            WITH a AS (SELECT DISTINCT c_custkey AS k FROM customer
                       WHERE c_mktsegment = 'BUILDING'),
                 b AS (SELECT DISTINCT o_custkey AS k FROM orders)
            SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
            UNION ALL
            SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
            UNION ALL
            SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)
            ORDER BY op
        """,
        "g_rollup_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY returnflag, linestatus
        """,
        # PIVOT twin: conditional aggregation — the portable spelling of a
        # bounded pivot (DuckDB's PIVOT statement reorders differently)
        "q_pivot_lang_matrix": """
            SELECT source,
                   CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
                   CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr
            FROM documents GROUP BY source ORDER BY source
        """,
        # CUBE twin: GROUPING(a) || GROUPING(b) concatenated as bits must
        # equal Spark's grouping_id — the lattice-id agreement is part of
        # the hash
        "g_cube_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n,
                   CAST(2 * GROUPING(l_returnflag)
                        + GROUPING(l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY gid, returnflag, linestatus
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name ORDER BY revenue DESC, n_name ASC
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 4) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       CAST(year(l_shipdate) AS BIGINT) AS l_year,
                       l_extendedprice * (1 - l_discount) AS volume
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1999-01-01'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            ) shipping
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q12_priority_by_status": """
            SELECT o_orderstatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
            GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q13_order_count_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_custkey) c_orders
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "q14_promo_revenue": """
            SELECT round(100.0 * promo / total, 4) AS promo_revenue_pct
            FROM (
                SELECT round(sum(CASE WHEN p_type = 'PROMO'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0.0 END), 4) AS promo,
                       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
            )
        """,
        "q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN rev ON s_suppkey = l_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """,
        "q19_bracket_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q22_dormant_customers": """
            SELECT n_name, count(*) AS numcust,
                   round(sum(c_acctbal), 4) AS totacctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4)
                               FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= '2000-07-01')
            GROUP BY n_name ORDER BY n_name
        """,
        "q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
            FROM orders
            JOIN (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 180) big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q17_small_quantity_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
              AND l_quantity < (
                  SELECT CAST(0.2 AS DOUBLE) * avg(l_quantity)
                  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
        """,
        "q20_promo_volume_suppliers": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'PROMO'
                  AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 45)
            ORDER BY s_suppkey
        """,
        "q21_lone_returning_supplier": """
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE l1.l_returnflag = 'R'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 20
        """,
        "q2_min_price_supplier": """
            WITH per_ps AS (
                SELECT l_partkey, l_suppkey, min(l_extendedprice) AS price
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_size = 10 GROUP BY l_partkey, l_suppkey)
            SELECT s_acctbal, s_name, l_partkey AS p_partkey,
                   round(price, 4) AS min_price
            FROM per_ps JOIN supplier ON s_suppkey = l_suppkey
            WHERE price = (SELECT min(p2.price) FROM per_ps p2
                           WHERE p2.l_partkey = per_ps.l_partkey)
            ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC LIMIT 10
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                                  ELSE CAST(0.0 AS DOUBLE) END) / sum(vol), 4)
                       AS mkt_share
            FROM (
                SELECT o_orderdate, n2.n_name AS supp_nation,
                       l_extendedprice * (1 - l_discount) AS vol
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region ON n1.n_regionkey = r_regionkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                WHERE r_name = 'ASIA')
            GROUP BY o_year ORDER BY o_year
        """,
        "q9_profit_by_nation_year": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity / 10.0), 4) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_type = 'STANDARD'
            GROUP BY n_name, o_year ORDER BY nation ASC, o_year DESC
        """,
        "q11_revenue_concentration": """
            SELECT l_partkey AS p_partkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS value
            FROM lineitem
            GROUP BY l_partkey
            HAVING round(sum(l_extendedprice * (1 - l_discount)), 4) > (
                SELECT sum(l_extendedprice * (1 - l_discount)) * 1.5
                       / count(DISTINCT l_partkey)
                FROM lineitem)
            ORDER BY value DESC, p_partkey ASC
        """,
        "q16_supplier_diversity": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
            LIMIT 20
        """,
        "x_accession_lookup": f"""
            WITH subs AS (SELECT * FROM {subs_cte}),
                 reqs AS (SELECT * FROM {req_cte})
            SELECT r.cik, r.form,
                   strftime(r.report_date, '%Y-%m-%d') AS report_date,
                   s.accession
            FROM reqs r
            LEFT JOIN subs s
              ON r.cik = s.cik
             AND regexp_replace(r.form, '/A$', '') = regexp_replace(s.form, '/A$', '')
             AND r.report_date = s.report_date
            ORDER BY r.cik, r.report_date, r.form
        """,
        "x_statement_facts": f"""
            WITH facts AS (SELECT * FROM {facts_cte}),
            base AS (
                SELECT *, CASE unit WHEN 'USD' THEN 1 WHEN 'USD/shares' THEN 2
                                    WHEN 'shares' THEN 3 WHEN 'pure' THEN 4 END AS unit_rank
                FROM facts WHERE segment IS NULL
            ), best AS (
                SELECT * FROM (
                    SELECT *, min(unit_rank) OVER (PARTITION BY cik, concept) AS br
                    FROM base) WHERE unit_rank = br
            ), per_end AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept, end_date
                        ORDER BY (end_date - start_date) DESC, start_date ASC, val DESC) AS rn
                    FROM best) WHERE rn = 1
            ), recent AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept ORDER BY end_date DESC) AS recency
                    FROM per_end) WHERE recency <= 4
            )
            SELECT cik, concept,
                   strftime(end_date, '%Y-%m-%d') AS end_date,
                   strftime(start_date, '%Y-%m-%d') AS start_date,
                   unit, val
            FROM recent ORDER BY cik, concept, end_date DESC
        """,
        "x_cross_validate": f"""
            WITH facts AS (SELECT * FROM {facts_cte}),
            xv AS (
                SELECT cik, concept, val AS xbrl_val FROM facts
                WHERE unit = 'USD' AND segment IS NULL
                  AND end_date = DATE '2024-12-31' AND start_date = DATE '2024-10-01'
            ), pdfv AS (SELECT * FROM {pdfv_cte}),
            j AS (
                SELECT p.pdf_val, x.xbrl_val
                FROM pdfv p FULL OUTER JOIN xv x
                  ON p.cik = x.cik AND p.concept = x.concept
            )
            SELECT severity, count(*) AS n FROM (
                SELECT CASE
                    WHEN pdf_val IS NULL THEN 'xbrl_only'
                    WHEN xbrl_val IS NULL THEN 'pdf_only'
                    WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.01 THEN 'match'
                    WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.05 THEN 'minor'
                    ELSE 'major' END AS severity
                FROM j)
            GROUP BY severity ORDER BY severity
        """,
        # cohort retention: the same floor-epoch week rule as w4, distinct
        # (user, week) activity, min-week cohorts, bp over the offset-0 row
        "w7_cohort_retention": f"""
            WITH act AS (
                SELECT DISTINCT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) // {R.WEEK_S} AS week
                FROM events
            ), firsts AS (
                SELECT user_id, min(week) AS cohort_week
                FROM act GROUP BY user_id
            ), cells AS (
                SELECT f.cohort_week,
                       a.week - f.cohort_week AS week_offset,
                       CAST(count(*) AS BIGINT) AS n_active
                FROM act a JOIN firsts f USING (user_id)
                GROUP BY 1, 2
            ), size AS (
                SELECT cohort_week, n_active AS cohort_size
                FROM cells WHERE week_offset = 0
            )
            SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
                   CAST((10000 * c.n_active) // s.cohort_size AS BIGINT)
                       AS retained_bp
            FROM cells c JOIN size s USING (cohort_week)
            ORDER BY c.cohort_week, c.week_offset
        """,
        # Zipf audit: identical freq table + floor-log2 bucket, integer-bp
        # token shares over the corpus total
        "t_zipf_buckets": f"""
            WITH toks AS (
                SELECT unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                FROM documents
            ), freq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks GROUP BY term
            ), b AS (
                SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_count, c
                FROM freq
            ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM b)
            SELECT log2_count,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(min(c) AS BIGINT) AS min_count,
                   CAST(max(c) AS BIGINT) AS max_count,
                   CAST((10000 * sum(c)) // n_total AS BIGINT)
                       AS token_share_bp
            FROM b CROSS JOIN tot
            GROUP BY log2_count, n_total ORDER BY log2_count
        """,
        "t_token_count": f"""
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured
            FROM documents ORDER BY doc_id
        """,
        # Heaps-law growth: prefix i = docs with doc_id*K < i*N (pure
        # integer rule, N = max+1); per-term min(doc_id) bucketed into the
        # K-row ladder, cumulative sums over the ladder only
        "t_vocab_growth": f"""
            WITH n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
            ladder AS (SELECT CAST(unnest(range(1, {TS.VG_CHECKPOINTS} + 1)) AS INT) AS ckpt),
            pd AS (
                SELECT (doc_id * {TS.VG_CHECKPOINTS}) // nn + 1 AS b,
                       count(*) AS nd, sum(len({_TOKS})) AS nt
                FROM documents, n GROUP BY 1
            ),
            fs AS (
                SELECT term, min(doc_id) AS fsd FROM (
                    SELECT doc_id,
                           unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                    FROM documents)
                GROUP BY term
            ),
            vb AS (
                SELECT (fsd * {TS.VG_CHECKPOINTS}) // nn + 1 AS b,
                       count(*) AS nv
                FROM fs, n GROUP BY 1
            )
            SELECT ckpt,
                   CAST(sum(coalesce(nd, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS n_docs,
                   CAST(sum(coalesce(nt, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS n_tokens,
                   CAST(sum(coalesce(nv, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS vocab
            FROM ladder
            LEFT JOIN pd ON pd.b = ladder.ckpt
            LEFT JOIN vb ON vb.b = ladder.ckpt
            ORDER BY ckpt
        """,
        "t_lang_id": f"""
            SELECT doc_id,
                   {_hits(_EN)} AS en_hits,
                   {_hits(_ES)} AS es_hits,
                   {_hits(_FR)} AS fr_hits,
                   {_hits(_DE)} AS de_hits,
                   {_PRED_LANG_CASE} AS predicted_lang
            FROM documents ORDER BY doc_id
        """,
        # script distribution: identical literal-range patterns (shared
        # SCRIPT_RANGES constants) over the same injected samples; the
        # dominant-script CASE mirrors the Spark comparisons exactly
        "t_script_stats": f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 5
                    WHEN 1 THEN text || ' {TS.SCRIPT_SAMPLES["cyrillic"]}'
                    WHEN 2 THEN text || ' {TS.SCRIPT_SAMPLES["arabic"]}'
                    WHEN 3 THEN text || ' {TS.SCRIPT_SAMPLES["cjk"]}'
                    WHEN 4 THEN text || ' {TS.SCRIPT_SAMPLES["hangul"]}'
                    ELSE text END AS t
                FROM documents
            ), c AS (
                SELECT doc_id,
                    CAST(len(regexp_extract_all(t, '{TS.SCRIPT_RANGES["latin"]}')) AS BIGINT) AS la,
                    CAST(len(regexp_extract_all(t, '{TS.SCRIPT_RANGES["cyrillic"]}')) AS BIGINT) AS cy,
                    CAST(len(regexp_extract_all(t, '{TS.SCRIPT_RANGES["arabic"]}')) AS BIGINT) AS ar,
                    CAST(len(regexp_extract_all(t, '{TS.SCRIPT_RANGES["cjk"]}')) AS BIGINT) AS cj,
                    CAST(len(regexp_extract_all(t, '{TS.SCRIPT_RANGES["hangul"]}')) AS BIGINT) AS ha
                FROM inj
            )
            SELECT doc_id, la AS latin_chars, cy AS cyrillic_chars,
                   ar AS arabic_chars, cj AS cjk_chars, ha AS hangul_chars,
                   CASE
                     WHEN cy > la AND cy >= ar AND cy >= cj AND cy >= ha THEN 'cyrillic'
                     WHEN ar > la AND ar > cy AND ar >= cj AND ar >= ha THEN 'arabic'
                     WHEN cj > la AND cj > cy AND cj > ar AND cj >= ha THEN 'cjk'
                     WHEN ha > la AND ha > cy AND ha > ar AND ha > cj THEN 'hangul'
                     ELSE 'latin' END AS dominant_script
            FROM c ORDER BY doc_id
        """,
        # unigram-LM surprisal: Laplace-smoothed integer quotient, bits =
        # length(bin(q)) - 1 (bin() exists in both engines, so the floored
        # log2 is byte-identical), terciles via the quality_tiers value
        # histogram; // is DuckDB's floor-div twin of Spark's div (all
        # terms positive)
        "t_surprisal": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                FROM documents
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {TS.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), model AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_model,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM ucnt
            ), scored_tok AS (
                SELECT t.doc_id,
                       CAST(length(bin(greatest(
                           (m.n_model + m.v_model) // (coalesce(u.c, 0) + 1),
                           1))) - 1 AS BIGINT) AS b,
                       CASE WHEN u.c IS NULL THEN 1 ELSE 0 END AS oov
                FROM toks t
                LEFT JOIN ucnt u USING (term)
                CROSS JOIN model m
            ), per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_toks,
                       CAST(sum(oov) AS BIGINT) AS n_oov,
                       CAST(sum(b) AS BIGINT) AS bits_sum
                FROM scored_tok GROUP BY doc_id
            ), sc AS (
                SELECT doc_id, n_toks, n_oov, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({TS.SURPRISAL_TIERS} - 1,
                             CAST(({TS.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_oov, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """,
        # NB classifier: both class LMs re-derived from the seed-slice
        # formulas (every constant interpolated from the module), same
        # shared-vocab Laplace floor-log2 bits, same >=0 keep rule
        "t_nb_classifier": f"""
            WITH {_nb_cte}
            SELECT doc_id, n_toks, n_oov, bits_pos, bits_neg, margin, label
            FROM nbout ORDER BY doc_id
        """,
        # NB-vs-heuristic calibration: the classifier's label crossed with
        # the hard gate's verdict, counts + integer-bp corpus shares
        "t_filter_agreement": f"""
            WITH {_gate_cte_for("documents")},
            {_nb_cte},
            cells AS (
                SELECT n.label, (g.reasons = '') AS passed,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM nbout n JOIN gated g USING (doc_id)
                GROUP BY 1, 2
            ), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cells)
            SELECT label AS nb_label, passed AS gate_passed, n_docs,
                   CAST((10000 * n_docs) // n_total AS BIGINT) AS share_bp
            FROM cells CROSS JOIN tot
            ORDER BY nb_label, gate_passed
        """,
        # bigram surprisal: same scoring table as the engine — seen bigram =
        # Laplace over the context row, miss = BACKOFF + unigram bits (the
        # coalesce(c,0)+1 form prices OOV at the same log2(N+V) constant),
        # first token = unigram; same _cb_tiers tercile chain
        "t_surprisal2": f"""
            WITH ta AS (
                SELECT doc_id, list_transform({_TOKS}, t -> lower(t)) AS t
                FROM documents
            ), toks AS (
                SELECT doc_id, unnest(t) AS term FROM ta
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {TS.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), model AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_model,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM ucnt
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> {{'p': t[i], 'w': t[i + 1]}})) AS pr
                FROM ta WHERE len(t) >= 2
            ), bcnt AS (
                SELECT pr.p AS p, pr.w AS w, CAST(count(*) AS BIGINT) AS c2
                FROM pairs WHERE doc_id % {TS.SURPRISAL_REF_MOD} = 0
                GROUP BY 1, 2
            ), bbits AS (
                SELECT b.p, b.w,
                       CAST(length(bin(greatest(
                           (u.c + m.v_model) // (b.c2 + 1), 1))) - 1
                            AS BIGINT) AS bbits
                FROM bcnt b JOIN ucnt u ON u.term = b.p CROSS JOIN model m
            ), scored AS (
                SELECT pa.doc_id,
                       CASE WHEN bb.bbits IS NOT NULL THEN 1 ELSE 0 END AS hit,
                       CASE WHEN bb.bbits IS NOT NULL THEN bb.bbits
                            ELSE {TS.BACKOFF_BITS}
                                 + CAST(length(bin(greatest(
                                     (m.n_model + m.v_model)
                                     // (coalesce(u.c, 0) + 1), 1))) - 1
                                        AS BIGINT)
                       END AS b
                FROM pairs pa
                LEFT JOIN bbits bb ON bb.p = pa.pr.p AND bb.w = pa.pr.w
                LEFT JOIN ucnt u ON u.term = pa.pr.w
                CROSS JOIN model m
            ), pair_doc AS (
                SELECT doc_id, CAST(sum(hit) AS BIGINT) AS hits,
                       CAST(sum(b) AS BIGINT) AS psum
                FROM scored GROUP BY doc_id
            ), firsts AS (
                SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_toks,
                       CAST(length(bin(greatest(
                           (m.n_model + m.v_model)
                           // (coalesce(u.c, 0) + 1), 1))) - 1
                            AS BIGINT) AS fb
                FROM ta a LEFT JOIN ucnt u ON u.term = a.t[1]
                CROSS JOIN model m
            ), per_doc AS (
                SELECT f.doc_id, f.n_toks,
                       CAST(coalesce(p.hits, 0) AS BIGINT) AS n_bigram_hits,
                       CAST(f.fb + coalesce(p.psum, 0) AS BIGINT) AS bits_sum
                FROM firsts f LEFT JOIN pair_doc p USING (doc_id)
            ), sc AS (
                SELECT doc_id, n_toks, n_bigram_hits, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({TS.SURPRISAL_TIERS} - 1,
                             CAST(({TS.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_bigram_hits, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """,
        # Flesch readability: same three regexp counts + milli formulas
        "t_readability": f"""
            WITH c AS (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_words,
                       CAST(greatest(len(regexp_extract_all(
                           lower(text), '[.!?]+')), 1) AS BIGINT)
                           AS n_sentences,
                       CAST(len(regexp_extract_all(
                           lower(text), '[aeiouy]+')) AS BIGINT)
                           AS n_syllables
                FROM documents
            ), m AS (
                SELECT doc_id, n_words, n_sentences, n_syllables,
                       CAST((390 * n_words) // n_sentences
                            + (11800 * n_syllables)
                              // greatest(n_words, 1) - 15590 AS BIGINT)
                           AS fk_grade_milli,
                       CAST(206835 - (1015 * n_words) // n_sentences
                            - (84600 * n_syllables)
                              // greatest(n_words, 1) AS BIGINT)
                           AS reading_ease_milli
                FROM c
            )
            SELECT *, CASE
                   {" ".join(
                       f"WHEN reading_ease_milli >= {fl} THEN '{nm}'"
                       for fl, nm in TS.READABILITY_BANDS)}
                   ELSE 'very_difficult' END AS band
            FROM m ORDER BY doc_id
        """,
        # TTR + MATTR: same sliding 25-token windows (DuckDB slices are
        # 1-based inclusive = Spark slice(i, win)), short docs fall back
        "t_lexical_diversity": f"""
            WITH ta AS (
                SELECT doc_id, list_transform({_TOKS}, t -> lower(t)) AS t
                FROM documents
            ), c AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
                       CASE WHEN len(t) >= {TS.MATTR_WIN} THEN
                           list_transform(
                               range(1, len(t) - {TS.MATTR_WIN} + 2),
                               i -> len(list_distinct(
                                   t[i:i + {TS.MATTR_WIN} - 1])))
                       END AS wins
                FROM ta
            )
            SELECT doc_id, n_tokens, n_types,
                   CAST((10000 * n_types) // greatest(n_tokens, 1)
                        AS BIGINT) AS ttr_bp,
                   CAST(coalesce(
                       (10000 * list_sum(wins))
                           // ({TS.MATTR_WIN} * len(wins)),
                       (10000 * n_types) // greatest(n_tokens, 1))
                        AS BIGINT) AS mattr_bp
            FROM c ORDER BY doc_id
        """,
        # interpolated Kneser-Ney bigram surprisal: continuation counts
        # (N1+ per context, N_cont per word, T bigram types) in quarters
        # (D=3/4); every branch mirrors the Spark when-chain verbatim
        "t_surprisal_kn": f"""
            WITH ta AS (
                SELECT doc_id, list_transform({_TOKS}, t -> lower(t)) AS t
                FROM documents
            ), toks AS (
                SELECT doc_id, unnest(t) AS term FROM ta
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {TS.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> {{'p': t[i], 'w': t[i + 1]}})) AS pr
                FROM ta WHERE len(t) >= 2
            ), bcnt AS (
                SELECT pr.p AS p, pr.w AS w, CAST(count(*) AS BIGINT) AS c2
                FROM pairs WHERE doc_id % {TS.SURPRISAL_REF_MOD} = 0
                GROUP BY 1, 2
            ), n1pt AS (
                SELECT p, CAST(count(*) AS BIGINT) AS n1p FROM bcnt GROUP BY p
            ), ncontt AS (
                SELECT w, CAST(count(*) AS BIGINT) AS ncont
                FROM bcnt GROUP BY w
            ), tdim AS (
                SELECT CAST(count(*) AS BIGINT) AS tt FROM bcnt
            ), kb AS (
                SELECT b.p, b.w,
                       CAST(length(bin(greatest(
                           (4 * u.c * m.tt) //
                           (greatest(4 * b.c2 - {TS.KN_DISC_NUM}, 0) * m.tt
                            + {TS.KN_DISC_NUM} * n.n1p * nc.ncont), 1)))
                            - 1 AS BIGINT) AS kbits
                FROM bcnt b
                JOIN ucnt u ON u.term = b.p
                JOIN n1pt n ON n.p = b.p
                JOIN ncontt nc ON nc.w = b.w
                CROSS JOIN tdim m
            ), scored AS (
                SELECT pa.doc_id,
                       CASE WHEN kb.kbits IS NOT NULL THEN 1 ELSE 0 END AS hit,
                       CASE WHEN kb.kbits IS NOT NULL THEN kb.kbits
                            WHEN u.c IS NOT NULL
                                 AND {TS.KN_DISC_NUM} * n.n1p
                                     * coalesce(nc.ncont, 0) > 0
                              THEN CAST(length(bin(greatest(
                                       (4 * u.c * m.tt) //
                                       ({TS.KN_DISC_NUM} * n.n1p * nc.ncont),
                                       1))) - 1 AS BIGINT)
                            WHEN u.c IS NOT NULL
                              THEN {TS.BACKOFF_BITS}
                                   + CAST(length(bin(m.tt + 1)) - 1 AS BIGINT)
                            ELSE {TS.BACKOFF_BITS}
                                 + CAST(length(bin(greatest(
                                     (m.tt + 1)
                                     // (coalesce(nc.ncont, 0) + 1), 1)))
                                        - 1 AS BIGINT)
                       END AS b
                FROM pairs pa
                LEFT JOIN kb ON kb.p = pa.pr.p AND kb.w = pa.pr.w
                LEFT JOIN ucnt u ON u.term = pa.pr.p
                LEFT JOIN n1pt n ON n.p = pa.pr.p
                LEFT JOIN ncontt nc ON nc.w = pa.pr.w
                CROSS JOIN tdim m
            ), pair_doc AS (
                SELECT doc_id, CAST(sum(hit) AS BIGINT) AS hits,
                       CAST(sum(b) AS BIGINT) AS psum
                FROM scored GROUP BY doc_id
            ), firsts AS (
                SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_toks,
                       CAST(length(bin(greatest(
                           (m.tt + 1) // (coalesce(nc.ncont, 0) + 1), 1)))
                            - 1 AS BIGINT) AS fb
                FROM ta a LEFT JOIN ncontt nc ON nc.w = a.t[1]
                CROSS JOIN tdim m
            ), per_doc AS (
                SELECT f.doc_id, f.n_toks,
                       CAST(coalesce(p.hits, 0) AS BIGINT) AS n_kn_hits,
                       CAST(f.fb + coalesce(p.psum, 0) AS BIGINT) AS bits_sum
                FROM firsts f LEFT JOIN pair_doc p USING (doc_id)
            ), sc AS (
                SELECT doc_id, n_toks, n_kn_hits, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({TS.SURPRISAL_TIERS} - 1,
                             CAST(({TS.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_kn_hits, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """,
        # declared-vs-detected confusion audit: same prediction CASE, one
        # groupBy onto the |langs|^2 dim
        "t_lang_mismatch": f"""
            WITH m AS (
                SELECT lang AS declared_lang,
                       {_PRED_LANG_CASE} AS predicted_lang
                FROM documents
            )
            SELECT declared_lang, predicted_lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   declared_lang <> predicted_lang AS mismatch
            FROM m GROUP BY declared_lang, predicted_lang
            ORDER BY declared_lang, predicted_lang
        """,
        "t_quality_score": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOKS}), 4) AS mean_word_len,
                   round({_hits(_EN)} / 10.0, 4) AS stopword_ratio,
                   {_quality_sql()} AS quality
            FROM documents ORDER BY doc_id
        """,
        # Gopher rules: same synthetic multi-line text as c_line_dedup;
        # every ratio compares as cross-multiplied integers and every
        # threshold/regex interpolates from the textstats constants
        # (anti-drift) — a rule-formula change that misses either engine
        # fails this hash
        "t_gopher_rules": f"""
            WITH multi AS (
                SELECT doc_id, array_to_string({_lines_sql}, chr(10)) AS tm,
                       {_lines_sql} AS ls
                FROM documents
            ), t AS (
                SELECT doc_id, tm, ls,
                       regexp_split_to_array(trim(tm), '\\s+') AS toks
                FROM multi
            ), c AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(len(ls) AS BIGINT) AS n_lines,
                       CAST(length(regexp_replace(tm, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
                       CAST(len(regexp_extract_all(tm, '{TS.GOPHER_SYMBOL_RE}')) AS BIGINT) AS n_symbols,
                       CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS BIGINT) AS n_bullet_lines,
                       CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS BIGINT) AS n_ellipsis_lines,
                       CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
                       CAST(len(list_intersect(list_transform(toks, x -> lower(x)), {list(TS.GOPHER_STOPWORDS)})) AS BIGINT) AS stop_hits
                FROM t
            )
            SELECT doc_id, n_words, n_lines, n_symbols, n_bullet_lines,
                   n_ellipsis_lines, n_alpha_words, stop_hits,
                   (n_words >= {TS.GOPHER_MIN_WORDS} AND n_words <= {TS.GOPHER_MAX_WORDS}) AS ok_word_count,
                   (word_chars >= {TS.GOPHER_MIN_MEAN_WORD_LEN} * n_words AND word_chars <= {TS.GOPHER_MAX_MEAN_WORD_LEN} * n_words) AS ok_mean_word_len,
                   (n_symbols * 10 <= n_words) AS ok_symbol_ratio,
                   (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullet_lines,
                   (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis_lines,
                   (n_alpha_words * 10 >= n_words * 8) AS ok_alpha_words,
                   (stop_hits >= {TS.GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
                   ((n_words >= {TS.GOPHER_MIN_WORDS} AND n_words <= {TS.GOPHER_MAX_WORDS})
                    AND (word_chars >= {TS.GOPHER_MIN_MEAN_WORD_LEN} * n_words AND word_chars <= {TS.GOPHER_MAX_MEAN_WORD_LEN} * n_words)
                    AND (n_symbols * 10 <= n_words)
                    AND (n_bullet_lines * 10 <= n_lines * 9)
                    AND (n_ellipsis_lines * 10 <= n_lines * 3)
                    AND (n_alpha_words * 10 >= n_words * 8)
                    AND (stop_hits >= {TS.GOPHER_MIN_STOP_HITS})) AS passes
            FROM c ORDER BY doc_id
        """,
        # C4 battery: synthetic rule-exercising lines (literal twin of
        # with_c4_lines), line-keep lambda + page verdicts re-derived with
        # every threshold/phrase interpolated from the textstats constants
        # (anti-drift); kept_md5 hashes the byte-exact surviving text
        "t_c4_rules": f"""
            WITH lsrc AS (
                SELECT doc_id, {_c4_lines_sql} AS ls,
                       array_to_string({_c4_lines_sql}, chr(10)) AS tm
                FROM documents
            ), k AS (
                SELECT doc_id, ls, tm,
                       list_filter(ls, l ->
                           ({" OR ".join(
                               "ends_with(rtrim(l), '%s')" % p
                               for p in TS.C4_TERMINAL_PUNCT)})
                           AND len(list_filter(
                                   regexp_split_to_array(trim(l), '\\s+'),
                                   x -> x <> '')) >= {TS.C4_MIN_LINE_WORDS}
                           AND NOT contains(lower(l), 'javascript')
                           {" ".join(
                               "AND NOT contains(lower(l), '%s')" % ph
                               for ph in TS.C4_POLICY_PHRASES)}
                       ) AS kept
                FROM lsrc
            ), c AS (
                SELECT doc_id,
                       CAST(len(ls) AS BIGINT) AS n_lines,
                       CAST(len(kept) AS BIGINT) AS n_kept,
                       coalesce(array_to_string(kept, chr(10)), '') AS kt,
                       tm,
                       regexp_split_to_array(trim(tm), '\\s+') AS toks
                FROM k
            ), v AS (
                SELECT doc_id, n_lines, n_kept,
                       CAST(len(regexp_extract_all(kt, '{TS.C4_SENTENCE_END_RE}')) AS BIGINT) AS n_sentences,
                       NOT contains(lower(tm), 'lorem ipsum') AS ok_lorem,
                       NOT contains(tm, '{{') AS ok_brace,
                       (len(list_intersect(list_transform(toks, x -> lower(x)),
                            {list(TS.C4_BAD_WORDS)})) = 0) AS ok_badword,
                       md5(kt) AS kept_md5
                FROM c
            )
            SELECT doc_id, n_lines, n_kept, n_sentences,
                   (n_sentences >= {TS.C4_MIN_SENTENCES}) AS ok_sentences,
                   ok_lorem, ok_brace, ok_badword,
                   ((n_sentences >= {TS.C4_MIN_SENTENCES})
                    AND ok_lorem AND ok_brace AND ok_badword) AS passes,
                   kept_md5
            FROM v ORDER BY doc_id
        """,
        # the pre-token regex and its three alternation legs interpolate
        # from textstats.BPE_PRETOKEN_RE (anti-drift)
        "t_token_count_bpe": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{TS.BPE_PRETOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
                   CAST(len(regexp_extract_all(text, '{TS.BPE_PRETOKEN_RE.split("|")[0]}')) AS BIGINT) AS n_word_runs,
                   CAST(len(regexp_extract_all(text, '{TS.BPE_PRETOKEN_RE.split("|")[1]}')) AS BIGINT) AS n_number_runs,
                   CAST(len(regexp_extract_all(text, '{TS.BPE_PRETOKEN_RE.split("|")[2]}')) AS BIGINT) AS n_symbol_runs
            FROM documents ORDER BY doc_id
        """,
        # release headline: the gate CTE, the quality fragment, and the
        # fingerprint/token counts composed under ONE hash — drift in any
        # summarized operator fails the headline
        "c_release_headline": f"""
            WITH {_gate_cte_for("documents")},
            q AS (
                SELECT doc_id,
                       CAST(round({_quality_sql()} * 10000) AS BIGINT) AS q_bp
                FROM documents
            ),
            base AS (
                SELECT d.doc_id, d.lang, md5(d.text) AS fp,
                       CAST(len({_TOKS}) AS BIGINT) AS n_toks,
                       (g.reasons = '') AS passed, q.q_bp
                FROM documents d
                JOIN gated g ON g.doc_id = d.doc_id
                JOIN q ON q.doc_id = d.doc_id
            ),
            agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
                       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                       CAST(sum(q_bp) AS BIGINT) AS q_sum
                FROM base
            )
            SELECT n_docs, n_tokens, n_distinct_texts,
                   CAST((10000 * (n_docs - n_distinct_texts)) // n_docs AS BIGINT) AS dup_bp,
                   CAST((10000 * n_pass) // n_docs AS BIGINT) AS gate_pass_bp,
                   n_langs,
                   CAST(q_sum // n_docs AS BIGINT) AS mean_quality_bp
            FROM agg
        """,
        "t_quality_gate": f"""
            WITH {_gate_cte_for("documents")}
            SELECT doc_id, (reasons = '') AS passed, reasons
            FROM gated ORDER BY doc_id
        """,
        # Gopher repetition family: duplicate line/paragraph (character)
        # fractions + top-2-gram coverage, all exact BIGINT counters and an
        # integer-cross-multiplied gate (thresholds in operators.textstats)
        "t_repetition": f"""
            WITH lb AS (
                SELECT doc_id, trim(b) AS block
                FROM documents, unnest(regexp_split_to_array(text, '\\n')) AS t(b)
                WHERE trim(b) <> ''
            ), lg AS (
                SELECT doc_id, block, count(*) AS cnt, length(block) AS blen
                FROM lb GROUP BY doc_id, block
            ), ls AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS n_lines,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_lines,
                       CAST(sum(cnt * blen) AS BIGINT) AS lines_chars,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * blen ELSE 0 END) AS BIGINT) AS dup_lines_chars
                FROM lg GROUP BY doc_id
            ), pb AS (
                SELECT doc_id, trim(b) AS block
                FROM documents, unnest(regexp_split_to_array(text, '\\n{{2,}}')) AS t(b)
                WHERE trim(b) <> ''
            ), pg AS (
                SELECT doc_id, block, count(*) AS cnt, length(block) AS blen
                FROM pb GROUP BY doc_id, block
            ), ps AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS n_paras,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_paras,
                       CAST(sum(cnt * blen) AS BIGINT) AS paras_chars,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * blen ELSE 0 END) AS BIGINT) AS dup_paras_chars
                FROM pg GROUP BY doc_id
            ), toks AS (
                SELECT doc_id, {_TOKS} AS t FROM documents
            ), grams AS (
                SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
                FROM toks, unnest(range(1, len(t))) AS r(i)
                WHERE len(t) >= 2
            ), gg AS (
                SELECT doc_id, gram, count(*) AS cnt
                FROM grams GROUP BY doc_id, gram
            ), top2 AS (
                SELECT doc_id,
                       CAST(cnt AS BIGINT) AS top2_count,
                       CAST(cnt * length(gram) AS BIGINT) AS top2_chars
                FROM gg
                QUALIFY row_number() OVER (
                    PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) = 1
            ), base AS (
                SELECT doc_id,
                       CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nws_chars
                FROM documents
            ), joined AS (
                SELECT base.doc_id,
                       COALESCE(n_lines, 0) AS n_lines,
                       COALESCE(n_dup_lines, 0) AS n_dup_lines,
                       COALESCE(dup_lines_chars, 0) AS dup_lines_chars,
                       COALESCE(lines_chars, 0) AS lines_chars,
                       COALESCE(n_paras, 0) AS n_paras,
                       COALESCE(n_dup_paras, 0) AS n_dup_paras,
                       COALESCE(dup_paras_chars, 0) AS dup_paras_chars,
                       COALESCE(paras_chars, 0) AS paras_chars,
                       COALESCE(top2_count, 0) AS top2_count,
                       COALESCE(top2_chars, 0) AS top2_chars,
                       nws_chars
                FROM base
                LEFT JOIN ls ON base.doc_id = ls.doc_id
                LEFT JOIN ps ON base.doc_id = ps.doc_id
                LEFT JOIN top2 ON base.doc_id = top2.doc_id
            )
            SELECT *, (n_dup_lines * 100 <= n_lines * {TS.REP_MAX_DUP_LINE_PCT}
                   AND dup_lines_chars * 100 <= lines_chars * {TS.REP_MAX_DUP_LINE_CHAR_PCT}
                   AND n_dup_paras * 100 <= n_paras * {TS.REP_MAX_DUP_PARA_PCT}
                   AND dup_paras_chars * 100 <= paras_chars * {TS.REP_MAX_DUP_PARA_CHAR_PCT}
                   AND top2_chars * 100 <= nws_chars * {TS.REP_MAX_TOP2GRAM_CHAR_PCT}) AS rep_passed
            FROM joined ORDER BY doc_id
        """,
        # streaming near-dup feed held to the batch twin: one-batch replay
        # elects the bucket's min doc_id as keeper, so the feed is exactly
        # (bucket min) x (every later bucket member)
        # streaming GDPR deletes: survivors of the %7 request batch
        "st_gdpr_delete": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 7 <> 0 ORDER BY doc_id
        """,
        # streaming partitioned ingest: the full events table arrives over
        # two micro-batches + one replayed (skipped) batch; the pruned
        # scan's rollup equals the direct filter — a doubled batch 0
        # would double n_events/sum_ids and hash-mismatch
        "st_partitioned_ingest": """
            SELECT strftime(ts, '%Y-%m-%d') AS ds,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM events
            WHERE ts > TIMESTAMP '2024-01-20 12:00:00'
              AND event_type = 'click'
            GROUP BY ds ORDER BY ds
        """,
        # streaming incremental MV: the view equals a direct aggregation
        # of the final upserted state — every 7th doc's lang uppercased
        # by the update batch (group moves: a missed -1 leaves the old
        # group overcounted and the hash mismatches)
        "st_incremental_mv": """
            SELECT CASE WHEN doc_id % 7 = 0 THEN upper(lang) ELSE lang END
                       AS lang,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        # gated streaming ingest: only the two clean micro-batches
        # (doc_id%3 in (0,2)) reach main — the poisoned %3==1 batch is
        # audited on its staged view and aborted whole; a leaked 'zz'
        # row, dropped clean batch, or doubled replay all mismatch
        "st_gated_ingest": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE doc_id % 3 <> 1
            GROUP BY lang ORDER BY lang
        """,
        # rate limiter: the recurrence's closed form as one cumulative
        # window max per host — no recursion, pure SQL
        "st_rate_limit": f"""
            WITH {_url_cte},
{_rules_cte},
            arr AS (
                SELECT c.doc_id, c.host,
                       CAST((c.doc_id * 137) % {__import__("pdf_parser_spark.streaming.ratelimit", fromlist=["x"]).ARRIVAL_MOD} AS BIGINT)
                           AS arrival_ms,
                       CAST(r.crawl_delay_ms AS BIGINT) AS delay_ms
                FROM canon c JOIN rules r USING (host)
            ),
            rk AS (
                SELECT *, row_number() OVER (PARTITION BY host
                              ORDER BY arrival_ms, doc_id) AS n
                FROM arr
            ),
            em AS (
                SELECT *, delay_ms * n
                          + max(arrival_ms - delay_ms * n)
                            OVER (PARTITION BY host ORDER BY n
                                  ROWS UNBOUNDED PRECEDING) AS emit_ms
                FROM rk
            )
            SELECT doc_id, host, arrival_ms,
                   CAST(emit_ms AS BIGINT) AS emit_ms,
                   CAST(emit_ms - arrival_ms AS BIGINT) AS wait_ms
            FROM em ORDER BY doc_id
        """,
        "st_neardup": bands_cte + """
            , k AS (
                SELECT band, bucket, min(doc_id) AS keeper
                FROM banded GROUP BY band, bucket
            )
            SELECT CAST(b.band AS BIGINT) AS band, b.bucket,
                   CAST(k.keeper AS BIGINT) AS keeper_doc_id, b.doc_id
            FROM banded b JOIN k
              ON b.band = k.band AND b.bucket = k.bucket
            WHERE b.doc_id <> k.keeper
            ORDER BY b.band, b.bucket, b.doc_id
        """,
        # bounded-state variant: one-batch replay == exact distinct
        "st_dedup_watermark": """
            SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY fp
        """,
        # streaming exact dedup held to the batch DISTINCT oracle: the
        # surviving state keys must be exactly the distinct fingerprints
        "st_dedup": """
            SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY fp
        """,
        "t_fingerprint": """
            SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id
        """,
        # BPE merges: the K argmax/merge stages unrolled; rank, the merged
        # pair, and its weighted count must all match
        "t_bpe_merges": _bpe_cte + " ".join(
            ("SELECT CAST(%d AS BIGINT) AS rank, l AS \"left\", "
             "r AS \"right\", CAST(cnt AS BIGINT) AS pair_count FROM b%d"
             % (_k, _k))
            + (" UNION ALL" if _k < TS.BPE_MERGES else " ORDER BY rank")
            for _k in range(1, TS.BPE_MERGES + 1)
        ),
        # apply face: train's b{k} selections drive a word-carrying twin
        # chain; per-doc symbol counts via the vocab map join
        "t_bpe_apply": _bpe_apply_sql,
        # the production driver-local fit/apply must land on the SAME
        # artifacts as the distributed fold (cap covers the demo vocab),
        # so they share the distributed faces' oracles verbatim
        "t_bpe_merges_localfit": _bpe_cte + " ".join(
            ("SELECT CAST(%d AS BIGINT) AS rank, l AS \"left\", "
             "r AS \"right\", CAST(cnt AS BIGINT) AS pair_count FROM b%d"
             % (_k, _k))
            + (" UNION ALL" if _k < TS.BPE_MERGES else " ORDER BY rank")
            for _k in range(1, TS.BPE_MERGES + 1)
        ),
        "t_bpe_apply_localfit": _bpe_apply_sql,
        # capped inverted index: tf per (term, doc), df filter, per-term
        # top-k postings with the (tf desc, doc asc) tie-break, postings
        # string re-built in rank order
        "t_inverted_index": f"""
            WITH tf AS (
                SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(
                               regexp_split_to_array(trim(text), '\\s+'),
                               w -> w <> '')) AS term
                    FROM documents
                ) GROUP BY term, doc_id
            ), ranked AS (
                SELECT term, doc_id, tf,
                       count(*) OVER (PARTITION BY term) AS dfreq,
                       row_number() OVER (PARTITION BY term
                                          ORDER BY tf DESC, doc_id ASC) AS rn
                FROM tf
            )
            SELECT term, CAST(dfreq AS BIGINT) AS dfreq,
                   string_agg(doc_id || ':' || tf, '|' ORDER BY rn)
                       AS postings
            FROM ranked
            WHERE dfreq >= {TS.INDEX_MIN_DF} AND rn <= {TS.INDEX_POSTINGS_K}
            GROUP BY term, dfreq ORDER BY term
        """,
        # exact per-source length quantiles: identical rank arithmetic
        # (ceil via (p*n+99)//100 — non-negative, so DuckDB floor division
        # and Spark truncating div agree)
        "t_length_quantiles": f"""
            WITH toks AS (
                SELECT doc_id, source,
                       CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                            AS BIGINT) AS v
                FROM documents
            ), ranked AS (
                SELECT source, v,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY v, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS n_docs
                FROM toks
            )
            SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
                   {", ".join(
                       f"CAST(max(CASE WHEN rn = ({p} * n_docs + 99) // 100 "
                       f"THEN v END) AS BIGINT) AS p{p}"
                       for p in TS.QUANTILE_PCTS
                   )}
            FROM ranked GROUP BY source ORDER BY source
        """,
        # band-verdict face of the GK quantiles: exact quantiles + asserted
        # per-percentile in-envelope booleans (the sketch values stay
        # engine-side; a GK estimate outside its exact-neighbor envelope
        # flips a boolean and hash-mismatches; r3 verdict item 3)
        "t_length_quantiles_approx": f"""
            WITH toks AS (
                SELECT doc_id, source,
                       CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                            AS BIGINT) AS v
                FROM documents
            ), ranked AS (
                SELECT source, v,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY v, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS n_docs
                FROM toks
            )
            SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
                   {", ".join(
                       f"CAST(max(CASE WHEN rn = ({p} * n_docs + 99) // 100 "
                       f"THEN v END) AS BIGINT) AS p{p}"
                       for p in TS.QUANTILE_PCTS
                   )},
                   TRUE AS p25_in, TRUE AS p50_in, TRUE AS p75_in,
                   TRUE AS p90_in, TRUE AS p99_in, TRUE AS monotone
            FROM ranked GROUP BY source ORDER BY source
        """,
        # snapshot token-distribution drift: membership/revision formulas
        # interpolated from operators/snapshot.py, bucket/scale/top-k from
        # textstats — integer shares per side, top movers by |delta|
        "t_token_drift": f"""
            WITH old_docs AS (
                SELECT text FROM documents WHERE doc_id % {SN.OLD_MOD} = 0
            ), new_docs AS (
                SELECT CASE WHEN doc_id % {SN.REV_MOD} = 0
                            THEN text || ' [rev]' ELSE text END AS text
                FROM documents WHERE doc_id % {SN.NEW_MOD} <> {SN.NEW_MOD - 1}
            ), toks AS (
                SELECT 'old' AS side, unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))
                    AS w FROM old_docs
                UNION ALL
                SELECT 'new', unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))
                FROM new_docs
            ), dim AS (
                SELECT {_H32.format(x='w')} % {TS.DRIFT_BUCKETS} AS bucket,
                       sum(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS old_n,
                       sum(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS new_n
                FROM toks GROUP BY 1
            ), shares AS (
                SELECT bucket, old_n, new_n,
                       (old_n * {TS.DRIFT_SCALE}) // sum(old_n) OVER () AS old_bp,
                       (new_n * {TS.DRIFT_SCALE}) // sum(new_n) OVER () AS new_bp
                FROM dim
            ), ranked AS (
                SELECT bucket, old_n, new_n, old_bp, new_bp,
                       new_bp - old_bp AS delta_bp,
                       row_number() OVER (ORDER BY abs(new_bp - old_bp) DESC,
                                          bucket ASC) AS mover_rank
                FROM shares
            )
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(old_n AS BIGINT) AS old_n,
                   CAST(new_n AS BIGINT) AS new_n,
                   CAST(old_bp AS BIGINT) AS old_bp,
                   CAST(new_bp AS BIGINT) AS new_bp,
                   CAST(delta_bp AS BIGINT) AS delta_bp
            FROM ranked WHERE mover_rank <= {TS.DRIFT_TOP_K}
            ORDER BY abs(delta_bp) DESC, bucket
        """,
        "t_winnow_fp": f"""
            WITH sh AS (
                SELECT doc_id, {_SHINGLES} AS shingles FROM documents
            ), pos AS (
                SELECT doc_id,
                       unnest(shingles) AS s,
                       generate_subscripts(shingles, 1) AS pos,
                       len(shingles) AS n_sh
                FROM sh
            ), hashed AS (
                SELECT doc_id, pos, n_sh, {_H32.format(x='s')} AS h FROM pos
            ), wmin AS (
                SELECT doc_id, pos, n_sh,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM hashed
            )
            SELECT DISTINCT doc_id, fp FROM wmin
            WHERE pos <= greatest(n_sh - 3, 1)
            ORDER BY doc_id, fp
        """,
        "d_exact": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY fp ORDER BY keep_doc_id
        """,
        # cross-snapshot dedup curve: same normalized-md5 fingerprint as
        # d_exact with the crawl key riding the one groupBy; the
        # new/within/prior partition rule mirrored verbatim
        "d_dup_trend": f"""
            WITH fpc AS (
                SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                           AS fp,
                       CAST(doc_id % {D.DUP_TREND_CRAWLS} AS BIGINT)
                           AS crawl,
                       count(*) AS cnt
                FROM documents GROUP BY fp, crawl
            ),
            first AS (SELECT fp, min(crawl) AS min_crawl FROM fpc GROUP BY fp),
            per AS (
                SELECT f.crawl,
                       sum(f.cnt) AS n_docs,
                       sum(CASE WHEN f.crawl = x.min_crawl THEN 1
                                ELSE 0 END) AS n_new,
                       sum(CASE WHEN f.crawl = x.min_crawl THEN f.cnt - 1
                                ELSE 0 END) AS n_dup_within,
                       sum(CASE WHEN f.crawl > x.min_crawl THEN f.cnt
                                ELSE 0 END) AS n_dup_prior
                FROM fpc f JOIN first x USING (fp) GROUP BY f.crawl
            ),
            dim AS (SELECT unnest(range({D.DUP_TREND_CRAWLS})) AS crawl)
            SELECT CAST(dim.crawl AS BIGINT) AS crawl,
                   CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
                   CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
                   CAST(coalesce(n_dup_within, 0) AS BIGINT) AS n_dup_within,
                   CAST(coalesce(n_dup_prior, 0) AS BIGINT) AS n_dup_prior,
                   CAST(CASE WHEN coalesce(n_docs, 0) = 0 THEN 0
                             ELSE (10000 * n_dup_within) // n_docs END
                        AS BIGINT) AS dup_within_bp,
                   CAST(CASE WHEN coalesce(n_docs, 0) = 0 THEN 0
                             ELSE (10000 * n_dup_prior) // n_docs END
                        AS BIGINT) AS dup_prior_bp
            FROM dim LEFT JOIN per ON per.crawl = dim.crawl
            ORDER BY crawl
        """,
        # banded candidate generation (the r3 default: same bands_cte as the
        # LSH query) + exact Jaccard verify — the oracle mirrors the
        # candidate sketch exactly, so both engines see the same pair set
        "d_ngram_jaccard": bands_cte + """
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            )
            SELECT c.doc_a, c.doc_b,
                   round(len(list_intersect(sa.shingles, sb.shingles)) /
                         len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
            FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                        JOIN sh sb ON sb.doc_id = c.doc_b
            WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
                        len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= 0.2
            ORDER BY doc_a, doc_b
        """,
        "d_threshold_sweep": bands_cte + f"""
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            ),
            pj AS (
                SELECT c.doc_a, c.doc_b,
                       (10000 * len(list_intersect(sa.shingles, sb.shingles)))
                       // len(list_distinct(
                              list_concat(sa.shingles, sb.shingles))) AS jac_bp
                FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                            JOIN sh sb ON sb.doc_id = c.doc_b
                WHERE len(list_distinct(
                          list_concat(sa.shingles, sb.shingles))) > 0
            ),
            grid AS (SELECT unnest([{", ".join(str(t) for t in
                                               D.JACCARD_SWEEP_GRID_BP)}])
                         AS threshold_bp),
            q AS (SELECT g.threshold_bp, p.doc_a, p.doc_b
                  FROM pj p JOIN grid g ON p.jac_bp >= g.threshold_bp),
            np AS (SELECT threshold_bp, count(*) AS n_pairs
                   FROM q GROUP BY threshold_bp),
            nd AS (SELECT threshold_bp, count(DISTINCT d) AS n_docs FROM (
                       SELECT threshold_bp, doc_a AS d FROM q
                       UNION ALL SELECT threshold_bp, doc_b FROM q)
                   GROUP BY threshold_bp)
            SELECT CAST(g.threshold_bp AS BIGINT) AS threshold_bp,
                   CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
            FROM grid g LEFT JOIN np USING (threshold_bp)
                        LEFT JOIN nd USING (threshold_bp)
            ORDER BY threshold_bp
        """,
        "d_minhash_sig": sigs_cte + """
            SELECT doc_id, k, sig[k + 1] AS minhash
            FROM sigs, (SELECT unnest(range(0, 8)) AS k)
            ORDER BY doc_id, k
        """,
        "d_minhash_lsh": bands_cte + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
        """,
        # CDC: the greedy walk is a recursive CTE whose next cut is
        # least(n, prev+MAX, first candidate >= prev+MIN) — the exact twin
        # of the engine's per-doc loop; candidates from the same md5-window
        # condition
        "d_cdc_chunks": f"""
            WITH RECURSIVE d AS (
                SELECT doc_id, text, length(text) AS n FROM documents
                WHERE text IS NOT NULL AND length(text) > 0
            ),
            -- window hash = base-31 code-point polynomial (CDC_POW31):
            -- exact BIGINT on both engines, no modular wraparound needed
            cand AS (
                SELECT doc_id, unnest(list_filter(range({D.CDC_W}, n + 1),
                    i -> list_sum(list_transform(range(0, {D.CDC_W}),
                             j -> unicode(substr(text, i - {D.CDC_W} + 1 + j, 1))
                                  * [{", ".join(str(p) for p in D.CDC_POW31)}][j + 1]))
                         % {D.CDC_D} = 0)) AS pos
                FROM d
            ),
            walk(doc_id, idx, prev, cut) AS (
                SELECT doc_id, 0, 0,
                       least(n, {D.CDC_MAX},
                             coalesce((SELECT min(pos) FROM cand c
                                       WHERE c.doc_id = d.doc_id
                                         AND c.pos >= {D.CDC_MIN}),
                                      n + {D.CDC_MAX}))
                FROM d
                UNION ALL
                SELECT w.doc_id, w.idx + 1, w.cut,
                       least(d.n, w.cut + {D.CDC_MAX},
                             coalesce((SELECT min(pos) FROM cand c
                                       WHERE c.doc_id = w.doc_id
                                         AND c.pos >= w.cut + {D.CDC_MIN}),
                                      d.n + {D.CDC_MAX}))
                FROM walk w JOIN d ON d.doc_id = w.doc_id
                WHERE w.cut < d.n
            ),
            chunks AS (
                SELECT w.doc_id, w.idx, w.prev AS start,
                       w.cut - w.prev AS length,
                       md5(substr(d.text, w.prev + 1, w.cut - w.prev)) AS chunk_md5
                FROM walk w JOIN d ON d.doc_id = w.doc_id
            ),
            copies AS (
                SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies
                FROM chunks GROUP BY chunk_md5
            )
            SELECT c.doc_id, CAST(c.idx AS INT) AS chunk_idx,
                   CAST(c.start AS INT) AS start,
                   CAST(c.length AS INT) AS length,
                   c.chunk_md5, k.n_copies
            FROM chunks c JOIN copies k USING (chunk_md5)
            ORDER BY c.doc_id, chunk_idx
        """,
        # sketch-accuracy audit: sigs_cte carries both the signatures and
        # the sh shingle CTE, so estimate and exact verify share one
        # derivation; divisions are exact-integer bp
        "d_minhash_est": bands_cte + f"""
            , prs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b
            ), jj AS (
                SELECT p.doc_a, p.doc_b,
                       len(list_filter(range(1, {len(MINHASH_PARAMS)} + 1),
                           i -> sa.sig[i] = sb.sig[i])) AS agree,
                       len(list_intersect(ha.shingles, hb.shingles)) AS inter,
                       len(list_distinct(ha.shingles || hb.shingles)) AS un
                FROM prs p
                JOIN sigs sa ON sa.doc_id = p.doc_a
                JOIN sigs sb ON sb.doc_id = p.doc_b
                JOIN sh ha ON ha.doc_id = p.doc_a
                JOIN sh hb ON hb.doc_id = p.doc_b
            )
            SELECT doc_a, doc_b, CAST(agree AS BIGINT) AS agree_k,
                   CAST((10000 * agree) // {len(MINHASH_PARAMS)} AS BIGINT) AS est_bp,
                   CAST((10000 * inter) // un AS BIGINT) AS exact_bp,
                   CAST((10000 * agree) // {len(MINHASH_PARAMS)}
                        - (10000 * inter) // un AS BIGINT) AS err_bp
            FROM jj ORDER BY doc_a, doc_b
        """,
        # transitive closure of the LSH candidate graph: component = min
        # reachable doc_id (recursive CTE = the oracle for the iterative
        # min-label propagation the Spark side runs)
        # cross-source matrix: same banded pair rule, endpoints labeled by
        # source, unordered-pair fold + distinct touched docs
        "d_cross_source": bands_cte + """
            , prs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b
            ), lab AS (
                SELECT least(sa.source, sb.source) AS source_a,
                       greatest(sa.source, sb.source) AS source_b,
                       p.doc_a, p.doc_b
                FROM prs p
                JOIN documents sa ON sa.doc_id = p.doc_a
                JOIN documents sb ON sb.doc_id = p.doc_b
            ), np AS (
                SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM lab GROUP BY 1, 2
            ), dt AS (
                SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM (SELECT DISTINCT source_a, source_b, d FROM (
                      SELECT source_a, source_b, doc_a AS d FROM lab
                      UNION ALL
                      SELECT source_a, source_b, doc_b AS d FROM lab))
                GROUP BY 1, 2
            )
            SELECT np.source_a, np.source_b, np.n_pairs, dt.n_docs
            FROM np JOIN dt USING (source_a, source_b)
            ORDER BY source_a, source_b
        """,
        "d_components": "WITH RECURSIVE" + bands_cte.removeprefix("\n        WITH").rstrip() + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        )
        SELECT node AS doc_id, min(r) AS component,
               (node = min(r)) AS is_keeper
        FROM reach GROUP BY node ORDER BY doc_id
        """,
        # survivorship audit: the SAME reach closure rolled to the source
        # dim — members, keepers, drops, and cross-source losses
        "d_survivorship": "WITH RECURSIVE"
        + bands_cte.removeprefix("\n        WITH").rstrip() + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        ), lab AS (
            SELECT node AS doc_id, min(r) AS component,
                   (node = min(r)) AS is_keeper
            FROM reach GROUP BY node
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(CASE WHEN l.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keepers,
               CAST(sum(CASE WHEN l.is_keeper THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_dropped,
               CAST(sum(CASE WHEN NOT l.is_keeper AND d.source <> k.source
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cross_source_lost
        FROM lab l JOIN documents d ON d.doc_id = l.doc_id
                   JOIN documents k ON k.doc_id = l.component
        GROUP BY d.source ORDER BY d.source
        """,
        # quality-aware keeper: the d_components closure joined to the
        # SAME _quality_sql bp formula, argmax per component with the
        # (quality desc, doc_id asc) tie — row_number is the SQL twin of
        # the Spark struct-max
        "d_keeper_election": "WITH RECURSIVE"
        + bands_cte.removeprefix("\n        WITH").rstrip()
        + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        ), comp AS (
            SELECT node AS doc_id, min(r) AS component
            FROM reach GROUP BY node
        ), q AS (
            SELECT doc_id, CAST(round(("""
        + _quality_sql()
        + """) * 10000) AS BIGINT) AS quality_bp
            FROM documents
        ), rk AS (
            SELECT c.doc_id, c.component, q.quality_bp,
                   row_number() OVER (PARTITION BY c.component
                       ORDER BY q.quality_bp DESC, c.doc_id ASC) AS rn
            FROM comp c JOIN q USING (doc_id)
        )
        SELECT doc_id, component, quality_bp, rn = 1 AS is_keeper
        FROM rk ORDER BY doc_id
        """,
        "d_embedding_neardup": """
            WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
            FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
            ORDER BY vec_a, vec_b
        """,
        # semdedup: the SAME 4dp pair rule feeds a recursive-CTE closure,
        # centroid election re-derived from the quantization formula
        # (HUGEINT square where Spark uses DECIMAL(38))
        "d_semdedup": f"""
            WITH RECURSIVE emb AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
            ), prs AS (
                SELECT a.vec_id AS va, b.vec_id AS vb
                FROM emb a JOIN emb b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE round(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) *
                       sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
            ), edges AS (
                SELECT va AS a, vb AS b FROM prs
                UNION SELECT vb, va FROM prs
            ), reach(node, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
            ), comp AS (
                SELECT node AS vec_id, min(r) AS component
                FROM reach GROUP BY node
            ), qs AS (
                SELECT vec_id, label, pos,
                       CAST(round(vv * {D.SEMDEDUP_Q}) AS BIGINT) AS q
                FROM (SELECT vec_id, label, unnest(v) AS vv,
                             generate_subscripts(v, 1) AS pos
                      FROM emb)
            ), cent AS (
                SELECT label, pos, CAST(sum(q) AS BIGINT) AS c
                FROM qs GROUP BY label, pos
            ), pv AS (
                SELECT qs.vec_id, qs.label,
                       CAST(sum(qs.q * cent.c) AS BIGINT) AS dot,
                       CAST(sum(qs.q * qs.q) AS BIGINT) AS na2
                FROM qs JOIN cent
                  ON qs.label = cent.label AND qs.pos = cent.pos
                GROUP BY qs.vec_id, qs.label
            ), rk AS (
                SELECT vec_id, label,
                       (CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                       CAST((CAST(dot AS HUGEINT) * dot)
                            // greatest(na2, 1) AS BIGINT) AS cos_rank
                FROM pv
            ), fl AS (
                SELECT r.vec_id, r.label,
                       coalesce(c.component, r.vec_id) AS component,
                       r.cos_rank
                FROM rk r LEFT JOIN comp c ON c.vec_id = r.vec_id
            )
            SELECT vec_id, label, component, cos_rank,
                   row_number() OVER (PARTITION BY component
                       ORDER BY cos_rank ASC, vec_id ASC) = 1 AS kept
            FROM fl ORDER BY vec_id
        """,
        # MMR re-rank: the unrolled greedy twin over the same brute
        # candidates; every comparison happens on integer bp
        "s_mmr_rerank": f"""
            WITH {_mmr_cte}
            SELECT * FROM ({_mmr_final})
            ORDER BY query_id, mmr_rank
        """,
        "s_ann_brute": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, c.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
                FROM emb q CROSS JOIN emb c
                WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # SQ8: codes re-derived from the global [mn, mx] via the SAME
        # operation-ordered expressions; all sums are BIGINT folds and the
        # float arithmetic is one fixed-shape formula on both engines
        "s_ann_sq8": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            st AS (SELECT min(x) AS mn, max(x) AS mx,
                          (max(x) - min(x)) / 255 AS sc
                   FROM (SELECT unnest(v) AS x FROM emb)),
            enc AS (
                SELECT e.vec_id,
                       list_transform(e.v, x -> CAST(least(greatest(
                           floor((x - st.mn) * (255 / (st.mx - st.mn))),
                           0), 255) AS BIGINT)) AS codes
                FROM emb e CROSS JOIN st
            ),
            side AS (
                SELECT vec_id, codes,
                       CAST(list_sum(codes) AS BIGINT) AS s1,
                       CAST(list_sum(list_transform(codes, c -> c * c))
                            AS BIGINT) AS s2,
                       CAST(len(codes) AS BIGINT) AS d
                FROM enc
            ),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(
                         (st.mn * st.mn * c.d
                          + st.mn * st.sc * (q.s1 + c.s1)
                          + st.sc * st.sc
                            * CAST(list_dot_product(q.codes, c.codes) AS BIGINT))
                         /
                         (sqrt(st.mn * st.mn * c.d
                               + 2.0 * st.mn * st.sc * q.s1
                               + st.sc * st.sc * q.s2)
                          * sqrt(st.mn * st.mn * c.d
                                 + 2.0 * st.mn * st.sc * c.s1
                                 + st.sc * st.sc * c.s2)),
                         4) AS cos_sq8
                FROM side q CROSS JOIN side c CROSS JOIN st
                WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, cos_sq8, CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sq8 DESC, neighbor_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # dim audit: one ranked-set CTE per ladder step (same 4dp-round +
        # neighbor-asc tie as the brute oracle), semi-join overlap counts
        "s_dim_audit": _dim_audit_sql,
        "s_ann_ivf": _ivf_sql(cents_cte),
        # fit-on-sample IVF: Spark fits Lloyd on the md5-deterministic 25%
        # sample (similarity.KMEANS_SAMPLE_BP); the oracle probes from the
        # numpy sample-twin literals
        "s_ann_ivf_samplefit": _ivf_sql(sample_cents_cte),
        # IVFADC: frozen IVF centroids pick cells/probes, frozen PQ books
        # pick codes, ADC runs only inside probed cells — both stage twins
        # composed in one statement (either fit diverging mismatches)
        "s_ann_ivfpq": f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cents_cte}),
            books AS (SELECT * FROM {pq_books_cte}),
            cdists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists WHERE vec_id < 10) WHERE rn <= 2
            ), pdists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i] - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i] - b.cv[i]))) AS d2
                FROM emb e CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM pdists) WHERE rn = 1
            ), adc AS (
                SELECT pr.query_id, a.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM probes pr
                JOIN assign a ON a.cell = pr.probe AND a.vec_id != pr.query_id
                JOIN codes c ON c.vec_id = a.vec_id
                JOIN pdists d ON d.vec_id = pr.query_id
                               AND d.sub = c.sub AND d.cl = c.code
                GROUP BY pr.query_id, a.vec_id
            )
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # residual IVFADC (Jegou PAMI 2011 §IV-A): corpus codes = per-
        # (vector, subspace) argmin of the RESIDUAL slice (v - own-cell
        # centroid) over the frozen residual-codebook twins; the query-side
        # table is PER-PROBE — the query residual is (q - probe centroid),
        # so qd is keyed (query, probe, sub, cl).  Subtraction order matches
        # the Spark column expression: (v[i] - cent[i]) - book[i], left-assoc.
        "s_ann_ivfpq_residual": f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cents_cte}),
            books AS (SELECT * FROM {pq_res_books_cte}),
            cdists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists WHERE vec_id < 10) WHERE rn <= 2
            ), rdists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i]))) AS d2
                FROM emb e
                JOIN assign a ON a.vec_id = e.vec_id
                JOIN cents cn ON cn.cl = a.cell
                CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM rdists) WHERE rn = 1
            ), qd AS (
                SELECT pr.query_id, pr.probe, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i]))) AS d2
                FROM probes pr
                JOIN emb e ON e.vec_id = pr.query_id
                JOIN cents cn ON cn.cl = pr.probe
                CROSS JOIN books b
            ), adc AS (
                SELECT pr.query_id, a.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM probes pr
                JOIN assign a ON a.cell = pr.probe AND a.vec_id != pr.query_id
                JOIN codes c ON c.vec_id = a.vec_id
                JOIN qd d ON d.query_id = pr.query_id AND d.probe = pr.probe
                           AND d.sub = c.sub AND d.cl = c.code
                GROUP BY pr.query_id, a.vec_id
            )
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # PQ/ADC: codes = per-(vector, subspace) argmin over the frozen
        # codebook twins; the dists CTE doubles as the query-side distance
        # table, so the codes join IS the ADC lookup.  The Spark query fits
        # its own per-subspace Lloyd codebooks — a fit divergence in any
        # subspace mismatches here.
        "s_ann_pq": f"""
            WITH {_pq_adc_ctes}
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # ADC+R: shortlist PQ_RERANK by (adc_dist, neighbor_id), exact-cosine
        # re-rank — the same brute-force output shape, loss confined to
        # shortlist misses
        "s_ann_pq_rerank": f"""
            WITH {_pq_adc_ctes},
            shortlist AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
                    FROM adc)
                WHERE rn <= {similarity_PQ_RERANK}
            ), exact AS (
                SELECT s.query_id, s.neighbor_id,
                       round(list_dot_product(q.v, n.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cos_sim
                FROM shortlist s
                JOIN emb q ON q.vec_id = s.query_id
                JOIN emb n ON n.vec_id = s.neighbor_id
            )
            SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM exact)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        # Random-hyperplane LSH: the oracle RE-DERIVES the md5 planes in SQL
        # (no frozen literals), rebuilds the packed sign signature with the
        # same 6dp projection rounding, bands it, and re-ranks collided
        # pairs with exact cosine — byte-identical to similarity.lsh_topk
        "s_ann_lsh": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planes AS (
                SELECT p, j,
                       ('0x' || substr(md5('plane_' || p || '_' || j), 1, 8))::UBIGINT
                           / 2147483648.0 - 1.0 AS w
                FROM unnest(range(0, 48)) tp(p),
                     unnest(range(0, (SELECT len(v) FROM emb LIMIT 1))) tj(j)
            ), proj AS (
                SELECT e.vec_id, pl.p, round(sum(e.v[pl.j + 1] * pl.w), 6) AS pr
                FROM emb e CROSS JOIN planes pl
                GROUP BY e.vec_id, pl.p
            ), sig AS (
                SELECT vec_id,
                       CAST(sum(CASE WHEN pr > 0 THEN 1::BIGINT << p ELSE 0 END)
                            AS BIGINT) AS sig
                FROM proj GROUP BY vec_id
            ), bands AS (
                SELECT vec_id, b, (sig >> (4 * b)) & 15 AS bv
                FROM sig, unnest(range(0, 12)) tb(b)
            ), cand AS (
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM bands q JOIN bands c ON q.b = c.b AND q.bv = c.bv
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            ), scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qe.v, ce.v) /
                             (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cos_sim
                FROM cand
                JOIN emb qe ON qe.vec_id = query_id
                JOIN emb ce ON ce.vec_id = neighbor_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """,
        "m_binary_stats": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   md5(text) AS checksum
            FROM documents ORDER BY doc_id
        """,
        # mime sniff: the oracle re-derives both sides from the doc_id
        # formulas (generator kind = doc_id % 3, lie every MIME_LIE_MOD-th
        # doc) — a byte-offset bug in the Spark sniffer hash-mismatches
        "m_mime_sniff": f"""
            WITH m AS (
                SELECT doc_id, doc_id % 3 AS tk,
                       (doc_id % 3 + CASE WHEN doc_id % {MM.MIME_LIE_MOD} = 0
                                          THEN 1 ELSE 0 END) % 3 AS dk
                FROM documents
            )
            SELECT doc_id,
                   CASE dk WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS declared,
                   CASE tk WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS sniffed,
                   doc_id % {MM.MIME_LIE_MOD} = 0 AS mismatch
            FROM m ORDER BY doc_id
        """,
        # header-dims twin: the Spark side synthesizes REAL PNG/JPEG/GIF
        # bytes and walks them with JVM expressions; the oracle recomputes
        # the dims from the doc_id synthesis formulas (u_outlinks doctrine
        # — a drift in synthesis OR parser breaks the hash)
        "m_image_dims": f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0 THEN 'unknown'
                        WHEN doc_id % 3 = 0 THEN 'png'
                        WHEN doc_id % 3 = 1 THEN 'jpeg'
                        ELSE 'gif' END AS format,
                   CAST(CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0 THEN -1
                        ELSE 16 + doc_id % 117 END AS BIGINT) AS width,
                   CAST(CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0 THEN -1
                        ELSE 16 + (doc_id * 7) % 93 END AS BIGINT) AS height,
                   doc_id % {MM.IMG_CORRUPT_MOD} <> 0 AS ok
            FROM documents ORDER BY doc_id
        """,
        # display dims: stored dims from the synthesis formulas, swapped
        # when the %8-derived orientation lands in 5..8 (exif-less %3==2
        # docs keep stored dims; corrupt docs have none)
        "m_exif_display_dims": f"""
            WITH syn AS (
                SELECT doc_id,
                       doc_id % {MM.IMG_CORRUPT_MOD} = 0 AS corrupt,
                       16 + doc_id % 117 AS w,
                       16 + (doc_id * 7) % 93 AS h,
                       CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} <> 0
                                 AND doc_id % 3 <> 2
                            THEN 1 + doc_id % 8 ELSE 1 END AS ori
                FROM documents
            )
            SELECT doc_id,
                   CAST(CASE WHEN corrupt THEN -1
                        WHEN ori BETWEEN 5 AND 8 THEN h
                        ELSE w END AS BIGINT) AS width,
                   CAST(CASE WHEN corrupt THEN -1
                        WHEN ori BETWEEN 5 AND 8 THEN w
                        ELSE h END AS BIGINT) AS height,
                   ori BETWEEN 5 AND 8 AS rotated
            FROM syn ORDER BY doc_id
        """,
        # header-only EXIF parse: the oracle recomputes orientation/make/
        # byte order from the doc_id synthesis formulas, so an endianness
        # or offset bug in the TIFF walk mismatches; '' / -1 mirror the
        # not-applicable fills
        "m_exif_meta": f"""
            SELECT doc_id,
                   doc_id % {MM.IMG_CORRUPT_MOD} <> 0 AND doc_id % 3 <> 2
                       AS has_exif,
                   CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0
                             OR doc_id % 3 = 2 THEN ''
                        WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                       AS byte_order,
                   CAST(CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0
                                  OR doc_id % 3 = 2 THEN -1
                             ELSE 1 + doc_id % 8 END AS BIGINT)
                       AS orientation,
                   CASE WHEN doc_id % {MM.IMG_CORRUPT_MOD} = 0
                             OR doc_id % 3 = 2 THEN ''
                        ELSE 'Cam' || (doc_id % 5) END AS make
            FROM documents ORDER BY doc_id
        """,
        # PDF layout: the oracle re-derives the synthesized geometry from
        # doc_id arithmetic (page count, paragraph line counts, y ladder,
        # escaped-paren texts), so a Td accumulation bug, an escape slip,
        # a block-gap change, or an xref off-by-one all hash-mismatch;
        # corrupt docs (%13) contribute zero rows.  The CTE chain is
        # shared verbatim with p_pdf_text (assigned below), so the two
        # faces cannot drift.
        "p_pdf_layout": f"""
            WITH {_pdf_rows_cte}
            SELECT doc_id, CAST(page_no AS INTEGER) AS page_no,
                   CAST(block_id AS INTEGER) AS block_id, line_id,
                   CAST(font_tenths AS INTEGER) AS font_tenths,
                   y_tenths, is_heading, text
            FROM pdf_lines ORDER BY doc_id, page_no, block_id, line_id
        """,
        # ingest dispatcher: kind + per-family detail re-derived from the
        # synthesis arithmetic (pdf branch via make_pdf(doc_id // 4)'s
        # page rule — a wrong route or a broken extractor mismatches)
        "m_ingest_dispatch": f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {MM.DISPATCH_CORRUPT_MOD} = 0
                        THEN 'unknown'
                        WHEN doc_id % 4 = 0 THEN 'html'
                        WHEN doc_id % 4 = 1 THEN 'pdf'
                        WHEN doc_id % 4 = 2 THEN 'image'
                        ELSE 'audio' END AS kind,
                   CASE WHEN doc_id % {MM.DISPATCH_CORRUPT_MOD} = 0
                        THEN ''
                        WHEN doc_id % 4 = 0
                        THEN 'title=Doc ' || doc_id || ' of '
                             || (doc_id % 7)
                        WHEN doc_id % 4 = 1
                        THEN 'pages='
                             || (CASE WHEN (doc_id // 4) % 4 = 3
                                      THEN 1 ELSE 2 END)
                             || ';headings='
                             || (CASE WHEN (doc_id // 4) % 4 = 3
                                      THEN 1 ELSE 2 END)
                        WHEN doc_id % 4 = 2
                        THEN 'dims=' || (16 + doc_id % 117) || 'x'
                             || (16 + (doc_id * 7) % 93)
                        ELSE 'ch=' || (1 + doc_id % 2) || ';rate='
                             || (8000 + (doc_id % 3) * 4000) END AS detail
            FROM documents ORDER BY doc_id
        """,
        # pdf links: uris re-derived from the (doc_id+i)%10 formula over
        # k = 1 + d%3 annots; the %7==2 stratum is annotation-free
        "p_pdf_links": f"""
            SELECT doc_id, 0 AS page_no, CAST(i AS INTEGER) AS ord,
                   'https://site' || ((doc_id + i) % 10)
                       || '.example.com/docs/' || (doc_id * 10 + i)
                       AS uri
            FROM (
                SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS i
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
                  AND doc_id % 7 <> 2
            ) ORDER BY doc_id, page_no, ord
        """,
        # outline: chapters + parity children re-derived; ord is the
        # pre-order row_number, level is the child flag
        "p_pdf_outline": f"""
            WITH eligible AS (
                SELECT doc_id, 1 + doc_id % 3 AS nc FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
                  AND doc_id % 5 <> 2
            ), chap AS (
                SELECT doc_id, unnest(range(0, nc)) AS i FROM eligible
            ), items AS (
                SELECT doc_id, i, 0 AS is_child FROM chap
                UNION ALL
                SELECT doc_id, i, 1 FROM chap WHERE (doc_id + i) % 2 = 1
            )
            SELECT doc_id,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY i, is_child) - 1 AS INTEGER) AS ord,
                   CAST(is_child AS INTEGER) AS level,
                   CASE WHEN is_child = 1
                        THEN 'Section ' || i || '.0 of ' || doc_id
                        ELSE 'Chapter ' || i || ' of ' || doc_id END
                       AS title
            FROM items ORDER BY doc_id, ord
        """,
        # two-strategy observability: the fleet's flavor arithmetic IS
        # the strategy verdict — corrupt bytes parse to no pages (none),
        # the ruled flavor never needs the hint, everyone else reaches
        # cells only through the hint-gated text retry
        "p_pdf_table_strategy": f"""
            SELECT doc_id,
                   CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0
                        THEN 'none'
                        WHEN doc_id % {PL.RULED_MOD} = 2 THEN 'ruled'
                        ELSE 'text_retry' END AS strategy
            FROM documents ORDER BY doc_id
        """,
        # scanned audit: page counts and sparse counts re-derived from
        # the %6 fleet rule; corrupt docs land in the reject lane with
        # n_pages 0 (unparseable == image-only for routing); STRICT >
        # threshold, the reference's detect_scanned comparison — exactly
        # 80% sparse is accepted
        "p_pdf_scanned": f"""
            SELECT doc_id,
                   CAST(np AS BIGINT) AS n_pages,
                   CAST(sp AS BIGINT) AS n_sparse_pages,
                   CAST(CASE WHEN np = 0 THEN 10000
                        ELSE 10000 * sp // np END AS BIGINT) AS sparse_bp,
                   CASE WHEN np = 0 THEN true
                        ELSE 10000 * sp // np
                             > {PL.SCAN_THRESHOLD_BP} END AS scanned
            FROM (
                SELECT doc_id,
                       CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0 THEN 0
                            WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS np,
                       CASE WHEN doc_id % {PL.PDF_CORRUPT_MOD} = 0 THEN 0
                            WHEN doc_id % 6 = 1 THEN
                                 CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END
                            WHEN doc_id % 6 = 3 THEN
                                 CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END
                            ELSE 0 END AS sp
                FROM documents
            ) ORDER BY doc_id
        """,
        # table extraction: cell grid re-derived from the synthesis
        # arithmetic — wrong column ranking, a band not broken by the
        # prose line, or x/y drift all mismatch
        "p_pdf_tables": f"""
            WITH td AS (
                SELECT doc_id, 2 + doc_id % 3 AS r0,
                       2 + doc_id % 2 AS c0, 1 + doc_id % 2 AS r1
                FROM documents
                WHERE doc_id % {PL.PDF_CORRUPT_MOD} <> 0
            ), t0r AS (
                SELECT doc_id, c0, unnest(range(0, r0)) AS r FROM td
            ), t0 AS (
                SELECT doc_id, 0 AS table_id, r,
                       unnest(range(0, c0)) AS c
                FROM t0r
            ), t1r AS (
                SELECT doc_id, unnest(range(0, r1)) AS r FROM td
            ), t1 AS (
                SELECT doc_id, 1 AS table_id, r,
                       unnest(range(0, 2)) AS c
                FROM t1r
            ), cells AS (
                SELECT doc_id, table_id, r, c,
                       {PL.T0_Y * 10} - {PL.ROW_LEAD * 10} * r AS y,
                       'a' || r || '_' || c || '_' || doc_id AS text
                FROM t0
                UNION ALL
                SELECT doc_id, table_id, r, c,
                       {PL.T1_Y * 10} - {PL.ROW_LEAD * 10} * r AS y,
                       'b' || r || '_' || c || '_' || doc_id AS text
                FROM t1
            )
            SELECT doc_id, 0 AS page_no,
                   CAST(table_id AS INTEGER) AS table_id,
                   CAST(r AS INTEGER) AS row, CAST(c AS INTEGER) AS col,
                   CAST({PL.COL_X0 * 10} + {PL.COL_W * 10} * c
                        AS INTEGER) AS x_tenths,
                   CAST(y AS INTEGER) AS y_tenths, text
            FROM cells ORDER BY doc_id, page_no, table_id, row, col
        """,
        # reading-order text assembly over the same synthesized rows:
        # line -> block (\\n) -> page (blank line) -> document (\\f),
        # every join ordered explicitly
        "p_pdf_text": f"""
            WITH {_pdf_rows_cte},
            blocks AS (
                SELECT doc_id, page_no, block_id,
                       string_agg(text, chr(10) ORDER BY line_id)
                           AS block_text,
                       max(CASE WHEN is_heading THEN 1 ELSE 0 END)
                           AS is_heading
                FROM pdf_lines GROUP BY doc_id, page_no, block_id
            ), pages AS (
                SELECT doc_id, page_no,
                       string_agg(block_text, chr(10) || chr(10)
                                  ORDER BY block_id) AS page_text,
                       count(*) AS n_blocks,
                       sum(is_heading) AS n_headings
                FROM blocks GROUP BY doc_id, page_no
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(n_blocks) AS BIGINT) AS n_blocks,
                   CAST(sum(n_headings) AS BIGINT) AS n_headings,
                   string_agg(page_text, chr(12) ORDER BY page_no) AS text
            FROM pages GROUP BY doc_id ORDER BY doc_id
        """,
        # streaming extraction: the same frozen core-path tuples, no W1
        # window (the streaming stage is stateless per row)
        "st_extract": f"""
            SELECT url, status, report_type, n_pages, n_sections
            FROM {extract_cte} ORDER BY url
        """,
        # checkpoint/lineage/resume rollup: run r0 = even doc_ids, run r1
        # = the odd half the resume anti-join lets through; sums and url
        # ranges re-derived from the frozen fixture
        "p_run_lineage": f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            ids AS (
                SELECT *, CAST(regexp_extract(url, '/([0-9]+)$', 1)
                               AS BIGINT) AS doc_id
                FROM exp
            ), runs AS (
                SELECT 'r0' AS run_id, * FROM ids WHERE doc_id % 2 = 0
                UNION ALL
                SELECT 'r1', * FROM ids WHERE doc_id % 2 = 1
            )
            SELECT run_id,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN status = 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ok,
                   CAST(sum(CASE WHEN status <> 'ok' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_error,
                   min(url) AS url_min, max(url) AS url_max
            FROM runs GROUP BY run_id ORDER BY run_id
        """,
        # incremental re-extraction: added = in-new-not-old (odd doc_ids in
        # the %5!=4 snapshot), changed = both + the %11 revision — the
        # frozen tuples restricted to exactly that formula set
        "p_incremental_extract": f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            sel AS (
                SELECT 'doc://' || source || '/' || doc_id AS url
                FROM documents
                WHERE doc_id % 5 <> 4
                  AND (doc_id % 2 <> 0 OR doc_id % 11 = 0)
            )
            SELECT e.url, e.status, e.report_type, e.n_pages, e.n_sections
            FROM exp e JOIN sel USING (url) ORDER BY e.url
        """,
        # Flagship pipeline: per-doc tuples frozen from the CORE path
        # (tools/gen_expected.py); the SQL recomputes company_key + the W1
        # filing-sequence window — the distributed parts the core can't cover.
        "extract_pipeline": f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            keyed AS (
                SELECT *, CASE WHEN company <> '' THEN company
                               ELSE regexp_extract(url, '^[a-z]+://([^/]+)/', 1)
                          END AS company_key
                FROM exp)
            SELECT url, status, report_type, n_pages, n_sections,
                   CAST(row_number() OVER (
                        PARTITION BY company_key
                        ORDER BY period_end ASC, url ASC) AS BIGINT)
                       AS filing_sequence
            FROM keyed ORDER BY url
        """,
        # Structural-quality harness: per-(url, check) booleans frozen from
        # the core path; the SQL recomputes the fleet pass-rate roll-up.
        "qc_structural": f"""
            WITH checks AS (SELECT * FROM {qc_cte})
            SELECT chk AS "check",
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   round(avg(CAST(CASE WHEN passed THEN 1 ELSE 0 END AS DOUBLE)), 4)
                       AS pass_rate
            FROM checks GROUP BY chk ORDER BY chk
        """,
        # Fleet-wide V8: extraction-side (url, cik, canonical, pdf_val)
        # frozen from the core path; the SQL recomputes the concept-dim join,
        # the N6 latest-fact reduction, and the severity banding.
        "x_fleet_cross_validate": f"""
            WITH facts AS (SELECT * FROM {corpus_facts_cte}),
            base AS (
                SELECT *, CASE unit WHEN 'USD' THEN 1 WHEN 'USD/shares' THEN 2
                                    WHEN 'shares' THEN 3 WHEN 'pure' THEN 4 END AS unit_rank
                FROM facts WHERE segment IS NULL
            ), best AS (
                SELECT * FROM (
                    SELECT *, min(unit_rank) OVER (PARTITION BY cik, concept) AS br
                    FROM base) WHERE unit_rank = br
            ), per_end AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept, end_date
                        ORDER BY (end_date - start_date) DESC, start_date ASC, val DESC) AS rn
                    FROM best) WHERE rn = 1
            ), latest AS (
                SELECT cik, concept, val AS xbrl_val FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY cik, concept ORDER BY end_date DESC) AS recency
                    FROM per_end) WHERE recency = 1
            ), pdf AS (SELECT * FROM {fleet_pdf_cte}),
            dim AS (SELECT * FROM {concept_dim_cte}),
            j AS (
                SELECT p.url, p.cik, d.concept, p.pdf_val, l.xbrl_val
                FROM pdf p
                JOIN dim d ON p.canonical = d.canonical
                LEFT JOIN latest l ON l.cik = p.cik AND l.concept = d.concept
            )
            SELECT url, cik, concept, pdf_val, xbrl_val,
                   CASE WHEN xbrl_val IS NULL THEN 'pdf_only'
                        WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.01 THEN 'match'
                        WHEN abs(pdf_val - xbrl_val) / greatest(abs(xbrl_val), 1.0) <= 0.05 THEN 'minor'
                        ELSE 'major' END AS severity
            FROM j ORDER BY url, concept
        """,
        # SimHash: md5-per-token bit-majority, expressed relationally —
        # token md5s as UBIGINT, one row per (doc, bit) for the +-1 majority,
        # then the sign bits packed back to a signed BIGINT.  Empty docs
        # left-join back with simhash 0 (the kernel's no-token case).
        "d_simhash": r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents
            ), hashed AS (
                SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
                FROM toks WHERE tok <> ''
            ), bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                FROM hashed, (SELECT unnest(range(0, 64)) AS b)
                GROUP BY doc_id, b
            ), sims AS (
                SELECT doc_id,
                       sum(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT)
                                ELSE 0 END) AS u
                FROM bits GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
                             THEN coalesce(s.u, 0) - 18446744073709551616
                             ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
            FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id
            ORDER BY d.doc_id
        """,
        # SimHash near-pairs: 16-bit-prefix blocking (arithmetic >> 48, same
        # as Spark shiftright on longs) + exact hamming via bit_count(xor).
        "d_simhash_pairs": r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents
            ), hashed AS (
                SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
                FROM toks WHERE tok <> ''
            ), bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                FROM hashed, (SELECT unnest(range(0, 64)) AS b)
                GROUP BY doc_id, b
            ), sims0 AS (
                SELECT doc_id,
                       sum(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT)
                                ELSE 0 END) AS u
                FROM bits GROUP BY doc_id
            ), sims AS (
                SELECT d.doc_id,
                       CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
                                 THEN coalesce(s.u, 0) - 18446744073709551616
                                 ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
                FROM documents d LEFT JOIN sims0 s ON d.doc_id = s.doc_id
            ), blocked AS (
                SELECT doc_id, simhash, simhash >> 48 AS block FROM sims
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM blocked a JOIN blocked b
              ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
            ORDER BY doc_a, doc_b
        """,
        # media decode: the Spark side PARSES real BMP/WAV/PPM bytes built
        # from doc_id; the oracle re-derives every header field from the
        # same doc_id arithmetic (multimodal.synthetic_media_payload), so
        # the decode path is what the hash actually verifies
        # windowed PCM energy: the oracle rebuilds every int16 from the WAV
        # synthesis formula (data byte i = (i*13 + ch) % 256, sample j =
        # little-endian signed pair at 2j/2j+1) and square-sums the same
        # AE_WIN-sample windows — a chunk-walk or endianness bug in the
        # engine's real-bytes parse mismatches every energy
        "m_audio_energy": f"""
            WITH {_ae_ctes}
            SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
                   CAST(n_samps AS INT) AS n_samps,
                   CAST(energy AS BIGINT) AS energy,
                   energy < {MM.AE_SIL_MEANSQ} * n_samps AS is_silence
            FROM en ORDER BY doc_id, win_idx
        """,
        # spectral peaks: the synthesis sample formula (the _ae_ctes byte
        # rule) fed through the embedded-table integer DFT; full windows
        # only, first-max tie-break = lowest bin
        "m_audio_spectral": f"""
            WITH w AS (
                SELECT doc_id, 1 + doc_id % 2 AS ch,
                       (200 + doc_id % 100) * (1 + doc_id % 2) AS total
                FROM documents WHERE doc_id % 3 = 1
            ), wins AS (
                SELECT doc_id, ch,
                       unnest(range(0, total // {MM.SPEC_WIN})) AS win_idx
                FROM w
            ), xs AS (
                SELECT doc_id, win_idx,
                       list_transform(
                           range(win_idx * {MM.SPEC_WIN},
                                 win_idx * {MM.SPEC_WIN} + {MM.SPEC_WIN}),
                           j -> CASE WHEN ((2*j*13 + ch) % 256)
                                      + 256 * (((2*j+1)*13 + ch) % 256)
                                      >= 32768
                                THEN ((2*j*13 + ch) % 256)
                                     + 256 * (((2*j+1)*13 + ch) % 256)
                                     - 65536
                                ELSE ((2*j*13 + ch) % 256)
                                     + 256 * (((2*j+1)*13 + ch) % 256)
                                END) AS x
                FROM wins
            ), ri AS (
                SELECT doc_id, win_idx,
                       [{_spec_re}] AS re, [{_spec_im}] AS im
                FROM xs
            ), mg AS (
                SELECT doc_id, win_idx,
                       list_transform(range(0, {MM.SPEC_BINS}),
                           k -> re[k+1]*re[k+1] + im[k+1]*im[k+1]) AS mags
                FROM ri
            )
            SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
                   CAST(list_position(mags, list_max(mags)) AS INT)
                       AS peak_bin,
                   CAST(list_max(mags) AS BIGINT) AS peak_mag2
            FROM mg ORDER BY doc_id, win_idx
        """,
        # VAD segments: lag + cumulative-flag-change islands over the SAME
        # en CTE (shared fragment — detector and consumer cannot drift)
        "m_audio_segments": f"""
            WITH {_ae_ctes},
            v AS (
                SELECT doc_id, win_idx, energy,
                       energy < {MM.AE_SIL_MEANSQ} * n_samps AS sil
                FROM en
            ), chg AS (
                SELECT doc_id, win_idx, energy, sil,
                       CASE WHEN lag(sil) OVER w IS NULL
                             OR lag(sil) OVER w <> sil THEN 1 ELSE 0 END AS c
                FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY win_idx)
            ), segs AS (
                SELECT doc_id, win_idx, energy, sil,
                       sum(c) OVER (PARTITION BY doc_id ORDER BY win_idx
                                    ROWS UNBOUNDED PRECEDING) AS seg
                FROM chg
            )
            SELECT doc_id, CAST(seg - 1 AS INT) AS seg_idx,
                   min(sil) AS is_silence,
                   CAST(min(win_idx) AS INT) AS win_start,
                   CAST(max(win_idx) AS INT) AS win_end,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(energy) AS BIGINT) AS energy_sum
            FROM segs GROUP BY doc_id, seg ORDER BY doc_id, seg_idx
        """,
        "m_media_features": """
            WITH m AS (
                SELECT doc_id, doc_id % 3 AS kind,
                       8 + doc_id % 32 AS bw, 8 + (doc_id // 3) % 24 AS bh,
                       1 + doc_id % 2 AS ch, 8000 * (1 + doc_id % 3) AS rate,
                       200 + doc_id % 100 AS ns,
                       4 + doc_id % 16 AS pw, 4 + (doc_id // 5) % 16 AS ph
                FROM documents)
            SELECT doc_id,
                   CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                             ELSE 'image/ppm' END AS media_type,
                   CAST(CASE kind
                        WHEN 0 THEN 54 + ((bw * 3 + 3) // 4) * 4 * bh
                        WHEN 1 THEN 44 + ns * ch * 2
                        ELSE 9 + length(CAST(pw AS VARCHAR))
                               + length(CAST(ph AS VARCHAR)) + 3 * pw * ph
                        END AS BIGINT) AS byte_len,
                   CAST(CASE kind WHEN 0 THEN bw WHEN 2 THEN pw ELSE -1 END AS INT) AS width,
                   CAST(CASE kind WHEN 0 THEN bh WHEN 2 THEN ph ELSE -1 END AS INT) AS height,
                   CAST(CASE WHEN kind = 1 THEN ch ELSE -1 END AS INT) AS n_channels,
                   CAST(CASE WHEN kind = 1 THEN rate ELSE -1 END AS INT) AS sample_rate,
                   CAST(CASE WHEN kind = 1 THEN (ns * 1000) // rate ELSE -1 END AS BIGINT)
                       AS duration_ms
            FROM m ORDER BY doc_id
        """,
        "u_canonicalize": f"""
            WITH {_url_cte}
            SELECT c.doc_id, c.url, c.canonical_url, c.host, r.reg_domain
            FROM canon c JOIN reg r USING (host)
            ORDER BY c.doc_id
        """,
        # hreflang clusters: declaration chains predicted from the group
        # formula, resolved through the SAME canon map (url collisions
        # merge identically on both sides), closed with the d_components
        # recursive-CTE shape; singletons coalesce to self
        "u_hreflang": f"""
            WITH RECURSIVE {_url_cte},
            decl AS (
                SELECT doc_id, doc_id - 1 AS tgt FROM documents
                WHERE doc_id % {WU.HREFLANG_GROUP} <> 0 AND doc_id >= 1
            ),
            e0 AS (
                SELECT d.doc_id AS a, c2.doc_id AS b
                FROM decl d
                JOIN canon c1 ON c1.doc_id = d.tgt
                JOIN canon c2 ON c2.canonical_url = c1.canonical_url
                WHERE c2.doc_id <> d.doc_id
            ),
            edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            reach(node, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            lab AS (
                SELECT d.doc_id, d.lang,
                       coalesce(c.component, d.doc_id) AS cluster
                FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            ),
            sz AS (
                SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
                       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
                FROM lab GROUP BY cluster
            )
            SELECT l.doc_id, l.cluster, s.n_members, s.n_langs
            FROM lab l JOIN sz s USING (cluster) ORDER BY l.doc_id
        """,
        # SURT: reversed comma-joined host labels (one leading www. folded),
        # non-default port kept, ')' + path+query — recomputed from the
        # shared canon CTE's canonical_url with the same regex splits
        "u_surt": f"""
            WITH {_url_cte}
            SELECT doc_id, canonical_url, {_surt_sql} AS surt
            FROM canon ORDER BY doc_id
        """,
        # authority rollup: one authority = one contiguous SURT range
        "u_cdx_index": f"""
            WITH {_url_cte},
            s AS (SELECT doc_id, canonical_url, {_surt_sql} AS surt FROM canon)
            SELECT regexp_extract(surt, '^([^)]*)', 1) AS authority,
                   CAST(count(*) AS BIGINT) AS n_captures,
                   CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
                   min(surt) AS min_surt, max(surt) AS max_surt
            FROM s GROUP BY 1 ORDER BY 1
        """,
        # composable CDX lookup: every 7th doc's authority, all captures
        # under each (starts_with mirrors the Spark residual predicate)
        "u_cdx_lookup_join": f"""
            WITH {_url_cte},
            s AS (SELECT doc_id, canonical_url, {_surt_sql} AS surt FROM canon),
            auth AS (
                SELECT DISTINCT regexp_extract(surt, '^([^)]*)', 1) AS authority
                FROM s WHERE doc_id % 7 = 0
            )
            SELECT a.authority, s.surt, s.canonical_url, s.doc_id
            FROM s JOIN auth a ON starts_with(s.surt, a.authority || ')')
            ORDER BY a.authority, s.surt
        """,
        "u_domain_rollup": f"""
            WITH {_url_cte}
            SELECT r.reg_domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT c.host) AS BIGINT) AS n_hosts,
                   CAST(sum(length(c.text)) AS BIGINT) AS total_chars,
                   CAST(count(DISTINCT c.lang) AS BIGINT) AS n_langs
            FROM canon c JOIN reg r USING (host)
            GROUP BY r.reg_domain ORDER BY r.reg_domain
        """,
        # robots Allow decision: rules predicted from the injection formula
        # (the engine parses real bytes through the shared group resolver);
        # longest-match with the allow tie-break as a window rank
        "u_robots_allow": f"""
            WITH {_url_cte},
            hr AS (SELECT DISTINCT host FROM canon),
            rules AS (
                SELECT host, 'disallow' AS kind, '/docs/' AS prefix FROM hr
                UNION ALL
                SELECT host, 'allow', '/docs/1' FROM hr WHERE len(host) % 2 = 0
                UNION ALL
                SELECT host, 'disallow', '/a/' FROM hr WHERE len(host) % 3 = 0
            ), up AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.URL_RE}', 4) AS p
                FROM canon
            ), m AS (
                SELECT doc_id, kind, length(prefix) AS l,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY length(prefix) DESC,
                                    CASE WHEN kind = 'allow' THEN 0 ELSE 1 END)
                           AS rn
                FROM up JOIN rules USING (host)
                WHERE starts_with(p, prefix)
            )
            SELECT u.doc_id,
                   CASE WHEN m.kind IS NULL OR m.kind = 'allow'
                        THEN true ELSE false END AS allowed,
                   coalesce(m.kind, '') AS match_kind,
                   CAST(coalesce(m.l, 0) AS BIGINT) AS match_len
            FROM (SELECT DISTINCT doc_id FROM up) u
            LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
            ORDER BY u.doc_id
        """,
        # param audit: raw query strings re-derived from the synthesis
        # formula, split/exploded with the same last-'=' value rule
        "u_param_audit": f"""
            WITH u AS (
                SELECT doc_id, {WU.URL_SYNTH_SQL} AS url FROM documents
            ), q AS (
                SELECT doc_id,
                       regexp_extract(url, '{WU.URL_RE}', 5) AS query_s
                FROM u
            ), kv AS (
                SELECT doc_id,
                       unnest(string_split(substring(query_s, 2), '&')) AS pair
                FROM q WHERE query_s <> ''
            ), agg AS (
                SELECT split_part(pair, '=', 1) AS param,
                       count(*) AS n_urls,
                       count(DISTINCT regexp_extract(pair, '([^=]*)$', 1))
                           AS n_distinct_values
                FROM kv GROUP BY 1
            )
            SELECT param, CAST(n_urls AS BIGINT) AS n_urls,
                   CAST(n_distinct_values AS BIGINT) AS n_distinct_values,
                   CAST((10000 * n_distinct_values) // n_urls AS BIGINT)
                       AS distinct_bp,
                   (n_urls >= {WU.PARAM_TRACK_MIN_URLS}
                    AND (10000 * n_distinct_values) // n_urls
                        >= {WU.PARAM_TRACK_MIN_BP}) AS tracking_suspect
            FROM agg ORDER BY param
        """,
        # wildcard robots: the oracle predicts the rule set from the
        # synthesis formula and matches with hand-anchored RE2 regexes —
        # if the engine's pattern->regex translation behaves differently
        # on any path, the decisions diverge and the hash fails; ranking
        # is raw pattern length (6 / 8 / 6), allow wins ties
        "u_robots_wild": f"""
            WITH {_url_cte},
            hr AS (SELECT DISTINCT host FROM canon),
            rules AS (
                SELECT host, 'disallow' AS kind, 6 AS plen,
                       '^/docs/' AS rx FROM hr
                UNION ALL
                SELECT host, 'allow', 8, '^/docs/.*1' FROM hr
                WHERE len(host) % 2 = 0
                UNION ALL
                SELECT host, 'disallow', 6, '^/a/.*7$' FROM hr
                WHERE len(host) % 3 = 0
            ), up AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.URL_RE}', 4) AS p
                FROM canon
            ), m AS (
                SELECT doc_id, kind, plen,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY plen DESC,
                                    CASE WHEN kind = 'allow' THEN 0 ELSE 1 END)
                           AS rn
                FROM up JOIN rules USING (host)
                WHERE regexp_matches(p, rx)
            )
            SELECT u.doc_id,
                   CASE WHEN m.kind IS NULL OR m.kind = 'allow'
                        THEN true ELSE false END AS allowed,
                   coalesce(m.kind, '') AS match_kind,
                   CAST(coalesce(m.plen, 0) AS BIGINT) AS match_len
            FROM (SELECT DISTINCT doc_id FROM up) u
            LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
            ORDER BY u.doc_id
        """,
        # sitemap discovery: the engine regexp-parses real robots bytes;
        # the oracle predicts the declared urls from the injection formula
        # (every host /sitemap.xml; even-length hosts add the news sitemap)
        "u_sitemap_discovery": f"""
            WITH {_url_cte},
            h AS (SELECT DISTINCT host FROM canon),
            sm AS (
                SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url
                FROM h
                UNION ALL
                SELECT host, 'https://' || host || '/news-sitemap.xml'
                FROM h WHERE len(host) % 2 = 0
            )
            SELECT host, sitemap_url FROM sm ORDER BY host, sitemap_url
        """,
        # trap-url audit: formula-synthesized urls, the SAME regex/threshold
        # constants, and list-lambda adjacency for the repeated-segment rule
        # (RE2 has no backreferences — mirrors the Spark array lambdas)
        # url templates: the SAME trap synthesis, hex-then-digit slot
        # collapse with the shared patterns ('g' = DuckDB's global-replace
        # flag; Spark's regexp_replace is global by default), one group
        # rollup with the interpolated explosion gate
        "u_url_templates": f"""
            WITH syn AS (
                SELECT doc_id,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), tpl AS (
                SELECT regexp_extract(url, '{WU.URL_RE}', 2) AS host,
                       regexp_replace(regexp_replace(
                           regexp_extract(url, '{WU.URL_RE}', 4)
                               || coalesce(regexp_extract(url, '{WU.URL_RE}', 5), ''),
                           '{WU.TEMPLATE_HEX_RE}', '{{h}}', 'g'),
                           '{WU.TEMPLATE_DIGIT_RE}', '{{d}}', 'g') AS template,
                       url
                FROM syn
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_distinct,
                   count(DISTINCT url) >= {WU.TEMPLATE_EXPLOSION_MIN}
                       AS explosive
            FROM tpl GROUP BY host, template ORDER BY host, template
        """,
        "u_trap_urls": f"""
            WITH syn AS (
                SELECT doc_id,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), parsed AS (
                SELECT doc_id, url,
                       list_filter(regexp_split_to_array(
                           regexp_extract(url, '{WU.URL_RE}', 4), '/'),
                           s -> s <> '') AS segs,
                       TRY_CAST(nullif(regexp_extract(
                           url, '{WU.TRAP_PAGE_RE}', 1), '') AS BIGINT) AS pg,
                       regexp_extract(url, '{WU.TRAP_HEX_ID_RE}', 0) <> ''
                           AS hexid
                FROM syn
            ), flags AS (
                SELECT doc_id, url,
                       concat_ws(';',
                         CASE WHEN len(segs) > {WU.TRAP_MAX_DEPTH}
                              THEN 'deep_path' END,
                         CASE WHEN len(segs) >= 2 AND len(list_filter(
                                  range(1, len(segs)),
                                  i -> segs[i] = segs[i+1])) > 0
                              THEN 'repeated_segment' END,
                         CASE WHEN coalesce(pg, 0) > {WU.TRAP_MAX_PAGE}
                              THEN 'runaway_pagination' END,
                         CASE WHEN hexid THEN 'session_id' END
                       ) AS trap_reasons
                FROM parsed
            )
            SELECT doc_id, url, trap_reasons,
                   trap_reasons <> '' AS is_trap
            FROM flags ORDER BY doc_id
        """,
        # template dup rates: the trap-url synthesis + the {h}/{d} slot
        # collapse + md5(text) distinct counts per (host, template)
        "u_template_dup": f"""
            WITH syn AS (
                SELECT doc_id, text,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), parsed AS (
                SELECT regexp_extract(url, '{WU.URL_RE}', 2) AS host,
                       regexp_replace(regexp_replace(
                           regexp_extract(url, '{WU.URL_RE}', 4)
                           || regexp_extract(url, '{WU.URL_RE}', 5),
                           '{WU.TEMPLATE_HEX_RE}', '{{h}}', 'g'),
                           '{WU.TEMPLATE_DIGIT_RE}', '{{d}}', 'g')
                           AS template,
                       md5(text) AS fp
                FROM syn
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
                   CAST(10000 * (count(*) - count(DISTINCT fp))
                        // count(*) AS BIGINT) AS dup_bp
            FROM parsed GROUP BY host, template
            ORDER BY host, template
        """,
        # soft-404 audit: synthesis mirrored (hosts, statuses, titles,
        # template lengths), then the op's two rules verbatim — per-host
        # MIN over hard-error lengths as the template profile, phrase
        # regexp + tolerance band on the 200-status stream
        "u_soft404": f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 10 AS h,
                       400 + (doc_id % 10) * 7 AS tmpl,
                       (doc_id % 13 = 0 OR doc_id % 17 = 0) AS is_hard,
                       (NOT (doc_id % 13 = 0 OR doc_id % 17 = 0))
                           AND doc_id % 11 = 0 AS is_soft
                FROM documents
            ), log AS (
                SELECT doc_id,
                    'https://site' || h || '.example.com/docs/' || doc_id
                        AS url,
                    'site' || h || '.example.com' AS host,
                    CASE WHEN doc_id % 13 = 0 THEN 404
                         WHEN doc_id % 17 = 0 THEN 410 ELSE 200 END
                        AS status,
                    CASE WHEN is_hard THEN '404 Not Found - site' || h
                         WHEN is_soft AND doc_id % 22 = 0
                             THEN 'Oops! Page Not Found'
                         WHEN NOT is_hard AND NOT is_soft
                                  AND doc_id % 23 = 0
                             THEN 'Error 404 - doc ' || doc_id
                         ELSE 'Doc ' || doc_id END AS title,
                    CAST(CASE WHEN is_hard THEN tmpl + doc_id % 3
                              WHEN is_soft THEN tmpl + doc_id % 5
                              ELSE 2000 + (doc_id * 37) % 1500 END
                         AS BIGINT) AS content_len
                FROM syn
            ), tm AS (
                SELECT host, MIN(content_len) AS template_len
                FROM log WHERE status IN (404, 410) GROUP BY host
            ), flags AS (
                SELECT l.doc_id, l.url, l.host, l.status, l.content_len,
                       t.template_len,
                       concat_ws(';',
                         CASE WHEN regexp_matches(l.title,
                                  '{WU.SOFT404_TITLE_RE}')
                              THEN 'error_title' END,
                         CASE WHEN t.template_len IS NOT NULL
                                  AND abs(l.content_len - t.template_len)
                                      <= {WU.SOFT404_LEN_TOL}
                              THEN 'template_len' END
                       ) AS soft404_reasons
                FROM log l LEFT JOIN tm t USING (host)
                WHERE l.status = 200
            )
            SELECT doc_id, url, host, status, content_len, template_len,
                   soft404_reasons, soft404_reasons <> '' AS is_soft404
            FROM flags ORDER BY doc_id
        """,
        # http cache policy: the ladder re-derived from the synthesis
        # flavors; private composes over max-age (k=0 AND %7==0 ->
        # refetch), the precedence the op must enforce in order
        "u_http_cache": f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 5 AS k,
                       doc_id % 7 = 0 AS priv
                FROM documents
            )
            SELECT doc_id,
                   'https://site' || (doc_id % 10)
                       || '.example.com/docs/' || doc_id AS url,
                   CASE WHEN k = 1 OR priv THEN 'refetch'
                        WHEN k = 0 THEN 'ttl'
                        WHEN k IN (2, 3) THEN 'revalidate'
                        ELSE 'heuristic' END AS policy,
                   CAST(CASE WHEN k = 1 OR priv THEN -1
                        WHEN k = 0 THEN (doc_id % 10 + 1) * 600
                        WHEN k IN (2, 3) THEN -1
                        ELSE {WU.HTTP_HEURISTIC_TTL_S} END AS BIGINT)
                       AS ttl_s,
                   CASE WHEN k = 1 OR priv OR k = 0 THEN ''
                        WHEN k = 2 THEN 'if-none-match'
                        WHEN k = 3 THEN 'if-modified-since'
                        ELSE '' END AS validator
            FROM syn ORDER BY doc_id
        """,
        # dot segments: the SAME ''-seeded fold via list_reduce; the
        # synthesis flavors re-derived
        "u_dot_segments": rf"""
            WITH syn AS (
                SELECT doc_id,
                       CASE doc_id % 6
                         WHEN 0 THEN '/a/./b/' || doc_id
                         WHEN 1 THEN '/a/b/../c/' || doc_id
                         WHEN 2 THEN '/../x/' || doc_id
                         WHEN 3 THEN '/a/b/c/../../d/' || doc_id
                         WHEN 4 THEN '/a/b/.'
                         ELSE '/docs/' || doc_id END AS path,
                       'https://site' || (doc_id % 10)
                           || '.example.com' AS base
                FROM documents
            ), folded AS (
                SELECT doc_id, base || path AS url, path,
                       list_reduce(
                           list_prepend('', list_filter(
                               regexp_split_to_array(path, '/'),
                               s -> s <> '')),
                           (acc, x) -> CASE
                               WHEN x = '.' THEN acc
                               WHEN x = '..' THEN
                                    regexp_replace(acc, '/[^/]*$', '')
                               ELSE acc || '/' || x END) AS f
                FROM syn
            )
            SELECT doc_id, url,
                   CASE WHEN f = '' THEN '/'
                        WHEN regexp_matches(path, '(/|/\.|/\.\.)$')
                            THEN f || '/'
                        ELSE f END AS clean_path
            FROM folded ORDER BY doc_id
        """,
        # composed recrawl verdict: the soft404 CTE chain + the cache
        # flavor dims feeding one CASE ladder — precedence across stages
        # (never honor max-age on a soft-404) is what this face checks
        "u_recrawl_decision": f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 10 AS h,
                       400 + (doc_id % 10) * 7 AS tmpl,
                       (doc_id % 13 = 0 OR doc_id % 17 = 0) AS is_hard,
                       (NOT (doc_id % 13 = 0 OR doc_id % 17 = 0))
                           AND doc_id % 11 = 0 AS is_soft
                FROM documents
            ), log AS (
                SELECT doc_id,
                    'https://site' || h || '.example.com/docs/' || doc_id
                        AS url,
                    'site' || h || '.example.com' AS host,
                    CASE WHEN doc_id % 13 = 0 THEN 404
                         WHEN doc_id % 17 = 0 THEN 410 ELSE 200 END
                        AS status,
                    CASE WHEN is_hard THEN '404 Not Found - site' || h
                         WHEN is_soft AND doc_id % 22 = 0
                             THEN 'Oops! Page Not Found'
                         WHEN NOT is_hard AND NOT is_soft
                                  AND doc_id % 23 = 0
                             THEN 'Error 404 - doc ' || doc_id
                         ELSE 'Doc ' || doc_id END AS title,
                    CAST(CASE WHEN is_hard THEN tmpl + doc_id % 3
                              WHEN is_soft THEN tmpl + doc_id % 5
                              ELSE 2000 + (doc_id * 37) % 1500 END
                         AS BIGINT) AS content_len
                FROM syn
            ), tm AS (
                SELECT host, MIN(content_len) AS template_len
                FROM log WHERE status IN (404, 410) GROUP BY host
            ), soft AS (
                SELECT l.doc_id,
                       (regexp_matches(l.title, '{WU.SOFT404_TITLE_RE}')
                        OR (t.template_len IS NOT NULL
                            AND abs(l.content_len - t.template_len)
                                <= {WU.SOFT404_LEN_TOL})) AS is_soft404
                FROM log l LEFT JOIN tm t USING (host)
                WHERE l.status = 200
            ), hp AS (
                SELECT doc_id, doc_id % 5 AS k,
                       doc_id % 7 = 0 AS priv
                FROM documents
            ), dec AS (
                SELECT l.doc_id, l.url,
                       CASE WHEN l.status IN (404, 410)
                                THEN 'drop_hard_error'
                            WHEN coalesce(sf.is_soft404, false)
                                THEN 'drop_soft404'
                            WHEN hp.k = 1 OR hp.priv THEN 'refetch'
                            WHEN hp.k = 0 THEN 'skip_fresh'
                            WHEN hp.k IN (2, 3) THEN 'conditional_get'
                            ELSE 'refetch_heuristic' END AS action,
                       hp.k
                FROM log l
                LEFT JOIN soft sf USING (doc_id)
                JOIN hp USING (doc_id)
            )
            SELECT doc_id, url, action,
                   CASE WHEN action = 'conditional_get' AND k = 2
                            THEN 'if-none-match'
                        WHEN action = 'conditional_get' AND k = 3
                            THEN 'if-modified-since'
                        ELSE '' END AS validator
            FROM dec ORDER BY doc_id
        """,
        # typosquat audit: synthesis mirrored (brand = source||'mart',
        # %9==5 docs mutate by %4 kind), then both channels verbatim —
        # 1-deletion postings join (DISTINCT absorbs duplicate variants
        # that Spark's array_union dedupes in-array) + skeleton equality,
        # exact levenshtein verify
        "u_typosquat": f"""
            WITH syn AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 9 = 5 THEN
                         CASE doc_id % 4
                           WHEN 0 THEN substr(b,1,1) || substr(b,3)
                           WHEN 1 THEN substr(b,1,2) || substr(b,2)
                           WHEN 2 THEN substr(b,1,1) || substr(b,3,1)
                                    || substr(b,2,1) || substr(b,4)
                           ELSE replace(b, 'm', 'rn') END
                       ELSE b END AS sld
                FROM (SELECT doc_id, source || 'mart' AS b FROM documents)
            ), counts AS (
                SELECT sld, CAST(count(*) AS BIGINT) AS n_docs
                FROM syn GROUP BY sld
            ), ranked AS (
                SELECT sld, n_docs,
                       row_number() OVER (ORDER BY n_docs DESC, sld) AS rk
                FROM counts
            ), defended AS (
                SELECT sld AS defended_sld FROM ranked
                WHERE rk <= {WU.TYPO_DEFENDED_N}
            ), cands AS (
                SELECT c.sld AS candidate_sld, c.n_docs FROM counts c
                WHERE c.sld NOT IN (SELECT defended_sld FROM defended)
            ), dpost AS (
                SELECT unnest(list_append(list_transform(
                           range(1, len(defended_sld) + 1),
                           i -> substr(defended_sld, 1, i - 1)
                                || substr(defended_sld, i + 1)),
                       defended_sld)) AS variant,
                       defended_sld
                FROM defended
            ), cpost AS (
                SELECT unnest(list_append(list_transform(
                           range(1, len(candidate_sld) + 1),
                           i -> substr(candidate_sld, 1, i - 1)
                                || substr(candidate_sld, i + 1)),
                       candidate_sld)) AS variant,
                       candidate_sld
                FROM cands
            ), pairs_a AS (
                SELECT DISTINCT c.candidate_sld, d.defended_sld
                FROM cpost c JOIN dpost d USING (variant)
            ), pairs_b AS (
                SELECT c.candidate_sld, d.defended_sld
                FROM cands c JOIN defended d
                  ON replace(c.candidate_sld, 'rn', 'm')
                     = replace(d.defended_sld, 'rn', 'm')
            ), pairs AS (
                SELECT * FROM pairs_a UNION SELECT * FROM pairs_b
            ), verified AS (
                SELECT p.candidate_sld, p.defended_sld,
                       CAST(levenshtein(p.candidate_sld, p.defended_sld)
                            AS BIGINT) AS lev,
                       CAST(len(p.candidate_sld) - len(p.defended_sld)
                            AS BIGINT) AS len_delta,
                       replace(p.candidate_sld, 'rn', 'm')
                           = replace(p.defended_sld, 'rn', 'm')
                           AS is_homoglyph
                FROM pairs p
            )
            SELECT v.candidate_sld, v.defended_sld, v.lev, v.len_delta,
                   v.is_homoglyph, c.n_docs
            FROM verified v JOIN cands c USING (candidate_sld)
            WHERE v.lev <= {WU.TYPO_MAX_LEV} OR v.is_homoglyph
            ORDER BY candidate_sld, defended_sld
        """,
        # domain quality prior: the SAME _quality_sql fragment as
        # t_quality_score (x 10^4 into exact integer bp), the same url/reg
        # CTEs as u_domain_rollup, one group rollup with an integer-div
        # mean and the min-docs trust gate (constant interpolated)
        "u_domain_quality": f"""
            WITH {_url_cte},
            q AS (
                SELECT doc_id,
                       CAST(round({_quality_sql()} * 10000) AS BIGINT) AS bp
                FROM documents
            )
            SELECT r.reg_domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(q.bp) // count(*) AS BIGINT) AS mean_quality_bp,
                   count(*) >= {WU.DOMAIN_PRIOR_MIN_DOCS} AS prior_trusted
            FROM canon c JOIN reg r USING (host) JOIN q USING (doc_id)
            GROUP BY r.reg_domain ORDER BY r.reg_domain
        """,
        # crawl-budget apportionment: the SAME prior chain as
        # u_domain_quality (shared _quality_sql / _url_cte fragments,
        # min-docs gate interpolated) feeding Hamilton largest-remainder —
        # base = total*w div W, leftover seats to the largest remainders
        # (rem desc, reg_domain asc).  All-BIGINT, so the exact-sum
        # invariant holds in both engines or the hash fails.
        "u_crawl_budget": f"""
            WITH {_url_cte},
            q AS (
                SELECT doc_id,
                       CAST(round({_quality_sql()} * 10000) AS BIGINT) AS bp
                FROM documents
            ),
            pri AS (
                SELECT r.reg_domain,
                       CAST(sum(q.bp) // count(*) AS BIGINT) AS w
                FROM canon c JOIN reg r USING (host) JOIN q USING (doc_id)
                GROUP BY r.reg_domain
                HAVING count(*) >= {WU.DOMAIN_PRIOR_MIN_DOCS}
            ),
            t AS (
                SELECT reg_domain, w,
                       ({WU.CRAWL_BUDGET_TOTAL} * w)
                           // (SELECT sum(w) FROM pri) AS base,
                       ({WU.CRAWL_BUDGET_TOTAL} * w)
                           % (SELECT sum(w) FROM pri) AS rem
                FROM pri
            ),
            rk AS (
                SELECT reg_domain, w, base,
                       row_number() OVER (ORDER BY rem DESC, reg_domain ASC)
                           AS rn,
                       {WU.CRAWL_BUDGET_TOTAL} - (SELECT sum(base) FROM t)
                           AS leftover
                FROM t
            )
            SELECT reg_domain,
                   CAST(w AS BIGINT) AS weight_bp,
                   CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS budget
            FROM rk ORDER BY reg_domain
        """,
        "u_blocklist": f"""
            WITH {_url_cte}
            SELECT c.doc_id, r.reg_domain
            FROM canon c JOIN reg r USING (host)
            WHERE r.reg_domain NOT IN ({", ".join(f"'{b}'" for b in BLOCKED_DOMAINS)})
            ORDER BY c.doc_id
        """,
        # admission chain: canon/reg/rules fragments + the trap flags over
        # the raw synthetic url, fixed-order first_block CASE, survivor
        # -only running quota count — the literal twin of the Spark chain
        "u_crawl_admission": f"""
            WITH {_url_cte},
            cpath AS (
                SELECT doc_id, host, url,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1)
                           AS path
                FROM canon
            ),
{_rules_cte},
            tparse AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           regexp_extract(url, '{WU.URL_RE}', 4), '/'),
                           s -> s <> '') AS segs,
                       TRY_CAST(nullif(regexp_extract(
                           url, '{WU.TRAP_PAGE_RE}', 1), '') AS BIGINT) AS pg,
                       regexp_extract(url, '{WU.TRAP_HEX_ID_RE}', 0) <> ''
                           AS hexid
                FROM cpath
            ),
            tf AS (
                SELECT doc_id,
                       concat_ws(';',
                         CASE WHEN len(segs) > {WU.TRAP_MAX_DEPTH}
                              THEN 'deep_path' END,
                         CASE WHEN len(segs) >= 2 AND len(list_filter(
                                  range(1, len(segs)),
                                  i -> segs[i] = segs[i+1])) > 0
                              THEN 'repeated_segment' END,
                         CASE WHEN coalesce(pg, 0) > {WU.TRAP_MAX_PAGE}
                              THEN 'runaway_pagination' END,
                         CASE WHEN hexid THEN 'session_id' END
                       ) <> '' AS trap
                FROM tparse
            ),
            fl AS (
                SELECT c.doc_id, c.host, r.reg_domain,
                       r.reg_domain IN ({", ".join(f"'{b}'"
                                                   for b in BLOCKED_DOMAINS)})
                           AS bl,
                       t.trap,
                       (ru.disallow_prefix IS NOT NULL
                        AND starts_with(c.path, ru.disallow_prefix)) AS rob
                FROM cpath c
                JOIN reg r USING (host)
                JOIN rules ru USING (host)
                JOIN tf t USING (doc_id)
            ),
            rk AS (
                SELECT *,
                       count(CASE WHEN NOT bl AND NOT trap AND NOT rob
                                  THEN 1 END)
                           OVER (PARTITION BY reg_domain ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS qrank
                FROM fl
            )
            SELECT doc_id, host, reg_domain,
                   CASE WHEN bl THEN 'blocklist'
                        WHEN trap THEN 'trap'
                        WHEN rob THEN 'robots'
                        WHEN qrank > {WU.ADMISSION_QUOTA} THEN 'quota'
                        ELSE '' END = '' AS admitted,
                   CASE WHEN bl THEN 'blocklist'
                        WHEN trap THEN 'trap'
                        WHEN rob THEN 'robots'
                        WHEN qrank > {WU.ADMISSION_QUOTA} THEN 'quota'
                        ELSE '' END AS first_block
            FROM rk ORDER BY doc_id
        """,
        # robots politeness: rules derived from distinct hosts (len-mod
        # formulas standing in for fetched robots.txt), disallow-prefix
        # filter on the canonical path, per-host (k-1)*delay schedule
        "u_robots": f"""
            WITH {_url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{_rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, c.path, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            )
            SELECT doc_id, host, path, crawl_delay_ms,
                   CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
                        * crawl_delay_ms AS BIGINT) AS fetch_offset_ms
            FROM alw ORDER BY doc_id
        """,
        # lanes: the SAME allow chain folded per host, md5-hash lane
        # assignment, integer-bp budget shares
        "u_fetcher_lanes": f"""
            WITH {_url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{_rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ), per_host AS (
                SELECT host, crawl_delay_ms,
                       CAST(count(*) AS BIGINT) AS n_urls
                FROM alw GROUP BY host, crawl_delay_ms
            ), lanes AS (
                SELECT ((CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT)
                         % {WU.FETCHER_LANES}) + {WU.FETCHER_LANES})
                       % {WU.FETCHER_LANES} AS lane,
                       n_urls,
                       CAST(n_urls * crawl_delay_ms AS BIGINT) AS host_ms
                FROM per_host
            ), per_lane AS (
                SELECT lane,
                       CAST(count(*) AS BIGINT) AS n_hosts,
                       CAST(sum(n_urls) AS BIGINT) AS n_urls,
                       CAST(sum(host_ms) AS BIGINT) AS busy_ms,
                       CAST(max(host_ms) AS BIGINT) AS max_host_ms
                FROM lanes GROUP BY lane
            ), tot AS (SELECT CAST(sum(busy_ms) AS BIGINT) AS t_ms FROM per_lane)
            SELECT lane, n_hosts, n_urls, busy_ms, max_host_ms,
                   CAST((10000 * busy_ms) // greatest(t_ms, 1) AS BIGINT)
                       AS share_bp
            FROM per_lane CROSS JOIN tot ORDER BY lane
        """,
        # politeness-queue audit: the max-plus closed form (st_rate_limit's
        # oracle) rolled to the host dim + the bottleneck rank window
        "u_crawl_plan": f"""
            WITH {_url_cte},
{_rules_cte},
            arr AS (
                SELECT c.doc_id, c.host,
                       CAST((c.doc_id * 137) % {__import__("pdf_parser_spark.streaming.ratelimit", fromlist=["x"]).ARRIVAL_MOD} AS BIGINT)
                           AS arrival_ms,
                       CAST(r.crawl_delay_ms AS BIGINT) AS delay_ms
                FROM canon c JOIN rules r USING (host)
            ),
            rk AS (
                SELECT *, row_number() OVER (PARTITION BY host
                              ORDER BY arrival_ms, doc_id) AS n
                FROM arr
            ),
            em AS (
                SELECT *, delay_ms * n
                          + max(arrival_ms - delay_ms * n)
                            OVER (PARTITION BY host ORDER BY n
                                  ROWS UNBOUNDED PRECEDING) AS emit_ms
                FROM rk
            ),
            ph AS (
                SELECT host, delay_ms,
                       CAST(count(*) AS BIGINT) AS n_urls,
                       CAST(min(arrival_ms) AS BIGINT) AS first_arrival_ms,
                       CAST(max(emit_ms) AS BIGINT) AS drain_ms,
                       CAST(sum(emit_ms - arrival_ms) AS BIGINT)
                           AS total_wait_ms,
                       CAST(max(emit_ms - arrival_ms) AS BIGINT)
                           AS max_wait_ms
                FROM em GROUP BY host, delay_ms
            )
            SELECT host, n_urls, delay_ms, first_arrival_ms, drain_ms,
                   total_wait_ms, max_wait_ms,
                   CAST(row_number() OVER (ORDER BY drain_ms DESC, host)
                        AS BIGINT) AS drain_rank
            FROM ph ORDER BY host
        """,
        # the parsed robots dim must equal the len(host) formula dim the
        # text synthesis encodes (Spark does text->RFC-9309-parse; the
        # oracle derives the rules directly — a parser bug breaks the hash)
        "u_robots_parsed": f"""
            WITH {_url_cte}
            SELECT host,
                   coalesce({WU.ROBOTS_DISALLOW_SQL}, '') AS disallow_prefix,
                   {WU.ROBOTS_DELAY_SQL} AS crawl_delay_ms
            FROM (SELECT DISTINCT host FROM canon) h ORDER BY host
        """,
        # sitemap entries re-derived from the per-host formulas; rank order
        # (lastmod desc, loc asc) must survive the zip + explode
        "u_sitemap": f"""
            WITH {_url_cte},
            hosts AS (SELECT DISTINCT host FROM canon),
            en AS (
                SELECT host, unnest(range(0, len(host) % 4 + 2)) AS i FROM hosts
            ),
            pairs AS (
                SELECT host,
                       'https://' || host || '/page/' || i AS loc,
                       '2024-0' || ((i % 9) + 1) || '-01' AS lastmod
                FROM en
            )
            SELECT host, loc, lastmod,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY lastmod DESC, loc) AS BIGINT) AS recrawl_rank
            FROM pairs ORDER BY host, recrawl_rank
        """,
        # sitemap index expansion: even-length hosts shard into
        # SITEMAP_CHILDREN child urlsets (k = (len+ord)%3+1 urls each),
        # odd-length hosts keep the plain urlset formula; ONE rank per
        # host across shards
        "u_sitemap_index": f"""
            WITH {_url_cte},
            hosts AS (SELECT DISTINCT host FROM canon),
            plainu AS (
                SELECT host,
                       'https://' || host || '/page/' || i AS loc,
                       '2024-0' || ((i % 9) + 1) || '-01' AS lastmod
                FROM (SELECT host,
                             unnest(range(0, len(host) % 4 + 2)) AS i
                      FROM hosts WHERE len(host) % 2 = 1)
            ),
            childu AS (
                SELECT host,
                       'https://' || host || '/s' || o || '/p' || i AS loc,
                       '2024-0' || (((i + o) % 9) + 1) || '-15' AS lastmod
                FROM (
                    SELECT host, o,
                           unnest(range(0, (len(host) + o) % 3 + 1)) AS i
                    FROM (SELECT host,
                                 unnest(range(0,
                                     {WU.SITEMAP_CHILDREN})) AS o
                          FROM hosts WHERE len(host) % 2 = 0)
                )
            ),
            un AS (SELECT * FROM plainu UNION ALL SELECT * FROM childu)
            SELECT host, loc, lastmod,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY lastmod DESC, loc) AS BIGINT)
                       AS recrawl_rank
            FROM un ORDER BY host, recrawl_rank
        """,
        # per-site quota: rank within registered domain, keep <= 5
        "u_domain_quota": f"""
            WITH {_url_cte},
            ranked AS (
                SELECT c.doc_id, r.reg_domain,
                       CAST(row_number() OVER (PARTITION BY r.reg_domain
                                               ORDER BY c.doc_id) AS BIGINT)
                           AS quota_rank
                FROM canon c JOIN reg r USING (host)
            )
            SELECT doc_id, reg_domain, quota_rank FROM ranked
            WHERE quota_rank <= 5 ORDER BY doc_id
        """,
        # snapshot diff: old = even doc_ids, new = doc_id%5 != 4 with a
        # ' [rev]' edit on doc_id%11 == 0 — full outer fingerprint compare
        # change magnitude: both-present docs, per-term full-outer counts,
        # |c_old - c_new| folded to exact bp; both revision flavors
        # re-derived
        "d_change_magnitude": rf"""
            WITH oldt AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
            ), newt AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 6
                            THEN 'totally new page about topic ' || doc_id
                            WHEN doc_id % 11 = 0
                            THEN regexp_replace(text, '^\S+\s*', '')
                                 || ' rev update'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 5 <> 4
            ), bothd AS (
                SELECT o.doc_id FROM oldt o JOIN newt n USING (doc_id)
            ), oc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c_old
                FROM (
                    SELECT doc_id, lower(unnest(
                        regexp_split_to_array(trim(text), '\s+'))) AS term
                    FROM oldt JOIN bothd USING (doc_id)
                ) WHERE term <> '' GROUP BY doc_id, term
            ), nc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c_new
                FROM (
                    SELECT doc_id, lower(unnest(
                        regexp_split_to_array(trim(text), '\s+'))) AS term
                    FROM newt JOIN bothd USING (doc_id)
                ) WHERE term <> '' GROUP BY doc_id, term
            ), j AS (
                SELECT coalesce(oc.doc_id, nc.doc_id) AS doc_id,
                       coalesce(c_old, 0) AS c_old,
                       coalesce(c_new, 0) AS c_new
                FROM oc FULL OUTER JOIN nc
                  ON oc.doc_id = nc.doc_id AND oc.term = nc.term
            )
            SELECT doc_id,
                   CAST(sum(c_old) AS BIGINT) AS n_old_tokens,
                   CAST(sum(c_new) AS BIGINT) AS n_new_tokens,
                   CAST(sum(abs(c_old - c_new)) AS BIGINT) AS sym_diff,
                   CAST(10000 * sum(abs(c_old - c_new))
                        // (sum(c_old) + sum(c_new)) AS BIGINT)
                       AS changed_bp
            FROM j GROUP BY doc_id ORDER BY doc_id
        """,
        "u_snapshot_diff": """
            WITH old AS (
                SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
            ), new AS (
                SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0
                                        THEN text || ' [rev]' ELSE text END) AS fp
                FROM documents WHERE doc_id % 5 <> 4
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp IS NULL THEN 'added'
                        WHEN n.fp IS NULL THEN 'removed'
                        WHEN o.fp <> n.fp THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            ORDER BY doc_id
        """,
        # 45-min counts redistributed onto the 60-min grid by overlap
        # seconds; weighted_num = sum(cnt*overlap) keeps it exact-integer
        "a_align_rollup": """
            WITH src AS (
                SELECT CAST(floor(epoch(ts) / 2700) AS BIGINT) AS sb,
                       count(*) AS cnt
                FROM events GROUP BY sb
            ), cand AS (
                SELECT sb, cnt, (sb * 2700) // 3600 + k AS db
                FROM src, (SELECT unnest([0, 1]) AS k) ks
            ), ov AS (
                SELECT db, cnt,
                       least(sb * 2700 + 2700, db * 3600 + 3600)
                       - greatest(sb * 2700, db * 3600) AS ovs
                FROM cand
            )
            SELECT CAST(db * 3600 AS BIGINT) AS window_start,
                   CAST(sum(cnt * ovs) AS BIGINT) AS weighted_num
            FROM ov WHERE ovs > 0 GROUP BY db ORDER BY window_start
        """,
        # the spark.sql surface: the oracle executes the IDENTICAL text
        "q1_pricing_sql": _SQLAPI.Q1_SQL,
        "q_top_orders_sql": _SQLAPI.TOP_ORDERS_SQL,
        # pruned scan result must equal the plain predicate (pruning is an
        # optimization, never the correctness path — and the query itself
        # asserts files WERE eliminated)
        "u_table_pruned_scan": """
            SELECT doc_id, lang FROM documents
            WHERE doc_id >= 334 ORDER BY doc_id
        """,
        # hidden partitioning: the scan's derived day/bucket elimination is
        # an optimization only — the result equals the direct filter (the
        # query itself asserts files WERE eliminated)
        "u_table_partitioned_scan": """
            SELECT strftime(ts, '%Y-%m-%d') AS ds,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(event_id) AS BIGINT) AS sum_ids
            FROM events
            WHERE ts > TIMESTAMP '2024-01-20 12:00:00'
              AND event_type = 'click'
            GROUP BY ds ORDER BY ds
        """,
        # spec evolution: era-appropriate pruning is asserted in the
        # query; the DATA contract is that each labeled scan equals the
        # direct filter over all docs (both eras together = the corpus)
        "u_table_spec_evolution": """
            SELECT 'lang_eq' AS scan,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids
            FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT 'source_eq', CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE source = 'src3'
            UNION ALL
            SELECT 'both', CAST(count(*) AS BIGINT),
                   CAST(sum(doc_id) AS BIGINT)
            FROM documents WHERE lang = 'en' AND source = 'src3'
            ORDER BY scan
        """,
        # files table: per-(stratum, lang) direct aggregation == footer
        # counts + zone ranges; ordinal is the (min, max, rows) rank
        "u_table_files": """
            WITH strata AS (
                SELECT doc_id, lang, doc_id % 3 AS s FROM documents
                WHERE doc_id % 3 < 2
            ), g AS (
                SELECT s, lang, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(min(doc_id) AS BIGINT) AS min_key,
                       CAST(max(doc_id) AS BIGINT) AS max_key
                FROM strata GROUP BY s, lang
            )
            SELECT CAST(row_number() OVER (
                       ORDER BY min_key, max_key, n_rows) - 1 AS BIGINT)
                       AS ordinal,
                   n_rows, min_key, max_key,
                   lang AS partition, '0' AS spec_id
            FROM g ORDER BY ordinal
        """,
        # rollback: final state = the good batch + the recovery batch
        # (the rolled-back %3==1 batch is gone from current, and its
        # token-refused replay is asserted in-query)
        "u_table_rollback": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 3 IN (0, 2) ORDER BY doc_id
        """,
        # time-travel read at version 2 = snapshots 1+2 = doc_id%3 in (0,1)
        "u_table_time_travel": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 3 < 2 ORDER BY doc_id
        """,
        # incremental MV: direct aggregation of the final state — the %30
        # upsert overrides lang, the %7 MOR delete removes rows
        "u_table_incremental_mv": """
            SELECT CASE WHEN doc_id % 30 = 0 THEN 'zz' ELSE lang END AS lang,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents WHERE doc_id % 7 <> 0
            GROUP BY 1 ORDER BY lang
        """,
        # schema evolution: v1 rows (%2==0) predate the source column ->
        # NULL backfill; lang dropped metadata-only, so it never appears
        "u_table_schema_evolution": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 1 THEN source END AS source
            FROM documents ORDER BY doc_id
        """,
        # MOR deletes: the v3 delete (%5==0) applies only to the v1/v2
        # appends (%3 in (0,1)); the v4 append (%3==2) has a strictly
        # newer sequence, so its %5==0 members survive
        "u_table_mor_delete": """
            SELECT doc_id, lang, source FROM documents
            WHERE (doc_id % 3 < 2 AND doc_id % 5 <> 0) OR doc_id % 3 = 2
            ORDER BY doc_id
        """,
        # metadata table: the literal expected history, row counts from
        # the strata (file counts pinned by coalesce(1)/compaction)
        "u_table_snapshots": """
            SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'append', 1, 1,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 0), 0),
                (2, 1, 'append', 1, 2,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 1), 0),
                (3, 2, 'compact', 1, 1, CAST(0 AS BIGINT), 0),
                (4, 3, 'delete', 0, 1, 0, 1),
                (5, 4, 'append', 1, 2,
                 (SELECT count(*) FROM documents WHERE doc_id % 3 = 2), 1)
            ) AS t(version, parent_version, kind, n_added_files,
                   n_all_files, added_rows, n_delete_files)
            ORDER BY version
        """,
        # in-place dedup maintenance: after recrawl-copy injection,
        # election, MOR delete of losers, and purge, the table is exactly
        # the original corpus — every divergence is hash-visible
        "u_table_dedup_inplace": """
            SELECT doc_id, lang, source FROM documents ORDER BY doc_id
        """,
        # branch refs: the audit series fast-forwarded onto main, then a
        # main-side delete that must reach the renumbered branch files —
        # final state is simply every doc outside the deleted key set
        "u_table_branch": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 11 <> 0 ORDER BY doc_id
        """,
        # position deletes: the committed (file, ordinal) pairs cover
        # exactly the v1/v2 rows matching (de OR %7==2); the v4 append's
        # matching rows live in files no position names and survive
        "u_table_pos_delete": """
            SELECT doc_id, lang, source FROM documents
            WHERE (doc_id % 3 < 2
                   AND NOT (lang = 'de' OR doc_id % 7 = 2))
               OR doc_id % 3 = 2
            ORDER BY doc_id
        """,
        # write-audit-publish: the final table is exactly the raw docs —
        # the aborted poisoned stage ('zz' langs), a doubled publish, or
        # a dropped concurrent append would each move the rollup
        "u_table_wap": """
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # WARC round-trip: every parsed column is recomputable from the
        # documents table alone; body_md5 = md5(text) is the byte-fidelity pin
        "u_warc_roundtrip": _warc_rt_sql,
        # WET conversion records: same formula-oracle doctrine — every
        # column recomputed from documents alone (urn linkage, byte-length
        # Content-Length, md5 of the text that crossed the format)
        "u_wet_export": """
            SELECT doc_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
                   'urn:doc:' || doc_id AS refers_to,
                   CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
                   CAST(length(text) AS BIGINT) AS n_body_chars,
                   md5(text) AS body_md5
            FROM documents ORDER BY doc_id
        """,
        # WAT metadata records: JSON payload fields recomputed from
        # documents alone; uri_consistent pins header-vs-payload agreement
        "u_wat_export": """
            SELECT doc_id,
                   'https://' || source || '.example.com/doc/' || doc_id AS target_uri,
                   'urn:doc:' || doc_id AS refers_to,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   md5(text) AS digest,
                   TRUE AS uri_consistent
            FROM documents ORDER BY doc_id
        """,
        # the Python DataSource read is held to the SAME oracle text (the
        # decontaminate_bloom aliasing doctrine): both read paths must
        # byte-agree or one of the two parsers is wrong
        "u_warc_datasource": _warc_rt_sql,
        # digest-deduped archive with revisit-record resolution
        "u_warc_revisit": _warc_revisit_sql,
        # streaming tumbling-window rollup (complete-mode bounded replay)
        # must equal the batch GROUP BY hour-bucket; epoch-seconds window
        # start avoids tz/repr ambiguity in the hash compare
        # watermark late-drop: Structured Streaming's late filter uses the
        # PREVIOUS batch's eviction watermark (one-batch lag), so the
        # re-delivered early batch is dropped exactly for windows already
        # emitted (end <= wm1 = max(batch0 ts) - delay) and legitimately
        # MERGES into the still-open boundary window (end > wm1) — its
        # count doubles.  Emitted set = windows whose end clears the final
        # watermark.  A drop-path regression shows up as doubled counts or
        # duplicate append rows; a merge-path regression as a missing
        # double on the boundary window.
        "st_late_events": f"""
            WITH wm AS (
                SELECT max(ts) - INTERVAL 30 MINUTE AS wmf,
                       max(CASE WHEN ts < TIMESTAMP '{LT.SPLIT1}' THEN ts END)
                           - INTERVAL 30 MINUTE AS wm1
                FROM events
            )
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                       AS window_start,
                   event_type,
                   CAST(count(*) + CASE
                        WHEN date_trunc('hour', min(ts)) + INTERVAL 1 HOUR > wm1
                        THEN count(CASE WHEN ts < TIMESTAMP '{LT.SPLIT1}'
                                        THEN 1 END)
                        ELSE 0 END AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events, wm
            GROUP BY window_start, event_type, wmf, wm1
            HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= wmf
            ORDER BY window_start, event_type
        """,
        # stream-static enrichment: batch twin = plain dim-join rollup with
        # the tier CASE re-derived from the user_tier_dim formula (ids
        # beyond the dim would coalesce to 'unknown'; this corpus's user
        # space is exactly the dim's range)
        "st_static_enrich": f"""
            SELECT CASE WHEN user_id < 150 THEN
                        CASE user_id % {ST_TIER_MOD}
                             WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                             ELSE 'bronze' END
                        ELSE 'unknown' END AS tier,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events GROUP BY 1, 2 ORDER BY tier, event_type
        """,
        # stream-stream attribution join: the batch twin is the plain
        # interval join — the streaming machinery (watermarks, state
        # eviction) must be output-invisible on a bounded replay
        "st_stream_join": f"""
            WITH v AS (
                SELECT event_id AS view_id, user_id, ts AS view_ts
                FROM events WHERE event_type = 'view'
            ), c AS (
                SELECT event_id AS click_id, user_id, ts AS click_ts
                FROM events WHERE event_type = 'click'
            )
            SELECT v.user_id, view_id, click_id,
                   CAST(floor(epoch(view_ts)) AS BIGINT) AS view_ts_s,
                   CAST(floor(epoch(click_ts)) AS BIGINT) AS click_ts_s
            FROM v JOIN c ON v.user_id = c.user_id
                AND c.click_ts >= v.view_ts
                AND c.click_ts <= v.view_ts + INTERVAL {ST_ATTR_HOURS} HOURS
            ORDER BY v.user_id, view_id, click_id
        """,
        "st_window_counts": """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(event_id) AS min_event_id,
                   max(event_id) AS max_event_id
            FROM events
            GROUP BY window_start, event_type
            ORDER BY window_start, event_type
        """,
        # JSONL round-trip: html synthesized as '<html><body>'||text||...,
        # so both md5 pins are recomputable from documents alone
        "u_jsonl_roundtrip": """
            SELECT doc_id,
                   'doc://' || source || '/' || doc_id AS url,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars_rt,
                   md5(text) AS text_md5,
                   md5('<html><body>' || text || '</body></html>') AS html_md5
            FROM documents ORDER BY doc_id
        """,
        # ORC round trip: same fidelity contract as jsonl — the oracle
        # recomputes both hashes from documents alone
        "u_orc_roundtrip": """
            SELECT doc_id,
                   'doc://' || source || '/' || doc_id AS url,
                   lang,
                   CAST(length(text) AS BIGINT) AS n_chars_rt,
                   md5(text) AS text_md5,
                   md5('<html><body>' || text || '</body></html>') AS html_md5
            FROM documents ORDER BY doc_id
        """,
        # --- corpus curation ---
        # fuzzy decontamination: the SAME banded layer as d_minhash_lsh,
        # bench side = doc_id%37==0 members, exact-Jaccard verify in
        # integer bp (shared fragment: _fuzzy_ctes, also composed by
        # c_contamination_report)
        "c_decontaminate_fuzzy": bands_cte + _fuzzy_ctes + """
            SELECT doc_id, bench_id, n_shared_bands, jaccard_bp
            FROM fuzzy ORDER BY doc_id, bench_id
        """,
        # eval-integrity report: per benchmark item, how many OTHER corpus
        # docs hit it exactly (any shared snippet trigram) vs fuzzily
        # (near-copy-level Jaccard) — the fuzzy CTE is the shared fragment
        "c_contamination_report": bands_cte + _fuzzy_ctes + f"""
            , bitems AS (
                SELECT doc_id AS bench_id FROM documents
                WHERE doc_id % {C.BENCH_MOD} = 0
            ), bsh AS (
                SELECT DISTINCT doc_id AS bench_id,
                       unnest(list_distinct({_SNIP_SHINGLES})) AS s
                FROM documents WHERE doc_id % {C.BENCH_MOD} = 0
            ), docsh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_distinct({_SHINGLES})) AS s
                FROM documents
            ), ex AS (
                SELECT b.bench_id,
                       count(DISTINCT d.doc_id) AS n_exact_docs
                FROM bsh b JOIN docsh d USING (s)
                WHERE d.doc_id <> b.bench_id GROUP BY b.bench_id
            ), fz AS (
                SELECT bench_id, count(DISTINCT doc_id) AS n_fuzzy_docs
                FROM fuzzy WHERE doc_id <> bench_id GROUP BY bench_id
            )
            SELECT bi.bench_id,
                   CAST(coalesce(ex.n_exact_docs, 0) AS BIGINT)
                       AS n_exact_docs,
                   CAST(coalesce(fz.n_fuzzy_docs, 0) AS BIGINT)
                       AS n_fuzzy_docs
            FROM bitems bi
            LEFT JOIN ex ON ex.bench_id = bi.bench_id
            LEFT JOIN fz ON fz.bench_id = bi.bench_id
            ORDER BY bi.bench_id
        """,
        # benchmark = first-8-word snippets of doc_id%37==0 docs; a doc is
        # contaminated iff it shares a distinct word-3-gram with any snippet
        "c_decontaminate": f"""
            WITH bench AS (
                SELECT DISTINCT unnest(list_distinct({_SNIP_SHINGLES})) AS s
                FROM documents WHERE doc_id % {C.BENCH_MOD} = 0
            ), docsh AS (
                SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s FROM documents
            ), hits AS (
                SELECT doc_id, count(*) AS n_hits
                FROM docsh JOIN bench USING (s) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(len(list_distinct({_SHINGLES})) AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            ORDER BY d.doc_id
        """,
        # the Bloom variant is output-identical by construction (no false
        # negatives + exact verify of survivors) — it is held to the SAME
        # oracle text, aliased after the dict literal below
        # synthetic PII re-derived from doc_id, counts on the pre-redaction
        # text, clean_md5 pins the redacted bytes (email -> ip -> phone order)
        "c_pii_scrub": """
            WITH pii AS (
                SELECT doc_id, text || CASE
                    WHEN doc_id % 4 = 0 THEN ' Contact user' || doc_id ||
                        '@example.com or admin' || doc_id || '@mail.example.org.'
                    WHEN doc_id % 4 = 1 THEN ' Origin server 10.' || (doc_id % 256)
                        || '.' || ((doc_id // 256) % 256) || '.' || (doc_id % 100 + 1)
                        || ' logged.'
                    WHEN doc_id % 4 = 2 THEN ' Call +1-555-' ||
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
                    ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '""" + C.EMAIL_RE + """')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '""" + C.IP_RE + """')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text, '""" + C.PHONE_RE + """')) AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '""" + C.EMAIL_RE + """', '<EMAIL>', 'g'),
                       '""" + C.IP_RE + """', '<IP>', 'g'),
                       '""" + C.PHONE_RE + """', '<PHONE>', 'g')) AS clean_md5
            FROM pii ORDER BY doc_id
        """,
        # charset sniff: the engine detects BOMs / validates UTF-8 / decodes
        # REAL re-encoded bytes (incl. UTF-16, which DuckDB cannot decode);
        # the oracle predicts label + decoded-text md5 from the synthesis
        # formula — same contract as mojibake, labels interpolated
        "c_charset_sniff": f"""
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 1 THEN '{C.CHARSET_UTF8_BOM}'
                     WHEN 2 THEN '{C.CHARSET_UTF16_LE}'
                     WHEN 3 THEN '{C.CHARSET_UTF16_BE}'
                     WHEN 4 THEN '{C.CHARSET_LATIN1}'
                     ELSE '{C.CHARSET_UTF8}' END AS charset,
                   CASE WHEN doc_id % 5 = 4 THEN md5(text || 'é.')
                        ELSE md5(text) END AS text_md5
            FROM documents ORDER BY doc_id
        """,
        # NFC normalization: unlike the formula-prediction oracles, DuckDB
        # computes nfc_normalize ITSELF (ICU) and must byte-agree with
        # Python's unicodedata on every canonical form; injection suffixes
        # interpolate from the operator module
        "c_nfc_normalize": f"""
            WITH inj AS (
                SELECT doc_id, CASE
                    WHEN doc_id % 3 = 0 THEN text || '{C.NFC_DECOMP_SUFFIX}'
                    WHEN doc_id % 3 = 1 THEN text || '{C.NFC_COMP_SUFFIX}'
                    ELSE text END AS t
                FROM documents
            )
            SELECT doc_id,
                   t <> nfc_normalize(t) AS changed,
                   md5(nfc_normalize(t)) AS text_md5
            FROM inj ORDER BY doc_id
        """,
        # dehyphenation: DuckDB regexp_replaces the SAME constructed bytes
        # with the shared pattern ('g' = Spark's global default, '\\1' =
        # Java's '$1') — real-bytes agreement, not a formula prediction
        # invisible scrub: injection formulas + the INVISIBLE_RE class
        # interpolated from the curation constants (raw bytes for the
        # >U+00FF members, \\xhh regex escapes for the control range —
        # Java regex and RE2 read the identical pattern text)
        "c_invisible_scrub": f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 5
                    WHEN 1 THEN text || '{C.INVIS_SUFFIX_1}'
                    WHEN 2 THEN '{C.INVIS_PREFIX_2}' || text || '{C.INVIS_SUFFIX_2}'
                    WHEN 3 THEN text || '{C.INVIS_SUFFIX_3}'
                    ELSE text END AS t
                FROM documents
            ), fx AS (
                SELECT doc_id, t,
                       regexp_replace(t, '{C.INVISIBLE_RE}', '', 'g') AS clean
                FROM inj
            )
            SELECT doc_id,
                   CAST(length(t) - length(clean) AS BIGINT) AS n_stripped,
                   (length(t) <> length(clean)) AS changed,
                   md5(clean) AS text_md5
            FROM fx ORDER BY doc_id
        """,
        "c_dehyphenate": f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 4
                    WHEN 1 THEN text || ' broad-' || chr(10) ||
                                'casting net-' || chr(10) || 'works'
                    WHEN 2 THEN text || ' Wi-' || chr(10) ||
                                'Fi upper-' || chr(10) || 'Case'
                    WHEN 3 THEN text || ' self-' || chr(10) || 'service'
                    ELSE text END AS t
                FROM documents
            ), fx AS (
                SELECT doc_id, t,
                       regexp_replace(t, '{C.DEHYPHEN_RE}', '\\1\\2', 'g')
                           AS fixed
                FROM inj
            )
            SELECT doc_id,
                   CAST((length(t) - length(fixed)) / 2 AS BIGINT) AS n_joins,
                   md5(fixed) AS text_md5
            FROM fx ORDER BY doc_id
        """,
        # composed ingest chain: decoded text predicted from the synthesis
        # formula, NFC computed INDEPENDENTLY by DuckDB's ICU, gate via the
        # shared _gate_cte_for fragment on the normalized text — one hash
        # over the whole chain (corpus_build doctrine)
        "c_ingest_pipeline": f"""
            WITH dec AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 1 THEN '{C.CHARSET_UTF8_BOM}'
                         WHEN 2 THEN '{C.CHARSET_UTF16_LE}'
                         WHEN 3 THEN '{C.CHARSET_UTF16_BE}'
                         WHEN 4 THEN '{C.CHARSET_LATIN1}'
                         ELSE '{C.CHARSET_UTF8}' END AS charset,
                       CASE WHEN doc_id % 5 = 4 THEN text || 'é.'
                            ELSE text END AS raw
                FROM documents
            ), norm AS (
                SELECT doc_id, charset,
                       raw <> nfc_normalize(raw) AS nfc_changed,
                       nfc_normalize(raw) AS text
                FROM dec
            ), {_gate_cte_for("norm")}
            SELECT n.doc_id, n.charset, n.nfc_changed,
                   (g.reasons = '') AS passed, md5(n.text) AS text_md5
            FROM norm n JOIN gated g USING (doc_id)
            ORDER BY n.doc_id
        """,
        # mojibake repair: the engine decodes real double-encoded bytes;
        # the oracle knows what the repair MUST produce (injection formula
        # in proper UTF-8) — a wrong charset hop breaks the md5
        "c_mojibake": f"""
            SELECT doc_id,
                   doc_id % {C.MOJIBAKE_MOD} IN (0, 3) AS had_mojibake,
                   md5(text || CASE
                       WHEN doc_id % {C.MOJIBAKE_MOD} = 0 THEN ' summer café menu'
                       WHEN doc_id % {C.MOJIBAKE_MOD} = 3 THEN ' naïve résumé attached'
                       ELSE '' END) AS repaired_md5
            FROM documents ORDER BY doc_id
        """,
        # hash-deterministic per-language sampling (rates in bp of 10000)
        "c_stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('smpl:' || doc_id), 1, 8)) AS BIGINT)
                  % 10000 < CASE lang {_rate_cases} ELSE -1 END
            ORDER BY doc_id
        """,
        # link graph: anchors synthesized from doc_id ring formulas; the
        # Spark side runs the full html-assembly + regexp href extraction
        "u_outlinks": f"""
            WITH edges AS ({_edges_sql})
            SELECT src,
                   'https://node' || dst || '.example.com/doc/' || dst AS href,
                   dst
            FROM edges ORDER BY src, href
        """,
        # rel-hint links: the (doc_id + slot) % 5 relation formula joined
        # to the same ring targets; followed iff no hint token
        "u_outlinks_nofollow": f"""
            WITH l AS ({" UNION ALL ".join(
                f"SELECT doc_id AS src, "
                f"(doc_id * {m} + {a}) % (SELECT count(*) FROM documents) "
                f"AS dst, (doc_id + {k}) % 5 AS r FROM documents"
                for k, (m, a) in enumerate(LG.LINK_PARAMS))})
            SELECT src,
                   'https://node' || dst || '.example.com/doc/' || dst AS href,
                   dst,
                   CASE r WHEN 0 THEN 'nofollow' WHEN 1 THEN 'ugc'
                        WHEN 2 THEN 'sponsored' ELSE '' END AS rel,
                   r >= 3 AS followed
            FROM l ORDER BY src, href, rel
        """,
        # PageRank restricted to followed edges: the SAME unrolled pr CTE
        # over the r>=3 subset of the rel-hint link formula
        "g_pagerank_followed": f"""
            WITH edges AS (
                SELECT src, dst FROM ({" UNION ALL ".join(
                    f"SELECT doc_id AS src, "
                    f"(doc_id * {m} + {a}) % "
                    f"(SELECT count(*) FROM documents) AS dst, "
                    f"(doc_id + {k}) % 5 AS r FROM documents"
                    for k, (m, a) in enumerate(LG.LINK_PARAMS))})
                WHERE r >= 3
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte}
            SELECT doc_id, rank FROM pr5 ORDER BY doc_id
        """,
        "g_pagerank": f"""
            WITH edges AS ({_edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte}
            SELECT doc_id, rank FROM pr5 ORDER BY doc_id
        """,
        # co-citation: self-join on the citing source, ordered pair count
        "g_cocitation": f"""
            WITH edges AS ({_edges_sql})
            SELECT a.dst AS dst_a, b.dst AS dst_b,
                   CAST(count(DISTINCT a.src) AS BIGINT) AS n_cociting
            FROM edges a JOIN edges b
              ON a.src = b.src AND a.dst < b.dst
            GROUP BY dst_a, dst_b HAVING count(DISTINCT a.src) >= 2
            ORDER BY dst_a, dst_b
        """,
        # one-row graph audit; n_reciprocal counts edges (incl. duplicate
        # edges) whose reverse exists — EXISTS = the left_semi twin
        "g_graph_stats": f"""
            WITH edges AS ({_edges_sql})
            SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
                   CAST((SELECT count(DISTINCT src) FROM edges) AS BIGINT) AS n_srcs,
                   CAST((SELECT count(DISTINCT dst) FROM edges) AS BIGINT) AS n_dsts,
                   CAST((SELECT max(c) FROM (
                        SELECT count(*) AS c FROM edges GROUP BY src) t)
                        AS BIGINT) AS max_outdeg,
                   CAST((SELECT max(c) FROM (
                        SELECT count(*) AS c FROM edges GROUP BY dst) t)
                        AS BIGINT) AS max_indeg,
                   CAST((SELECT count(*) FROM edges e WHERE EXISTS (
                        SELECT 1 FROM edges r
                        WHERE r.src = e.dst AND r.dst = e.src))
                        AS BIGINT) AS n_reciprocal
        """,
        # BFS seed depth: depth-bounded recursive walk, min(d) per node —
        # the CTE twin of the iterative min-depth propagation (seed mod
        # and horizon interpolated)
        "g_seed_depth": f"""
            WITH RECURSIVE edges AS ({_edges_sql}),
            walk(node, d) AS (
                SELECT doc_id, 0 FROM documents
                WHERE doc_id % {LG.TRUST_SEED_MOD} = 0
                UNION
                SELECT e.dst, w.d + 1
                FROM walk w JOIN edges e ON e.src = w.node
                WHERE w.d < {LG.SEED_DEPTH_HOPS}
            )
            SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS depth
            FROM walk GROUP BY node ORDER BY doc_id
        """,
        # host-graph compression: the ring edges mapped through the SAME
        # canon host map on both endpoints, self-loops dropped, distinct
        # linking pages counted (the cocitation distinct-citer doctrine)
        "g_host_graph": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            j AS (
                SELECT cs.host AS src_host, cd.host AS dst_host, e.src
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            )
            SELECT src_host, dst_host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages
            FROM j GROUP BY src_host, dst_host ORDER BY src_host, dst_host
        """,
        # weighted LPA over the host graph: undirected weight = summed
        # bidirectional n_links (exact BIGINT); K unrolled synchronous
        # rounds, neighbor-only votes, isolated hosts self-labeled
        "g_communities": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT cs.host AS a, cd.host AS b, count(*) AS nl
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host GROUP BY 1, 2
            ),
            ue AS (
                SELECT a, b, CAST(sum(nl) AS BIGINT) AS w FROM (
                    SELECT a, b, nl FROM hg
                    UNION ALL SELECT b AS a, a AS b, nl FROM hg)
                GROUP BY a, b
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            lab0 AS (SELECT host, host AS label FROM nodes){_lpa_rounds_sql},
            sizes AS (
                SELECT label, CAST(count(*) AS BIGINT) AS community_size
                FROM {_lpa_prev} GROUP BY label
            )
            SELECT l.host, l.label AS community, s.community_size
            FROM {_lpa_prev} l JOIN sizes s USING (label)
            ORDER BY l.host
        """,
        # novelty: shared _SHINGLES stream, first-seen = min(doc_id),
        # integer-bp marginal fraction
        "t_novelty": f"""
            WITH sh AS (
                SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS s
                FROM documents
            ), fs AS (
                SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
            ), per AS (
                SELECT sh.doc_id,
                       CAST(count(*) AS BIGINT) AS n_shingles,
                       CAST(sum(CASE WHEN fs.first_doc = sh.doc_id
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                FROM sh JOIN fs USING (s) GROUP BY sh.doc_id
            )
            SELECT doc_id, n_shingles, n_novel,
                   CAST((10000 * n_novel) // n_shingles AS BIGINT) AS novelty_bp
            FROM per ORDER BY doc_id
        """,
        # fertility: one groupBy on the lang dim, shared pretoken regex,
        # integer-bp ratios
        "t_fertility": f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_words,
                   CAST(sum(len(regexp_extract_all(text,
                        '{TS.BPE_PRETOKEN_RE}'))) AS BIGINT) AS n_pretokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST((10000 * sum(len(regexp_extract_all(text,
                        '{TS.BPE_PRETOKEN_RE}'))))
                        // sum(len({_TOKS})) AS BIGINT) AS fertility_bp,
                   CAST((10000 * sum(length(text)))
                        // sum(len(regexp_extract_all(text,
                           '{TS.BPE_PRETOKEN_RE}'))) AS BIGINT)
                       AS chars_per_pretoken_bp
            FROM documents GROUP BY lang ORDER BY lang
        """,
        # reciprocity: distinct host pairs self-joined on the swapped key
        "g_reciprocity": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            r AS (
                SELECT count(*) AS recip FROM hg a
                WHERE EXISTS (SELECT 1 FROM hg b
                              WHERE b.s = a.d AND b.d = a.s)
            ),
            n AS (SELECT count(*) AS n_edges FROM hg)
            SELECT CAST(n.n_edges AS BIGINT) AS n_edges,
                   CAST(r.recip AS BIGINT) AS n_reciprocated,
                   CAST(CASE WHEN n.n_edges = 0 THEN 0
                             ELSE (10000 * r.recip) // n.n_edges END
                        AS BIGINT) AS reciprocity_bp
            FROM n, r
        """,
        # degree histogram: distinct-pair host graph, floor(log2) bins via
        # the shared length(bin(x))-1 integer-log idiom
        "g_degree_dist": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            degs AS (
                SELECT 'out' AS direction, s AS h, count(*) AS deg
                FROM hg GROUP BY s
                UNION ALL
                SELECT 'in' AS direction, d AS h, count(*) AS deg
                FROM hg GROUP BY d
            )
            SELECT direction, CAST(length(bin(deg)) - 1 AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_hosts,
                   CAST(min(deg) AS BIGINT) AS min_deg,
                   CAST(max(deg) AS BIGINT) AS max_deg
            FROM degs GROUP BY direction, bin ORDER BY direction, bin
        """,
        # k-core: degrees seed kh0, then KCORE_ROUNDS unrolled h-index
        # updates — the literal twin of the Spark loop (same tie-broken
        # row_number, same >=-rank fold)
        # harmonic centrality: the same recursive bounded-BFS pair set,
        # folded per DESTINATION as sum(1e6 // d) in exact micro-units;
        # left join keeps unreached hosts at zero
        "g_harmonic": f"""
            WITH RECURSIVE {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS src, cd.host AS dst
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            reach(src, dst, d) AS (
                SELECT host, host, 0 FROM nodes
                UNION
                SELECT r.src, h.dst, r.d + 1
                FROM reach r JOIN hg h ON r.dst = h.src
                WHERE r.d < {LG.NEIGHBORHOOD_T}
            ),
            pairs AS (
                SELECT src, dst, min(d) AS t FROM reach GROUP BY src, dst
            ),
            h AS (
                SELECT dst AS host,
                       CAST(count(*) AS BIGINT) AS n_sources,
                       CAST(sum(1000000 // t) AS BIGINT) AS h_micro
                FROM pairs WHERE t > 0 GROUP BY dst
            )
            SELECT n.host,
                   CAST(coalesce(h.n_sources, 0) AS BIGINT) AS n_sources,
                   CAST(coalesce(h.h_micro, 0) AS BIGINT) AS h_micro
            FROM nodes n LEFT JOIN h ON h.host = n.host
            ORDER BY h_micro DESC, n.host
        """,
        # neighborhood function: recursive bounded BFS over the directed
        # host graph; min(d) per ordered pair is the exact distance (a
        # shortest path's prefix is a shortest path), cumulative windows
        # give N(t), integer basis points + first-crossing flag mark the
        # 90% effective diameter — the literal twin of the Spark layering
        "g_neighborhood": f"""
            WITH RECURSIVE {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS src, cd.host AS dst
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            reach(src, dst, d) AS (
                SELECT host, host, 0 FROM nodes
                UNION
                SELECT r.src, h.dst, r.d + 1
                FROM reach r JOIN hg h ON r.dst = h.src
                WHERE r.d < {LG.NEIGHBORHOOD_T}
            ),
            pairs AS (
                SELECT src, dst, min(d) AS t FROM reach GROUP BY src, dst
            ),
            per_t AS (
                SELECT t, CAST(count(*) AS BIGINT) AS new_pairs
                FROM pairs GROUP BY t
            ),
            cum AS (
                SELECT t, new_pairs,
                       CAST(sum(new_pairs) OVER (ORDER BY t) AS BIGINT)
                           AS n_pairs,
                       CAST(sum(new_pairs) OVER () AS BIGINT) AS total
                FROM per_t
            )
            SELECT CAST(t AS BIGINT) AS t, new_pairs, n_pairs,
                   CAST(n_pairs * 10000 // total AS BIGINT) AS pct_bp,
                   (n_pairs * 10000 // total >= 9000
                    AND coalesce(lag(n_pairs * 10000 // total)
                                 OVER (ORDER BY t), 0) < 9000)
                       AS is_eff_diameter
            FROM cum ORDER BY t
        """,
        "g_kcore": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            und AS (
                SELECT DISTINCT least(cs.host, cd.host) AS a,
                                greatest(cs.host, cd.host) AS b
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            sym AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und
            ),
            kh0 AS (SELECT u, CAST(count(*) AS BIGINT) AS val
                    FROM sym GROUP BY u){_kcore_rounds_sql}
            SELECT n.host, CAST(coalesce(h.val, 0) AS BIGINT) AS core
            FROM (SELECT DISTINCT host FROM canon) n
            LEFT JOIN {_kcore_last} h ON h.u = n.host
            ORDER BY n.host
        """,
        # triangles: same undirected host edges, degree-ordered
        # orientation via row comparison (deg, host) — the literal twin of
        # the Spark struct key; wedges close through an EXISTS on the
        # oriented table, corners explode via UNION ALL
        "g_triangles": f"""
            WITH {_url_cte},
            edges AS ({_edges_sql}),
            und AS (
                SELECT DISTINCT least(cs.host, cd.host) AS a,
                                greatest(cs.host, cd.host) AS b
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            deg AS (
                SELECT host, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS host FROM und
                    UNION ALL SELECT b AS host FROM und)
                GROUP BY host
            ),
            o AS (
                SELECT CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN u.a ELSE u.b END AS u,
                       CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN u.b ELSE u.a END AS v,
                       CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN db.degree ELSE da.degree END AS dv
                FROM und u
                JOIN deg da ON da.host = u.a
                JOIN deg db ON db.host = u.b
            ),
            tris AS (
                SELECT o1.u, o1.v, o2.v AS w
                FROM o o1 JOIN o o2 ON o2.u = o1.u
                WHERE (o1.dv, o1.v) < (o2.dv, o2.v)
                  AND EXISTS (SELECT 1 FROM o o3
                              WHERE o3.u = o1.v AND o3.v = o2.v)
            ),
            tcount AS (
                SELECT host, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                    SELECT u AS host FROM tris
                    UNION ALL SELECT v AS host FROM tris
                    UNION ALL SELECT w AS host FROM tris)
                GROUP BY host
            ),
            nodes AS (SELECT DISTINCT host FROM canon)
            SELECT n.host,
                   CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
                   CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CAST(CASE WHEN coalesce(d.degree, 0) >= 2
                             THEN (20000 * coalesce(t.n_triangles, 0))
                                  // (d.degree * (d.degree - 1))
                             ELSE 0 END AS BIGINT) AS cc_bp
            FROM nodes n
            LEFT JOIN deg d USING (host)
            LEFT JOIN tcount t USING (host)
            ORDER BY n.host
        """,
        # bow-tie: fwd/bwd depth-bounded recursive reachability from the
        # min-host pivot over the distinct host edges; region = flag CASE
        "g_bowtie": f"""
            WITH RECURSIVE {_url_cte},
            edges AS ({_edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            piv AS (SELECT min(h) AS p FROM
                    (SELECT s AS h FROM hg UNION SELECT d FROM hg)),
            fw(host, dep) AS (
                SELECT p, 0 FROM piv
                UNION
                SELECT hg.d, dep + 1 FROM fw JOIN hg ON hg.s = fw.host
                WHERE dep < {LG.BOWTIE_HOPS}
            ),
            bw(host, dep) AS (
                SELECT p, 0 FROM piv
                UNION
                SELECT hg.s, dep + 1 FROM bw JOIN hg ON hg.d = bw.host
                WHERE dep < {LG.BOWTIE_HOPS}
            ),
            f AS (SELECT DISTINCT host FROM fw),
            b AS (SELECT DISTINCT host FROM bw),
            nodes AS (SELECT DISTINCT host FROM canon)
            SELECT n.host,
                   CASE WHEN f.host IS NOT NULL AND b.host IS NOT NULL THEN 'core'
                        WHEN b.host IS NOT NULL THEN 'in'
                        WHEN f.host IS NOT NULL THEN 'out'
                        ELSE 'other' END AS region
            FROM nodes n
            LEFT JOIN f ON f.host = n.host
            LEFT JOIN b ON b.host = n.host
            ORDER BY n.host
        """,
        # TrustRank: seeded teleport — non-seed pages hold only flowed trust
        "g_trustrank": f"""
            WITH edges AS ({_edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_tr_cte}
            SELECT doc_id, trust FROM tr5 ORDER BY doc_id
        """,
        # spam mass: pr5 minus tr5 rescaled by n_docs/n_seeds — the scaled
        # trust uses the decomposed product (== (trust*n) // s exactly);
        # rel bp floors negatives at 0 so // and div agree cross-engine
        "g_spam_mass": f"""
            WITH edges AS ({_edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            {_tr_cte},
            c AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
                FROM documents
            )
            SELECT p.doc_id, p.rank, t.trust,
                   CAST(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds)
                        AS BIGINT) AS spam_mass,
                   CAST((greatest(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds),
                        0) * 10000) // p.rank AS BIGINT) AS rel_mass_bp,
                   ((greatest(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds),
                        0) * 10000) // p.rank)
                        >= {LG.SPAM_MASS_SUSPECT_BP} AS suspect
            FROM pr5 p JOIN tr5 t USING (doc_id) CROSS JOIN c
            ORDER BY p.doc_id
        """,
        # un-normalized HITS: a' = sum h over in-edges, h' = sum a' over
        # out-edges; BIGINT sums are order-independent, the ranking is
        # the consumable (normalization is presentation)
        "g_hits": f"""
            WITH edges AS ({_edges_sql}),
            {_hits_cte}
            SELECT h{_K}.doc_id, h{_K}.h AS hub, a{_K}.a AS authority
            FROM h{_K} JOIN a{_K} USING (doc_id) ORDER BY doc_id
        """,
        # PPR: per-seed singleton _rank_cte chains (same builder as
        # pagerank/trustrank), top-k excluding the seed, zero-mass pages
        # are not related
        "g_related": f"""
            WITH edges AS ({_edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_ppr_ctes}
            SELECT * FROM ({_ppr_final})
            ORDER BY seed_id, rel_rank
        """,
        # assortativity: same per-edge degree join, one-row fold
        "g_assortativity": f"""
            WITH edges AS ({_edges_sql}),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS x
                   FROM edges GROUP BY src),
            idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS y
                    FROM edges GROUP BY dst),
            exy AS (
                SELECT od.x, idg.y
                FROM edges e JOIN od ON od.src = e.src
                JOIN idg ON idg.dst = e.dst
            ), m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_edges,
                       CAST(sum(x) AS BIGINT) AS sum_x,
                       CAST(sum(y) AS BIGINT) AS sum_y,
                       CAST(sum(x * y) AS BIGINT) AS sum_xy,
                       CAST(sum(x * x) AS BIGINT) AS sum_x2,
                       CAST(sum(y * y) AS BIGINT) AS sum_y2
                FROM exy
            )
            SELECT *,
                   CAST(n_edges * sum_xy - sum_x * sum_y AS BIGINT)
                       AS cov_num,
                   CAST(sign(n_edges * sum_xy - sum_x * sum_y) AS BIGINT)
                       AS cov_sign
            FROM m
        """,
        # SALSA: the same unrolled chain with degree-normalized floors
        "g_salsa": f"""
            WITH edges AS ({_edges_sql}),
            {_salsa_cte}
            SELECT sh{_SK}.doc_id, sh{_SK}.h AS hub, sa{_SK}.a AS authority
            FROM sh{_SK} JOIN sa{_SK} USING (doc_id) ORDER BY doc_id
        """,
        # CCNet-style fluency proxy: unigram vocab (top-256 by count desc,
        # token asc) fitted on the doc_id%7==0 clean subset; per-doc integer
        # coverage + summed frequency ranks (no float log-probs — exact)
        "c_lm_coverage": f"""
            WITH cl AS (
                SELECT unnest(list_transform({_TOKS}, t -> lower(t))) AS token
                FROM documents WHERE doc_id % {C.CLEAN_MOD} = 0
            ), vc AS (
                SELECT token, count(*) AS cnt FROM cl GROUP BY token
            ), vocab AS (
                SELECT token,
                       row_number() OVER (ORDER BY cnt DESC, token) AS rank
                FROM vc QUALIFY rank <= {C.VOCAB_SIZE}
            ), ex AS (
                SELECT doc_id,
                       unnest(list_transform({_TOKS}, t -> lower(t))) AS token
                FROM documents
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(v.rank) AS BIGINT) AS n_in_vocab,
                   CAST((count(v.rank) * 10000) // count(*) AS BIGINT) AS coverage_bp,
                   CAST(coalesce(sum(v.rank), 0) AS BIGINT) AS sum_rank
            FROM ex LEFT JOIN vocab v USING (token)
            GROUP BY doc_id ORDER BY doc_id
        """,
        # sequential token-budget packing within each source
        # global shuffle: same md5 hash key, same (h, doc_id) rank in SQL
        "c_global_shuffle": f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{C.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h
                FROM documents
            ), sh AS (
                SELECT doc_id, h,
                       ((h % {C.SHUFFLE_SHARDS}) + {C.SHUFFLE_SHARDS})
                       % {C.SHUFFLE_SHARDS} AS shard
                FROM k
            )
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard
                        ORDER BY h ASC, doc_id ASC) - 1 AS BIGINT) AS pos
            FROM sh ORDER BY doc_id
        """,
        # holdout split: k-smallest (md5, doc_id) hash ranks per source
        # leakage audit: the bands_cte pair chain at the 0.5 default +
        # the holdout hash-rank rule, one crossing join, zero-filled
        "c_leakage_audit": bands_cte + f"""
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            ), pairs AS (
                SELECT c.doc_a, c.doc_b
                FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                            JOIN sh sb ON sb.doc_id = c.doc_b
                WHERE round(len(list_intersect(sa.shingles, sb.shingles))
                      / len(list_distinct(
                            list_concat(sa.shingles, sb.shingles))), 4)
                      >= 0.5
            ), sp AS (
                SELECT doc_id, source,
                       CASE WHEN row_number() OVER (
                                PARTITION BY source ORDER BY
                                CAST(('0x' || substr(md5('{C.HOLDOUT_SEED}:'
                                    || doc_id), 1, 8)) AS BIGINT), doc_id)
                                <= {C.HOLDOUT_K}
                            THEN 'holdout' ELSE 'train' END AS split
                FROM documents
            ), crossing AS (
                SELECT CASE WHEN x.split = 'holdout' THEN p.doc_a
                            ELSE p.doc_b END AS holdout_doc
                FROM pairs p
                JOIN sp x ON x.doc_id = p.doc_a
                JOIN sp y ON y.doc_id = p.doc_b
                WHERE x.split <> y.split
            ), leaks AS (
                SELECT s2.source,
                       CAST(count(*) AS BIGINT) AS n_leaky_pairs,
                       CAST(count(DISTINCT c.holdout_doc) AS BIGINT)
                           AS n_leaky_holdout_docs
                FROM crossing c JOIN sp s2 ON s2.doc_id = c.holdout_doc
                GROUP BY s2.source
            ), sizes AS (
                SELECT source,
                       CAST(sum(CASE WHEN split = 'train' THEN 1
                                ELSE 0 END) AS BIGINT) AS n_train,
                       CAST(sum(CASE WHEN split = 'holdout' THEN 1
                                ELSE 0 END) AS BIGINT) AS n_holdout
                FROM sp GROUP BY source
            )
            SELECT z.source, z.n_train, z.n_holdout,
                   coalesce(l.n_leaky_pairs, 0) AS n_leaky_pairs,
                   coalesce(l.n_leaky_holdout_docs, 0)
                       AS n_leaky_holdout_docs
            FROM sizes z LEFT JOIN leaks l USING (source)
            ORDER BY source
        """,
        "c_holdout_split": f"""
            WITH hr AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY
                           CAST(('0x' || substr(md5('{C.HOLDOUT_SEED}:'
                                                    || doc_id), 1, 8))
                                AS BIGINT), doc_id) AS rk
                FROM documents
            )
            SELECT doc_id, source,
                   CASE WHEN rk <= {C.HOLDOUT_K} THEN 'holdout'
                        ELSE 'train' END AS split
            FROM hr ORDER BY doc_id
        """,
        # CMS heavy hitters: counters rebuilt from the distinct-term dim
        # with the same affine hash rows; min-over-rows estimate; the
        # one-sided guarantee as exact integer verdicts
        "t_cms_heavy_hitters": f"""
            WITH ctoks AS (
                SELECT unnest({_TOKS}) AS term FROM documents
            ), ccounts AS (
                SELECT term, count(*) AS cnt FROM ctoks GROUP BY term
            ), cpar AS (
                SELECT * FROM (VALUES {", ".join(
                    f"({i}, {a}, {b})"
                    for i, (a, b) in enumerate(TS.CMS_PARAMS)
                )}) p(row_i, a, b)
            ), cbk AS (
                SELECT c.term, c.cnt, p.row_i,
                       ((p.a * {_H32.format(x='c.term')} + p.b)
                        % 4294967296) % {TS.CMS_W} AS bucket
                FROM ccounts c CROSS JOIN cpar p
            ), ccells AS (
                SELECT row_i, bucket, sum(cnt) AS cell
                FROM cbk GROUP BY row_i, bucket
            ), cest AS (
                SELECT b.term, b.cnt, min(l.cell) AS cms_est
                FROM cbk b JOIN ccells l
                  ON l.row_i = b.row_i AND l.bucket = b.bucket
                GROUP BY b.term, b.cnt
            ), ctot AS (SELECT sum(cnt) AS n FROM ccounts),
            ctop AS (
                SELECT * FROM cest ORDER BY cnt DESC, term
                LIMIT {TS.CMS_TOPK}
            )
            SELECT term, CAST(cnt AS BIGINT) AS true_count,
                   CAST(cms_est AS BIGINT) AS cms_est,
                   CAST(cms_est - cnt AS BIGINT) AS overcount,
                   (cms_est - cnt) * {TS.CMS_W}
                       <= {TS.CMS_EPS_NUM} * n AS within_eps
            FROM ctop, ctot ORDER BY true_count DESC, term
        """,
        # epoch-repeat plan: the same e_bp = budget*w div src_tokens rule
        # as c_mixture_resample, rolled to the source dim with the
        # 4-epoch healthy bound
        "c_epoch_plan": f"""
            WITH wt AS (SELECT * FROM (VALUES {", ".join(
                f"('{s}', {w})" for s, w in sorted(C.MIXTURE_WEIGHTS.items())
            )}) w(source, weight_bp)),
            tot AS (
                SELECT d.source, w.weight_bp,
                       CAST(sum(len({_TOKS})) AS BIGINT) AS src_tokens
                FROM documents d JOIN wt w ON w.source = d.source
                GROUP BY d.source, w.weight_bp
            )
            SELECT source, CAST(weight_bp AS BIGINT) AS weight_bp,
                   src_tokens,
                   CAST(({C.EPOCH_BUDGET_TOKENS} * weight_bp) // 10000
                        AS BIGINT) AS target_tokens,
                   CAST(({C.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens
                        AS BIGINT) AS epochs_bp,
                   CAST((({C.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens)
                        // 10000 AS BIGINT) AS full_epochs,
                   ({C.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens
                       > {C.EPOCH_MAX_HEALTHY_BP} AS exceeds_healthy
            FROM tot ORDER BY source
        """,
        # temperature sweep: same sqrt-composed powers on the identical
        # doubles, floored to milli-units, integer shares on top
        "c_temperature_mix": f"""
            WITH cnt AS (
                SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
                    FROM cnt),
            grid AS (SELECT unnest([{", ".join(str(x) for x in
                                               C.TEMP_ALPHA_GRID_BP)}])
                         AS alpha_bp),
            g AS (
                SELECT c.source, c.n_tokens, t.tot_tokens,
                       CAST(g.alpha_bp AS BIGINT) AS alpha_bp,
                       CAST(floor(1000 * (CASE g.alpha_bp
                            WHEN 2500 THEN
                                sqrt(sqrt(CAST(c.n_tokens AS DOUBLE)))
                            WHEN 5000 THEN sqrt(CAST(c.n_tokens AS DOUBLE))
                            WHEN 7500 THEN sqrt(CAST(c.n_tokens AS DOUBLE))
                                * sqrt(sqrt(CAST(c.n_tokens AS DOUBLE)))
                            ELSE CAST(c.n_tokens AS DOUBLE) END))
                           AS BIGINT) AS s_milli
                FROM cnt c, tot t, grid g
            ),
            sums AS (SELECT alpha_bp, CAST(sum(s_milli) AS BIGINT) AS s_tot
                     FROM g GROUP BY alpha_bp),
            sh AS (
                SELECT g.alpha_bp, g.source, g.n_tokens,
                       CAST(CASE WHEN g.tot_tokens = 0 THEN 0
                                 ELSE (10000 * g.n_tokens) // g.tot_tokens
                            END AS BIGINT) AS raw_share_bp,
                       CAST(CASE WHEN s.s_tot = 0 THEN 0
                                 ELSE (10000 * g.s_milli) // s.s_tot
                            END AS BIGINT) AS temp_share_bp
                FROM g JOIN sums s USING (alpha_bp)
            )
            SELECT alpha_bp, source, n_tokens, raw_share_bp, temp_share_bp,
                   CAST(CASE WHEN raw_share_bp = 0 THEN 0
                             ELSE (10000 * temp_share_bp) // raw_share_bp
                        END AS BIGINT) AS boost_bp
            FROM sh ORDER BY alpha_bp, source
        """,
        # license tagging: footers re-derived from the coprime moduli, the
        # SAME most-restrictive-wins CASE order (separator differences
        # can't matter — detection is pure substring containment)
        "c_license_tags": f"""
            WITH lt AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % {C.LICENSE_MOD_SA} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by-sa/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_BY} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_PD} = 0 THEN chr(10)
                        || 'This work is dedicated to the public domain (CC0).'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_ARR} = 0 THEN chr(10)
                        || 'All rights reserved.' ELSE '' END AS t
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN contains(t, 'All rights reserved')
                            THEN 'all-rights-reserved'
                        WHEN contains(t, 'creativecommons.org/licenses/by-sa')
                            THEN 'cc-by-sa'
                        WHEN contains(t, 'creativecommons.org/licenses/by')
                            THEN 'cc-by'
                        WHEN contains(t, 'public domain')
                            THEN 'public-domain'
                        ELSE 'none' END AS license
            FROM lt ORDER BY doc_id
        """,
        "c_license_rollup": f"""
            WITH lt AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % {C.LICENSE_MOD_SA} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by-sa/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_BY} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_PD} = 0 THEN chr(10)
                        || 'This work is dedicated to the public domain (CC0).'
                        ELSE '' END
                    || CASE WHEN doc_id % {C.LICENSE_MOD_ARR} = 0 THEN chr(10)
                        || 'All rights reserved.' ELSE '' END AS t
                FROM documents
            ), tags AS (
                SELECT doc_id,
                       CASE WHEN contains(t, 'All rights reserved')
                                THEN 'all-rights-reserved'
                            WHEN contains(t, 'creativecommons.org/licenses/by-sa')
                                THEN 'cc-by-sa'
                            WHEN contains(t, 'creativecommons.org/licenses/by')
                                THEN 'cc-by'
                            WHEN contains(t, 'public domain')
                                THEN 'public-domain'
                            ELSE 'none' END AS license
                FROM lt
            ), tk AS (
                SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), per AS (
                SELECT license, count(*) AS n_docs, sum(n_tokens) AS n_tokens
                FROM tags JOIN tk USING (doc_id) GROUP BY license
            ), tot AS (SELECT sum(n_tokens) AS tot FROM per)
            SELECT license, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((10000 * n_tokens) // tot AS BIGINT)
                       AS token_share_bp
            FROM per, tot ORDER BY license
        """,
        # token-budget selection: quality quantized to integer bp buckets,
        # strictly-better prefix over the bucket dim, within-bucket
        # (md5, doc_id) hash order — kept iff the doc STARTS before the
        # budget line (the crossing doc is kept; stated overshoot)
        "c_budget_select": f"""
            WITH q AS (
                SELECT doc_id,
                       CAST(round(({_quality_sql()}) * 10000) AS BIGINT)
                           AS quality_bp,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), b AS (
                SELECT quality_bp, sum(n_tokens) AS bucket_tokens
                FROM q GROUP BY quality_bp
            ), bet AS (
                SELECT quality_bp,
                       sum(bucket_tokens) OVER (ORDER BY quality_bp DESC)
                       - bucket_tokens AS better_tokens
                FROM b
            ), r AS (
                SELECT doc_id, quality_bp, n_tokens,
                       CAST(('0x' || substr(md5('{C.BUDGET_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h
                FROM q
            ), wp AS (
                SELECT doc_id, quality_bp, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY quality_bp
                                           ORDER BY h, doc_id)
                       - n_tokens AS within_prefix
                FROM r
            )
            SELECT wp.doc_id, wp.quality_bp, wp.n_tokens,
                   bet.better_tokens + wp.within_prefix
                   < {C.BUDGET_TOKENS} AS kept
            FROM wp JOIN bet USING (quality_bp)
            ORDER BY wp.doc_id
        """,
        # concat-and-split packing: the shuffle's (shard, h, doc_id) order
        # + EOS-inclusive prefix sums (shared twin: _pack_seq_sql_for)
        "c_pack_sequences": _pack_seq_sql_for("documents"),
        # the release composition: corpus_build's survivor chain feeding
        # the packing twin — gate, dedup keeper, decontamination, sampling,
        # shuffle order and split arithmetic must ALL agree for one hash
        "c_release_manifest": f"""
            WITH {_corpus_chain_for("documents")},
            surv AS (SELECT d.* FROM documents d JOIN t USING (doc_id))
            {_pack_seq_sql_for("surv", lead=",")}
        """,
        "c_packing_stats": f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{C.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({_TOKS}) + 1 AS BIGINT) AS n_tok
                FROM documents WHERE trim(text) <> ''
            ), sh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {C.SHUFFLE_SHARDS}) + {C.SHUFFLE_SHARDS})
                       % {C.SHUFFLE_SHARDS} AS shard
                FROM k
            ), o AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM sh
            ), g AS (
                SELECT shard, count(*) AS n_docs, sum(n_tok) AS total_toks,
                       sum(CASE WHEN off // {C.SEQ_LEN}
                                <> (off + n_tok - 1) // {C.SEQ_LEN}
                           THEN 1 ELSE 0 END) AS n_split_docs
                FROM o GROUP BY shard
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_toks AS BIGINT) AS total_toks,
                   CAST((total_toks + {C.SEQ_LEN - 1}) // {C.SEQ_LEN}
                        AS BIGINT) AS n_seqs,
                   CAST(((total_toks + {C.SEQ_LEN - 1}) // {C.SEQ_LEN})
                        * {C.SEQ_LEN} - total_toks AS BIGINT)
                       AS tail_waste_toks,
                   CAST((10000 * (((total_toks + {C.SEQ_LEN - 1})
                                   // {C.SEQ_LEN}) * {C.SEQ_LEN}
                                  - total_toks))
                        // (((total_toks + {C.SEQ_LEN - 1}) // {C.SEQ_LEN})
                            * {C.SEQ_LEN}) AS BIGINT) AS waste_bp,
                   CAST(n_split_docs AS BIGINT) AS n_split_docs
            FROM g ORDER BY shard
        """,
        # SEQ_LEN sweep: the same h/shard/offset chain crossed with the
        # candidate-length dim; offsets are L-independent so one window
        # prices every candidate
        "c_pack_lenscan": f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{C.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({_TOKS}) + 1 AS BIGINT) AS n_tok
                FROM documents WHERE trim(text) <> ''
            ), sh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {C.SHUFFLE_SHARDS}) + {C.SHUFFLE_SHARDS})
                       % {C.SHUFFLE_SHARDS} AS shard
                FROM k
            ), o AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM sh
            ),
            grid AS (SELECT unnest([{", ".join(str(x) for x in
                                               C.PACK_LEN_GRID)}])
                         AS seq_len),
            sp AS (
                SELECT g.seq_len, count(*) AS n_docs,
                       sum(CASE WHEN off // g.seq_len
                                <> (off + n_tok - 1) // g.seq_len
                           THEN 1 ELSE 0 END) AS n_split_docs
                FROM o, grid g GROUP BY g.seq_len
            ),
            st AS (SELECT shard, sum(n_tok) AS total FROM o GROUP BY shard),
            wa AS (
                SELECT g.seq_len, sum(total) AS total_toks,
                       sum((total + g.seq_len - 1) // g.seq_len) AS n_seqs,
                       sum(((total + g.seq_len - 1) // g.seq_len) * g.seq_len
                           - total) AS tail_waste_toks
                FROM st, grid g GROUP BY g.seq_len
            )
            SELECT CAST(wa.seq_len AS BIGINT) AS seq_len,
                   CAST(sp.n_docs AS BIGINT) AS n_docs,
                   CAST(wa.total_toks AS BIGINT) AS total_toks,
                   CAST(wa.n_seqs AS BIGINT) AS n_seqs,
                   CAST(wa.tail_waste_toks AS BIGINT) AS tail_waste_toks,
                   CAST((10000 * wa.tail_waste_toks)
                        // (wa.n_seqs * wa.seq_len) AS BIGINT) AS waste_bp,
                   CAST(sp.n_split_docs AS BIGINT) AS n_split_docs,
                   CAST((10000 * sp.n_split_docs) // sp.n_docs AS BIGINT)
                       AS split_docs_bp
            FROM wa JOIN sp ON sp.seq_len = wa.seq_len
            ORDER BY seq_len
        """,
        # shard rebalance: the HRW argmax is a lexicographic list_max over
        # [weight, shard] pairs — the literal twin of the Spark struct
        # array_max, so even a weight tie breaks identically (by shard id)
        "c_shard_rebalance": f"""
            WITH h AS (
                SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) AS hk,
                       list_max(list_transform(range(0, {C.SHARD_FROM}),
                           i -> [CAST(('0x' || substr(md5(
                                     CAST(doc_id AS VARCHAR) || ':' || i),
                                     1, 8)) AS BIGINT), i]))[2] AS hrw_a,
                       list_max(list_transform(range(0, {C.SHARD_TO}),
                           i -> [CAST(('0x' || substr(md5(
                                     CAST(doc_id AS VARCHAR) || ':' || i),
                                     1, 8)) AS BIGINT), i]))[2] AS hrw_b
                FROM documents
            ), m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(CASE WHEN hk % {C.SHARD_FROM}
                                     <> hk % {C.SHARD_TO}
                                THEN 1 ELSE 0 END) AS BIGINT) AS mod_n,
                       CAST(sum(CASE WHEN hrw_a <> hrw_b
                                THEN 1 ELSE 0 END) AS BIGINT) AS hrw_n
                FROM h
            )
            SELECT scheme, CAST({C.SHARD_FROM} AS BIGINT) AS n_from,
                   CAST({C.SHARD_TO} AS BIGINT) AS n_to, n_keys,
                   CAST(n_moved AS BIGINT) AS n_moved,
                   CAST(n_moved * 10000 // n_keys AS BIGINT) AS moved_bp
            FROM (SELECT 'hrw' AS scheme, hrw_n AS n_moved, n_keys FROM m
                  UNION ALL SELECT 'mod', mod_n, n_keys FROM m)
            ORDER BY scheme
        """,
        "c_pack_shards": f"""
            WITH t AS (
                SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                               - n_tokens) / 500) AS BIGINT) AS shard_id
            FROM t ORDER BY doc_id
        """,
        # sliding fixed-size token windows (BERT-style striding); the size/
        # stride knobs interpolate from curation so they can never drift
        "c_chunk_windows": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
                WHERE trim(text) <> ''
            ), n AS (
                SELECT doc_id, toks, len(toks) AS n FROM t
            ), st AS (
                SELECT doc_id, toks, n,
                       unnest(range(0, n, {C.CHUNK_STRIDE})) AS start_tok
                FROM n
            )
            SELECT doc_id,
                   CAST(start_tok // {C.CHUNK_STRIDE} AS BIGINT) AS chunk_id,
                   CAST(start_tok AS BIGINT) AS start_tok,
                   CAST(least({C.CHUNK_SIZE}, n - start_tok) AS BIGINT)
                       AS n_chunk_tokens,
                   array_to_string(
                       list_slice(toks, start_tok + 1,
                                  least(start_tok + {C.CHUNK_SIZE}, n)), ' ')
                       AS chunk_text
            FROM st ORDER BY doc_id, chunk_id
        """,
        # epoch-weighted mixture: integer epochs in bp + md5-fractional
        # extra copy; budget defaults to the weighted sources' token total
        "c_mixture_resample": f"""
            WITH wt AS (SELECT * FROM (VALUES {", ".join(
                f"('{s}', {w})" for s, w in sorted(C.MIXTURE_WEIGHTS.items())
            )}) w(source, weight_bp)),
            t AS (
                SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), tot AS (
                SELECT source, weight_bp, sum(n_tokens) AS src_tokens
                FROM t JOIN wt USING (source) GROUP BY source, weight_bp
            ), bud AS (SELECT sum(src_tokens) AS budget_tokens FROM tot),
            rates AS (
                SELECT source,
                       (budget_tokens * weight_bp) // src_tokens AS e_bp
                FROM tot, bud
            ), docs AS (
                SELECT t.doc_id, t.source, t.n_tokens,
                       CAST(e_bp // 10000
                       + CASE WHEN CAST(('0x' || substr(md5('mix:' || t.doc_id), 1, 8))
                                   AS BIGINT) % 10000 < e_bp % 10000
                              THEN 1 ELSE 0 END AS BIGINT) AS n_copies
                FROM t JOIN rates USING (source)
            )
            SELECT doc_id, source, n_tokens,
                   CAST(n_copies AS BIGINT) AS n_copies,
                   CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_id
            FROM docs WHERE n_copies > 0 ORDER BY doc_id, copy_id
        """,
        # incremental dedup of the doc_id%5!=0 batch against the %5==0 index:
        # exact = fingerprint already indexed; near = shares an LSH band
        # bucket with an index doc (reuses the minhash band CTE)
        "d_incremental": bands_cte + f"""
            , fps AS (
                SELECT doc_id,
                       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents
            ), idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % {C.INDEX_MOD} = 0)
            , ib AS (
                SELECT DISTINCT band, bucket FROM banded
                WHERE doc_id % {C.INDEX_MOD} = 0
            ), ex AS (
                SELECT DISTINCT f.doc_id FROM fps f JOIN idx USING (fp)
                WHERE f.doc_id % {C.INDEX_MOD} <> 0
            ), nr AS (
                SELECT DISTINCT b.doc_id FROM banded b JOIN ib USING (band, bucket)
                WHERE b.doc_id % {C.INDEX_MOD} <> 0
            )
            SELECT f.doc_id,
                   CASE WHEN ex.doc_id IS NOT NULL THEN 'dup_exact'
                        WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                        ELSE 'novel' END AS verdict
            FROM fps f
            LEFT JOIN ex ON f.doc_id = ex.doc_id
            LEFT JOIN nr ON f.doc_id = nr.doc_id
            WHERE f.doc_id % {C.INDEX_MOD} <> 0
            ORDER BY f.doc_id
        """,
        # transformed-media evidence recomputed from the synthesis formulas:
        # the resized raster picks source pixel (x2*W//W2, r2*H//H2) whose
        # byte value is arithmetic in its index; decimated PCM keeps every
        # 2nd frame.  A wrong stride, padding, channel order, or floor map
        # in the REAL kernel shifts the integer sum and fails the hash.
        # aHash: the oracle recomputes the 8x8 grid cells straight from the
        # BMP pixel formula (byte j of pixel data = (j*7+bw)%256), same
        # stored-row indexing and src = dst*dim//grid sampling as the
        # engine's decoder; mean threshold strict '>'
        "m_image_ahash": f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {MM.AHASH_GRID ** 2}), i ->
                           ( ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), m AS (
                SELECT doc_id, grays,
                       list_sum(grays) // {MM.AHASH_GRID ** 2} AS mn
                FROM cells
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(grays, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '') AS ahash
                FROM m
            )
            SELECT doc_id, ahash,
                   CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n_same
            FROM hx ORDER BY doc_id
        """,
        # phash: same pixel formula sampled on the 32x32 grid, exact
        # integer DCT via the embedded fixed-point table, lower-median
        # threshold over the 8x8 low-frequency block
        "m_image_phash": f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {_G2}), i ->
                           ( ((bs*((i//{MM.PHASH_GRID})*bh//{MM.PHASH_GRID})
                               + 3*((i%{MM.PHASH_GRID})*bw//{MM.PHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{MM.PHASH_GRID})*bh//{MM.PHASH_GRID})
                               + 3*((i%{MM.PHASH_GRID})*bw//{MM.PHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{MM.PHASH_GRID})*bh//{MM.PHASH_GRID})
                               + 3*((i%{MM.PHASH_GRID})*bw//{MM.PHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), t AS (
                SELECT doc_id, [{_ph_terms}] AS tt FROM cells
            ), m AS (
                SELECT doc_id, tt,
                       list_sort(tt)[{MM.PHASH_LOW ** 2 // 2}] AS med
                FROM t
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(tt, v ->
                           CASE WHEN v > med THEN '1' ELSE '0' END), '')
                           AS phash
                FROM m
            )
            SELECT doc_id, phash,
                   CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
            FROM hx ORDER BY doc_id
        """,
        # dhash: same pixel formula sampled on the 8x9 grid, bits =
        # strict right-neighbor comparisons (DuckDB lists are 1-indexed)
        "m_image_dhash": f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), cells AS (
                SELECT doc_id,
                       list_transform(range(0, {MM.AHASH_GRID
                                              * (MM.AHASH_GRID + 1)}), i ->
                           ( ((bs*((i//{MM.AHASH_GRID + 1})*bh
                                   //{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID + 1})*bw
                                    //{MM.AHASH_GRID + 1}))*7
                              + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID + 1})*bh
                                   //{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID + 1})*bw
                                    //{MM.AHASH_GRID + 1})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID + 1})*bh
                                   //{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID + 1})*bw
                                    //{MM.AHASH_GRID + 1})
                               + 2)*7 + bw) % 256 ) // 3) AS grays
                FROM q
            ), hx AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           range(0, {MM.AHASH_GRID ** 2}), j ->
                           CASE WHEN grays[(j//{MM.AHASH_GRID})
                                           *{MM.AHASH_GRID + 1}
                                           + (j%{MM.AHASH_GRID}) + 2]
                                     > grays[(j//{MM.AHASH_GRID})
                                             *{MM.AHASH_GRID + 1}
                                             + (j%{MM.AHASH_GRID}) + 1]
                                THEN '1' ELSE '0' END), '') AS dhash
                FROM cells
            )
            SELECT doc_id, dhash,
                   CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT)
                       AS n_same
            FROM hx ORDER BY doc_id
        """,
        # near-dup pairs: BOTH fingerprints recomputed from the pixel
        # formula (copy = grid-row-0 cells forced to the mid-gray fill),
        # then the SAME banding join + position-wise Hamming in SQL
        "m_image_neardup": f"""
            WITH p AS (
                SELECT doc_id, 8 + doc_id % 32 AS bw,
                       8 + (doc_id // 3) % 24 AS bh
                FROM documents WHERE doc_id % 3 = 0
            ), q AS (
                SELECT doc_id, bw, bh, ((bw*3+3)//4)*4 AS bs FROM p
            ), caps AS (
                SELECT CAST(doc_id AS BIGINT) AS cap_id, bw, bh, bs,
                       0 AS edited
                FROM q
                UNION ALL
                SELECT CAST(doc_id + {MM.IMG_COPY_OFFSET} AS BIGINT),
                       bw, bh, bs, 1
                FROM q
            ), cells AS (
                SELECT cap_id,
                       list_transform(range(0, {MM.AHASH_GRID ** 2}), i ->
                           CASE WHEN edited = 1 AND i // {MM.AHASH_GRID} = 0
                                THEN {MM.IMG_OVERLAY_FILL}
                           ELSE
                           ( ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID}))*7
                              + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID})
                               + 1)*7 + bw) % 256
                           + ((bs*((i//{MM.AHASH_GRID})*bh//{MM.AHASH_GRID})
                               + 3*((i%{MM.AHASH_GRID})*bw//{MM.AHASH_GRID})
                               + 2)*7 + bw) % 256 ) // 3
                           END) AS grays
                FROM caps
            ), m AS (
                SELECT cap_id, grays,
                       list_sum(grays) // {MM.AHASH_GRID ** 2} AS mn
                FROM cells
            ), hx AS (
                SELECT cap_id,
                       array_to_string(list_transform(grays, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '') AS ahash
                FROM m
            ), bands AS (
                SELECT cap_id, ahash, b,
                       substr(ahash, CAST(1 + {64 // MM.NEARDUP_BANDS} * b
                                          AS INT),
                              {64 // MM.NEARDUP_BANDS}) AS bits
                FROM hx, (SELECT unnest(range(0, {MM.NEARDUP_BANDS})) AS b)
            ), cand AS (
                SELECT DISTINCT a.cap_id AS cap_a, c.cap_id AS cap_b,
                       a.ahash AS ha, c.ahash AS hb
                FROM bands a JOIN bands c
                  ON a.b = c.b AND a.bits = c.bits AND a.cap_id < c.cap_id
            ), sc AS (
                SELECT cap_a, cap_b,
                       CAST(list_sum(list_transform(range(1, 65), pp ->
                           CASE WHEN substr(ha, CAST(pp AS INT), 1)
                                   = substr(hb, CAST(pp AS INT), 1)
                                THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
                FROM cand
            )
            SELECT cap_a, cap_b, hamming,
                   cap_b - cap_a = {MM.IMG_COPY_OFFSET} AS is_copy_pair
            FROM sc WHERE hamming <= {MM.NEARDUP_MAX_HAMMING}
            ORDER BY cap_a, cap_b
        """,
        "m_transform": """
            WITH p AS (
                SELECT doc_id, doc_id % 3 AS kind,
                       8 + doc_id % 32 AS bw, 8 + (doc_id // 3) % 24 AS bh,
                       1 + doc_id % 2 AS c, 8000 * (1 + doc_id % 3) AS r,
                       200 + doc_id % 100 AS ns,
                       4 + doc_id % 16 AS pw, 4 + (doc_id // 5) % 16 AS ph
                FROM documents
            ), q AS (
                SELECT *, ((bw*3+3)//4)*4 AS bs, bw//2 AS bw2, bh//2 AS bh2,
                       (ns+1)//2 AS nout, pw//2 AS pw2, ph//2 AS ph2
                FROM p
            )
            SELECT doc_id,
                   CASE kind WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
                        ELSE 'image/ppm' END AS media_type,
                   CAST(CASE kind WHEN 0 THEN bw2 WHEN 2 THEN pw2 ELSE -1 END AS INT) AS out_w,
                   CAST(CASE kind WHEN 0 THEN bh2 WHEN 2 THEN ph2 ELSE -1 END AS INT) AS out_h,
                   CAST(CASE kind WHEN 1 THEN r // 2 ELSE -1 END AS INT) AS out_rate,
                   CAST(CASE kind WHEN 0 THEN bw2*bh2 WHEN 1 THEN nout
                        ELSE pw2*ph2 END AS BIGINT) AS n_units,
                   CAST(CASE kind
                        WHEN 0 THEN list_sum(list_transform(range(0, bh2*bw2*3), j ->
                            ((bs*((j//(bw2*3))*bh//bh2)
                              + 3*(((j%(bw2*3))//3)*bw//bw2)
                              + ((j%(bw2*3))%3))*7 + bw) % 256))
                        WHEN 1 THEN list_sum(list_transform(range(0, nout*2*c), j ->
                            ((2*(j//(2*c))*2*c + (j%(2*c)))*13 + c) % 256))
                        ELSE list_sum(list_transform(range(0, ph2*pw2*3), j ->
                            ((3*pw*((j//(pw2*3))*ph//ph2)
                              + 3*(((j%(pw2*3))//3)*pw//pw2)
                              + ((j%(pw2*3))%3))*11 + ph) % 256))
                        END AS BIGINT) AS data_sum,
                   CAST(CASE kind
                        WHEN 0 THEN 54 + ((bw2*3+3)//4)*4*bh2
                        WHEN 1 THEN 44 + nout*2*c
                        ELSE 9 + length(CAST(pw2 AS VARCHAR))
                             + length(CAST(ph2 AS VARCHAR)) + 3*pw2*ph2
                        END AS BIGINT) AS out_len
            FROM q ORDER BY doc_id
        """,
        # sampled frames recomputed from the stream-synthesis formulas:
        # frame f of doc d has raster byte i = (i*11 + d + f) % 256 and
        # dims (4+d%8, 4+(d//7)%8); sampling keeps frames 0,2,4,...
        # shot detection: the synthesis shifts every raster byte by +1 per
        # frame, so |diff| is 1 except at the 255->0 wrap — sad = n_px +
        # 254 * wrap_count, recomputed exactly from the seed formula; a
        # parse/pairing bug in the engine's real-bytes walk mismatches
        # audio near-dup: window energies recomputed from the tone formula
        # (sample j = (j*j*7 + doc*13) % 4096 - 2048) for original + head-
        # trimmed capture sets — the trim is exactly one analysis window,
        # so copy windows re-chunk onto original windows 1.. — then the
        # same postings join + containment fold as the video face
        "m_audio_neardup": f"""
            WITH a AS (
                SELECT doc_id,
                       CAST({MM.AUD_TONE_N} + doc_id % 100 AS BIGINT) AS n
                FROM documents WHERE doc_id % 3 = 1
            ), caps AS (
                SELECT doc_id, doc_id AS cap_id, CAST(0 AS BIGINT) AS skip, n
                FROM a
                UNION ALL
                SELECT doc_id, doc_id + {MM.AUD_COPY_OFFSET} AS cap_id,
                       CAST(1 AS BIGINT) AS skip, n
                FROM a WHERE n > {MM.AE_WIN}
            ), wins AS (
                SELECT cap_id, doc_id, skip, n,
                       unnest(range(0, CAST((n - skip * {MM.AE_WIN}
                                             + {MM.AE_WIN - 1})
                                            // {MM.AE_WIN} AS BIGINT))) AS w
                FROM caps
            ), aen AS (
                SELECT cap_id,
                       list_sum(list_transform(
                           range(CAST((skip + w) * {MM.AE_WIN} AS BIGINT),
                                 CAST(least(n, (skip + w + 1) * {MM.AE_WIN})
                                      AS BIGINT)),
                           j -> ((j*j*7 + doc_id*13) % 4096 - 2048)
                              * ((j*j*7 + doc_id*13) % 4096 - 2048)))
                           AS energy
                FROM wins
            ), fps AS (
                SELECT DISTINCT cap_id, energy FROM aen
            ), cnt AS (
                SELECT cap_id, count(*) AS n FROM fps GROUP BY cap_id
            ), shr AS (
                SELECT fa.cap_id AS cap_a, fb.cap_id AS cap_b,
                       count(*) AS n_shared
                FROM fps fa JOIN fps fb
                  ON fa.energy = fb.energy AND fa.cap_id < fb.cap_id
                GROUP BY 1, 2
            )
            SELECT s.cap_a, s.cap_b, CAST(s.n_shared AS BIGINT) AS n_shared,
                   CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
                   CAST((10000 * s.n_shared) // least(ca.n, cb.n) AS BIGINT)
                       AS contain_bp,
                   s.cap_b - s.cap_a = {MM.AUD_COPY_OFFSET} AS is_trim_pair
            FROM shr s JOIN cnt ca ON ca.cap_id = s.cap_a
                       JOIN cnt cb ON cb.cap_id = s.cap_b
            WHERE (10000 * s.n_shared) // least(ca.n, cb.n)
                  >= {MM.AUD_CONTAIN_BP}
            ORDER BY s.cap_a, s.cap_b
        """,
        # video near-dup: per-frame aHash recomputed from the seeded-P6
        # formula for original + trimmed capture sets, postings join +
        # containment fold in SQL
        "m_video_neardup": f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), caps AS (
                SELECT CAST(doc_id AS BIGINT) AS cap_id, doc_id, w, h, nf,
                       0 AS ff
                FROM p
                UNION ALL
                SELECT CAST(doc_id + {MM.VID_COPY_OFFSET} AS BIGINT),
                       doc_id, w, h, nf, 1
                FROM p WHERE nf >= 2
            ), fr AS (
                SELECT cap_id, doc_id, w, h, unnest(range(ff, nf)) AS f
                FROM caps
            ), gr AS (
                SELECT cap_id, f,
                       list_transform(range(0, {MM.AHASH_GRID ** 2}), i ->
                           ( ((3*(((i//{MM.AHASH_GRID})*h//{MM.AHASH_GRID})*w
                                  + ((i%{MM.AHASH_GRID})*w//{MM.AHASH_GRID}))
                               )*11 + doc_id + f) % 256
                           + ((3*(((i//{MM.AHASH_GRID})*h//{MM.AHASH_GRID})*w
                                  + ((i%{MM.AHASH_GRID})*w//{MM.AHASH_GRID}))
                               + 1)*11 + doc_id + f) % 256
                           + ((3*(((i//{MM.AHASH_GRID})*h//{MM.AHASH_GRID})*w
                                  + ((i%{MM.AHASH_GRID})*w//{MM.AHASH_GRID}))
                               + 2)*11 + doc_id + f) % 256 ) // 3) AS g
                FROM fr
            ), m AS (
                SELECT cap_id, f, g,
                       list_sum(g) // {MM.AHASH_GRID ** 2} AS mn
                FROM gr
            ), hx AS (
                SELECT DISTINCT cap_id,
                       array_to_string(list_transform(g, v ->
                           CASE WHEN v > mn THEN '1' ELSE '0' END), '')
                           AS fhash
                FROM m
            ), counts AS (
                SELECT cap_id, CAST(count(*) AS BIGINT) AS n
                FROM hx GROUP BY cap_id
            ), shared AS (
                SELECT a.cap_id AS cap_a, b.cap_id AS cap_b,
                       CAST(count(*) AS BIGINT) AS n_shared
                FROM hx a JOIN hx b
                  ON a.fhash = b.fhash AND a.cap_id < b.cap_id
                GROUP BY 1, 2
            )
            SELECT s.cap_a, s.cap_b, s.n_shared,
                   ca.n AS n_a, cb.n AS n_b,
                   CAST((10000 * s.n_shared) // least(ca.n, cb.n) AS BIGINT)
                       AS contain_bp,
                   s.cap_b - s.cap_a = {MM.VID_COPY_OFFSET} AS is_trim_pair
            FROM shared s
            JOIN counts ca ON ca.cap_id = s.cap_a
            JOIN counts cb ON cb.cap_id = s.cap_b
            WHERE (10000 * s.n_shared) // least(ca.n, cb.n)
                  >= {MM.VID_CONTAIN_BP}
            ORDER BY s.cap_a, s.cap_b
        """,
        "m_shot_detect": f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), fr AS (
                SELECT doc_id, 3 * w * h AS npx, unnest(range(1, nf)) AS fi
                FROM p
            ), s AS (
                SELECT doc_id, fi, npx,
                       npx + 254 * len(list_filter(range(0, npx),
                           i -> (i * 11 + doc_id + fi - 1) % 256 = 255)) AS sad
                FROM fr
            )
            SELECT doc_id, CAST(fi AS INT) AS frame_index,
                   CAST(npx AS BIGINT) AS n_px, CAST(sad AS BIGINT) AS sad,
                   sad > {MM.SHOT_MEANDIFF} * npx AS is_cut
            FROM s ORDER BY doc_id, frame_index
        """,
        "m_frame_sample": f"""
            WITH p AS (
                SELECT doc_id, 4 + doc_id % 8 AS w, 4 + (doc_id // 7) % 8 AS h,
                       3 + doc_id % 4 AS nf
                FROM documents
            ), fr AS (
                -- every Nth frame, capped at max_frames kept frames — the
                -- knobs interpolate from multimodal so the cap can't drift
                SELECT doc_id, w, h, nf,
                       unnest(range(0,
                           least(nf, {MM.SAMPLE_EVERY_DEFAULT}
                                     * {MM.MAX_FRAMES_DEFAULT}),
                           {MM.SAMPLE_EVERY_DEFAULT})) AS fi
                FROM p
            )
            SELECT doc_id, CAST(fi AS BIGINT) AS frame_index,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(list_sum(list_transform(range(0, 3*w*h), i ->
                        (i*11 + doc_id + fi) % 256)) AS BIGINT) AS data_sum,
                   CAST(9 + length(CAST(w AS VARCHAR))
                        + length(CAST(h AS VARCHAR)) + 3*w*h AS BIGINT) AS frame_len
            FROM fr ORDER BY doc_id, frame_index
        """,
        # per-doc keywords: rank-based tf-idf (ordering identical for any
        # monotone idf; integer keys survive the hash)
        "t_keywords": f"""
            WITH tf AS (
                SELECT doc_id, unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                FROM documents
            ), tfc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM tf GROUP BY doc_id, term
            ), dfc AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tfc GROUP BY term
            )
            SELECT doc_id, term, tf, df, kw_rank FROM (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       CAST(row_number() OVER (
                           PARTITION BY t.doc_id
                           ORDER BY d.df ASC, t.tf DESC, t.term ASC
                       ) AS BIGINT) AS kw_rank
                FROM tfc t JOIN dfc d USING (term)
            ) x WHERE kw_rank <= 3
            ORDER BY doc_id, kw_rank
        """,
        # BM25 top-k: the tf component divides the SAME two BIGINTs both
        # engines build (x1000T clears k1/b and the avgdl division); the
        # idf ln() is the one libm call, guarded by the 4dp round; 2-term
        # queries keep the per-query sum IEEE-commutative
        # date extract: the synthesis flavors re-derived — %6==1 one date
        # (malformed 2024-99-99 rejected by the range classes), %6==3 a
        # two-date range, %6==5 the US-format decoy never matches
        "t_date_extract": f"""
            SELECT doc_id,
                   CAST(CASE doc_id % 6 WHEN 1 THEN 1 WHEN 3 THEN 2
                        ELSE 0 END AS BIGINT) AS n_dates,
                   CASE doc_id % 6
                     WHEN 1 THEN '2024-0' || (doc_id % 9 + 1) || '-1'
                                 || (doc_id % 3)
                     WHEN 3 THEN '2023-1' || (doc_id % 2) || '-05'
                     ELSE '' END AS min_date,
                   CASE doc_id % 6
                     WHEN 1 THEN '2024-0' || (doc_id % 9 + 1) || '-1'
                                 || (doc_id % 3)
                     WHEN 3 THEN '2024-02-2' || (doc_id % 3)
                     ELSE '' END AS max_date
            FROM documents ORDER BY doc_id
        """,
        # KWIC: same df-top pick, 1-based inclusive list slices clamp at
        # the edges exactly like Spark's slice
        "t_kwic": f"""
            WITH base AS (
                SELECT doc_id,
                       list_transform({_TOKS}, t -> lower(t)) AS toks
                FROM documents
            ), ex AS (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM base
            ), terms AS (
                SELECT doc_id, toks, pos, toks[pos] AS term
                FROM ex WHERE toks[pos] <> ''
            ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df
                FROM terms GROUP BY term
            ), topt AS (
                SELECT term FROM dfreq ORDER BY df DESC, term ASC LIMIT 1
            ), hits AS (
                SELECT t.doc_id, t.toks, t.pos, t.term AS kw,
                       row_number() OVER (PARTITION BY t.doc_id
                                          ORDER BY t.pos) AS k
                FROM terms t JOIN topt USING (term)
            )
            SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                   coalesce(array_to_string(
                       toks[greatest(pos - {TS.KWIC_WINDOW}, 1) : pos - 1],
                       ' '), '') AS left_ctx,
                   kw,
                   coalesce(array_to_string(
                       toks[pos + 1 : least(pos + {TS.KWIC_WINDOW},
                                            len(toks))], ' '), '')
                       AS right_ctx
            FROM hits WHERE k <= {TS.KWIC_PER_DOC}
            ORDER BY doc_id, pos
        """,
        # BM25F: the t_bm25 chain with the anchor field merged in —
        # weighted tf / dl BEFORE saturation, either-field df, anchors
        # re-derived from the 2nd/3rd-token echo formula
        "t_bm25f": rf"""
            WITH btoks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({_TOKS}, t -> lower(t)))
                               AS term
                    FROM documents) u
                WHERE term <> ''
            ), anch AS (
                SELECT doc_id,
                       CASE WHEN base = '' THEN ''
                            WHEN doc_id % 2 = 1
                                THEN base || ' ' || base
                            ELSE base END AS anchor
                FROM (
                    SELECT doc_id,
                           CASE WHEN len({_TOKS}) >= 3
                                THEN lower(({_TOKS})[2] || ' '
                                           || ({_TOKS})[3])
                                ELSE '' END AS base
                    FROM documents)
            ), atoks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(anchor),
                                                        '\s+')) AS term
                    FROM anch) u
                WHERE term <> ''
            ), btf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfb
                FROM btoks GROUP BY doc_id, term
            ), atf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfa
                FROM atoks GROUP BY doc_id, term
            ), ctf AS (
                SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
                       coalesce(b.term, a.term) AS term,
                       CAST({TS.BM25F_W_BODY} * coalesce(tfb, 0)
                            + {TS.BM25F_W_ANCHOR} * coalesce(tfa, 0)
                            AS BIGINT) AS tfc
                FROM btf b FULL OUTER JOIN atf a
                  ON b.doc_id = a.doc_id AND b.term = a.term
            ), dlc AS (
                SELECT doc_id, CAST(sum(tfc) AS BIGINT) AS dlc
                FROM ctf GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dlc) AS BIGINT) AS t_tokens FROM dlc
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM ctf GROUP BY term
            ), qterms AS (
                SELECT CAST((rn + 1) // 2 AS BIGINT) AS query_id, rn,
                       term, df
                FROM (
                    SELECT term, df,
                           row_number() OVER (ORDER BY df DESC, term ASC)
                               AS rn
                    FROM dfreq) x
                WHERE rn <= 2 * {TS.BM25_QUERIES}
            ), qdim AS (
                SELECT query_id, string_agg(term, ' ' ORDER BY rn)
                           AS q_terms
                FROM qterms GROUP BY query_id
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1)
                                  / (2*q.df + 1))
                           * ({TS._BM25_NUM_C} * t.tfc * s.t_tokens)
                           / (1000 * t.tfc * s.t_tokens
                              + {TS._BM25_DEN_T} * s.t_tokens
                              + {TS._BM25_DEN_DL} * d.dlc * s.n_docs)
                       ), 4) AS bm25f
                FROM ctf t JOIN qterms q USING (term)
                     JOIN dlc d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            )
            SELECT query_id, q_terms, doc_id, bm25f,
                   CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT query_id, doc_id, bm25f, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25f DESC, doc_id ASC) AS rank
                FROM scored) r JOIN qdim USING (query_id)
            WHERE rank <= {TS.BM25_TOP_K}
            ORDER BY query_id, rank
        """,
        "t_bm25": f"""
            WITH toks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                    FROM documents) u
                WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ), dl AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), qterms AS (
                SELECT CAST((rn + 1) // 2 AS BIGINT) AS query_id, rn, term, df
                FROM (
                    SELECT term, df,
                           row_number() OVER (ORDER BY df DESC, term ASC) AS rn
                    FROM dfreq) x
                WHERE rn <= 2 * {TS.BM25_QUERIES}
            ), qdim AS (
                SELECT query_id, string_agg(term, ' ' ORDER BY rn) AS q_terms
                FROM qterms GROUP BY query_id
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1) / (2*q.df + 1))
                           * ({TS._BM25_NUM_C} * t.tf * s.t_tokens)
                           / (1000 * t.tf * s.t_tokens
                              + {TS._BM25_DEN_T} * s.t_tokens
                              + {TS._BM25_DEN_DL} * d.dl * s.n_docs)
                       ), 4) AS bm25
                FROM tf t JOIN qterms q USING (term)
                     JOIN dl d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            )
            SELECT query_id, q_terms, doc_id, bm25, CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT query_id, doc_id, bm25, row_number() OVER (
                    PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
                FROM scored) r JOIN qdim USING (query_id)
            WHERE rank <= {TS.BM25_TOP_K}
            ORDER BY query_id, rank
        """,
        # unigram vocab: the frozen pure-Python twin (gen_expected runs
        # textstats._unigram_em itself — shared function, not a mirror)
        "t_unigram_vocab": f"""
            SELECT piece, CAST(cost_milli AS BIGINT) AS cost_milli
            FROM (VALUES {_UNIGRAM_VALUES}) v(piece, cost_milli)
            ORDER BY piece
        """,
        # unigram apply: Viterbi as a LINEAR recursive CTE — with pieces
        # capped at 4 chars, dp[i] needs only the previous 4 dp values, so
        # each recursion row carries the (d0..d3) window; min-cost lookups
        # are 4 LEFT JOINs against the vocab VALUES, unknown single chars
        # cost UNK, impossible transitions coalesce to a sentinel
        # (shared fragment: _unigram_units_ctes, also under fertility)
        "t_unigram_apply": f"""
            WITH RECURSIVE {_unigram_units_ctes}
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(u.units % 1000) AS BIGINT) AS n_pieces,
                   CAST(sum(u.units // 1000) AS BIGINT) AS cost_milli
            FROM utoks t JOIN wunits u USING (w)
            GROUP BY t.doc_id ORDER BY t.doc_id
        """,
        # per-lang unigram fertility: pieces per word in exact integer bp
        # over the SAME wunits/utoks fragment + the lang dim
        "t_unigram_fertility": f"""
            WITH RECURSIVE {_unigram_units_ctes}
            SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(u.units % 1000) AS BIGINT) AS n_pieces,
                   CAST((10000 * sum(u.units % 1000)) // count(*) AS BIGINT)
                       AS pieces_per_word_bp
            FROM utoks t JOIN wunits u USING (w)
                 JOIN documents d ON d.doc_id = t.doc_id
            GROUP BY d.lang ORDER BY d.lang
        """,
        # gate impact: the SAME _gate_cte_for reasons chain, split and
        # exploded per rule, zero-filled over the rule dim
        "t_gate_impact": f"""
            WITH {_gate_cte_for("documents")},
            gtoks AS (
                SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), gfail AS (
                SELECT g.doc_id,
                       CASE WHEN len(string_split(g.reasons, ';')) = 1
                            THEN 1 ELSE 0 END AS sole,
                       unnest(string_split(g.reasons, ';')) AS rule
                FROM gated g WHERE g.reasons <> ''
            ), gper AS (
                SELECT rule, count(*) AS n_docs_failing,
                       sum(sole) AS n_sole_blocker,
                       sum(t.n_tokens) AS tokens_failing
                FROM gfail f JOIN gtoks t USING (doc_id)
                GROUP BY rule
            ), gdim AS (
                SELECT * FROM (VALUES {", ".join(
                    f"('{r}')" for r in TS.GATE_RULE_NAMES
                )}) d(rule)
            ), gtot AS (SELECT sum(n_tokens) AS tot FROM gtoks)
            SELECT d.rule,
                   CAST(coalesce(p.n_docs_failing, 0) AS BIGINT)
                       AS n_docs_failing,
                   CAST(coalesce(p.n_sole_blocker, 0) AS BIGINT)
                       AS n_sole_blocker,
                   CAST(coalesce(p.tokens_failing, 0) AS BIGINT)
                       AS tokens_failing,
                   CAST((10000 * coalesce(p.tokens_failing, 0)) // tot
                        AS BIGINT) AS tokens_bp
            FROM gdim d LEFT JOIN gper p ON p.rule = d.rule, gtot
            ORDER BY d.rule
        """,
        # length-quality association: exact integer moments + the Pearson
        # numerator's sign (same quality-bp quantization as budget_select)
        "t_len_quality_assoc": f"""
            WITH lq AS (
                SELECT CAST(len({_TOKS}) AS BIGINT) AS x,
                       CAST(round(({_quality_sql()}) * 10000) AS BIGINT) AS y
                FROM documents
            ), ag AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(x) AS BIGINT) AS sum_x,
                       CAST(sum(y) AS BIGINT) AS sum_y,
                       CAST(sum(x * y) AS BIGINT) AS sum_xy,
                       CAST(sum(x * x) AS BIGINT) AS sum_x2,
                       CAST(sum(y * y) AS BIGINT) AS sum_y2
                FROM lq
            )
            SELECT *, CAST(n_docs * sum_xy - sum_x * sum_y AS BIGINT)
                       AS cov_num,
                   n_docs * sum_xy > sum_x * sum_y AS cov_positive
            FROM ag
        """,
        # char entropy: H = log2(n) - (1/n) sum(c*log2 c) over the same
        # per-(doc, char) counts; both engines floor the identical double
        "t_char_entropy": f"""
            WITH ch AS (
                SELECT doc_id, c FROM (
                    SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents) u
                WHERE c <> ''
            ), cc AS (
                SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
                FROM ch GROUP BY doc_id, c
            ), agg AS (
                SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS distinct_chars,
                       sum(cnt * log2(cnt)) AS clogc
                FROM cc GROUP BY doc_id
            )
            SELECT doc_id, n AS n_chars_counted, distinct_chars,
                   CAST(floor(1000 * (log2(n) - clogc / n)) AS BIGINT)
                       AS entropy_milli,
                   floor(1000 * (log2(n) - clogc / n))
                       < {TS.ENTROPY_LOW_MILLI} AS is_low_entropy
            FROM agg ORDER BY doc_id
        """,
        # labeled retrieval audit: queries from each %31 doc's own 3rd/5th
        # words, the SAME scoring chain as t_bm25, rank of the source doc
        # code detection: synthesis (appended %9==4 snippet) + the three
        # signal counts mirrored; prose 'if' hits count in BOTH engines,
        # which is why the verdict also requires braces
        "t_code_detect": f"""
            WITH syn AS (
                SELECT doc_id,
                       CASE WHEN doc_id % {TS.CODE_MOD} = 4 THEN
                           text || chr(10) || 'function f' || doc_id
                           || '(x) ' || chr(123) || chr(10)
                           || '  var y = x + ' || doc_id || ';' || chr(10)
                           || '  if (y > 0) ' || chr(123) || ' return y; '
                           || chr(125) || chr(10)
                           || '  return 0;' || chr(10) || chr(125)
                       ELSE text END AS t
                FROM documents
            ), sig AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(t, '\n'))
                            AS BIGINT) AS n_lines,
                       CAST(len(regexp_extract_all(t, '[{{}}]'))
                            AS BIGINT) AS n_braces,
                       CAST(len(regexp_extract_all(t,
                            '{TS.CODE_KW_RE}')) AS BIGINT) AS kw_hits,
                       CAST(len(list_filter(
                            regexp_split_to_array(t, '\n'),
                            l -> regexp_matches(l, '{TS.CODE_EOL_RE}')))
                            AS BIGINT) AS code_eol_lines
                FROM syn
            )
            SELECT doc_id, n_lines, n_braces, kw_hits, code_eol_lines,
                   n_braces >= {TS.CODE_MIN_BRACES}
                       AND kw_hits >= {TS.CODE_MIN_KEYWORDS} AS is_code
            FROM sig ORDER BY doc_id
        """,
        # positional phrase search: adjacency via pos+1 equi-join over
        # the positional postings, self-seeded queries (2nd/3rd tokens)
        "t_phrase_search": f"""
            WITH tt AS (
                SELECT doc_id, {_TOKS} AS t FROM documents
            ), q AS (
                SELECT doc_id AS query_id,
                       lower(t[2]) AS w1, lower(t[3]) AS w2
                FROM tt
                WHERE doc_id % {TS.PHRASE_QUERY_MOD} = 0 AND len(t) >= 3
            ), pp AS (
                SELECT doc_id, t,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM tt
            ), post AS (
                SELECT doc_id, pos, lower(t[pos]) AS term FROM pp
            )
            SELECT q.query_id, q.w1, q.w2, p1.doc_id,
                   CAST(count(*) AS BIGINT) AS n_matches
            FROM q
            JOIN post p1 ON p1.term = q.w1
            JOIN post p2 ON p2.doc_id = p1.doc_id
                        AND p2.pos = p1.pos + 1 AND p2.term = q.w2
            GROUP BY 1, 2, 3, 4 ORDER BY query_id, p1.doc_id
        """,
        "t_bm25_mrr": f"""
            WITH toks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                    FROM documents) u
                WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ), dl AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), lq AS (
                SELECT query_id, unnest(terms) AS term FROM (
                    SELECT doc_id AS query_id,
                           list_distinct(list_filter(
                               [lower(({_TOKS})[3]), lower(({_TOKS})[5])],
                               x -> x IS NOT NULL AND x <> '')) AS terms
                    FROM documents
                    WHERE doc_id % {TS.BM25_MRR_MOD} = 0) b
            ), qt AS (
                SELECT q.query_id, q.term, d.df
                FROM lq q JOIN dfreq d USING (term)
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1) / (2*q.df + 1))
                           * ({TS._BM25_NUM_C} * t.tf * s.t_tokens)
                           / (1000 * t.tf * s.t_tokens
                              + {TS._BM25_DEN_T} * s.t_tokens
                              + {TS._BM25_DEN_DL} * d.dl * s.n_docs)
                       ), 4) AS bm25
                FROM tf t JOIN qt q USING (term)
                     JOIN dl d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            ), ranked AS (
                SELECT query_id, doc_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25 DESC, doc_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS target_rank,
                   CAST(10000 // rank AS BIGINT) AS rr_bp,
                   rank = 1 AS hit_at_1, rank <= 5 AS hit_at_5
            FROM ranked WHERE doc_id = query_id ORDER BY query_id
        """,
        # per-(source, lang) datasheet: exact BIGINT rollups incl. the
        # whitespace-normalized distinct-content count and dup basis points
        "t_datasheet": f"""
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
                   CAST(sum(len({_TOKS})) // count(*) AS BIGINT) AS mean_tokens,
                   CAST(count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
                   CAST(((count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))) * 10000) // count(*) AS BIGINT) AS dup_bp
            FROM documents GROUP BY source, lang ORDER BY source, lang
        """,
        # band-verdict face of the HLL datasheet: the oracle recomputes the
        # exact columns and ASSERTS the band verdict — if Spark's HLL count
        # ever drifts past max(2, 5 x RSD x exact) the boolean flips and
        # the row hash-mismatches (the sketch VALUE itself never crosses
        # engines; r3 verdict item 3)
        "t_datasheet_approx": f"""
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
                   CAST(sum(len({_TOKS})) // count(*) AS BIGINT) AS mean_tokens,
                   CAST(count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
                   CAST(((count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))) * 10000) // count(*) AS BIGINT) AS dup_bp,
                   TRUE AS hll_within_band
            FROM documents GROUP BY source, lang ORDER BY source, lang
        """,
        # top-k terms per language, (count desc, term asc) tie-break; the
        # min_count=2 floor matches the Spark pre-filter
        "t_top_terms": f"""
            WITH ex AS (
                SELECT lang, unnest(list_transform({_TOKS}, t -> lower(t))) AS term
                FROM documents
            ), counts AS (
                SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
                FROM ex GROUP BY lang, term HAVING count(*) >= 2
            ), ranked AS (
                SELECT lang, term, cnt,
                       CAST(row_number() OVER (
                           PARTITION BY lang ORDER BY cnt DESC, term
                       ) AS BIGINT) AS rank
                FROM counts
            )
            SELECT lang, term, cnt, rank FROM ranked WHERE rank <= 10
            ORDER BY lang, rank
        """,
        # PMI collocations: the same token stream as t_top_terms, bigrams
        # from 1-based index windows (range is end-exclusive, so i and i+1
        # stay in bounds), the SAME exact-ppm formula with interpolated
        # floor/k constants; // is DuckDB's floor-div twin of Spark's div
        # (all terms positive, so floor == truncate)
        "t_collocations": f"""
            WITH ex AS (
                SELECT list_transform({_TOKS}, t -> lower(t)) AS w
                FROM documents
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(w) AS term FROM ex) GROUP BY term
            ), n AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_total FROM ucnt
            ), bi AS (
                SELECT unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
                FROM ex WHERE len(w) >= 2
            ), bcnt AS (
                SELECT p.w1 AS w1, p.w2 AS w2,
                       CAST(count(*) AS BIGINT) AS c_xy
                FROM bi GROUP BY 1, 2
                HAVING count(*) >= {TS.COLLOC_MIN_COUNT}
            ), scored AS (
                SELECT b.w1, b.w2, b.c_xy,
                       CAST((1000000 * b.c_xy * (SELECT n_total FROM n))
                            // (x.c * y.c) AS BIGINT) AS pmi_ppm
                FROM bcnt b
                JOIN ucnt x ON b.w1 = x.term
                JOIN ucnt y ON b.w2 = y.term
            )
            SELECT w1, w2, c_xy, pmi_ppm,
                   CAST(row_number() OVER (
                       ORDER BY pmi_ppm DESC, w1, w2) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= {TS.COLLOC_K}
            ORDER BY rank
        """,
        # exact decile tiers from the 4dp quality-value histogram: every
        # distinct value maps to ONE tier (value-quantile semantics), so no
        # global per-row sort exists in either engine
        # dup-by-tier: the shared tier map + the synthesis rule (a base
        # doc is dup iff it has an injected copy or a base fp twin)
        "c_dup_by_tier": rf"""
            WITH {_tiers_ctes},
            fpb AS (
                SELECT doc_id,
                       md5(lower(regexp_replace(trim(text), '\s+', ' ',
                                                'g'))) AS fp
                FROM documents
            ), gcnt AS (
                SELECT fp, count(*) AS n FROM fpb GROUP BY fp
            ), flags AS (
                SELECT f.doc_id,
                       (f.doc_id % {C.DUP_COPY_MOD} = 0 OR g.n > 1)
                           AS is_dup
                FROM fpb f JOIN gcnt g USING (fp)
            )
            SELECT t.tier, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dups,
                   CAST(10000 * sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END)
                        // count(*) AS BIGINT) AS dup_bp
            FROM scored sc JOIN tiers t USING (quality)
            JOIN flags fl ON fl.doc_id = sc.doc_id
            GROUP BY t.tier ORDER BY t.tier
        """,
        "c_quality_tiers": f"""
            WITH {_tiers_ctes}
            SELECT s.doc_id, s.quality, t.tier
            FROM scored s JOIN tiers t USING (quality)
            ORDER BY s.doc_id
        """,
        # curriculum/annealing read order: the tier map (shared fragment)
        # composed with the shuffle hash — pos is per (tier, shard)
        "c_curriculum_order": f"""
            WITH {_tiers_ctes},
            dt AS (
                SELECT s.doc_id, t.tier,
                       CAST(('0x' || substr(md5('{C.SHUFFLE_SEED}:'
                                                || s.doc_id), 1, 8))
                            AS BIGINT) AS h
                FROM scored s JOIN tiers t USING (quality)
            ), dsh AS (
                SELECT doc_id, tier, h,
                       ((h % {C.SHUFFLE_SHARDS}) + {C.SHUFFLE_SHARDS})
                       % {C.SHUFFLE_SHARDS} AS shard
                FROM dt
            )
            SELECT doc_id, tier, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY tier, shard
                        ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
            FROM dsh ORDER BY doc_id
        """,
        # asymmetric containment over the corpus + formula-derived excerpts:
        # (inter*10000) div |shA| in exact basis points
        "d_containment": f"""
            WITH uni AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT -(doc_id) - 1, source,
                       'via feed ' ||
                       coalesce(array_to_string(({_TOKS})[1:20], ' '), '')
                FROM documents WHERE doc_id % {D.SYNDICATED_MOD} = 0
            ), sh AS (
                SELECT doc_id, source, list_distinct({_SHINGLES}) AS s FROM uni
            ), hashed AS (
                SELECT doc_id,
                       list_transform(s, x -> {_H32.format(x='x')}) AS hs
                FROM sh
            ), queries AS (
                SELECT doc_id AS doc_a,
                       unnest(list_sort(hs)[1:{D.CONTAIN_BOTTOM_K}]) AS h
                FROM hashed
            ), postings AS (
                SELECT doc_id AS doc_b, unnest(hs) AS h FROM hashed
            ), cand AS (
                SELECT DISTINCT doc_a, doc_b
                FROM queries q JOIN postings p USING (h)
                WHERE doc_a <> doc_b
            )
            SELECT doc_a, doc_b, containment_bp FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST((len(list_intersect(a.s, b.s)) * 10000)
                            // len(a.s) AS BIGINT) AS containment_bp
                FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                            JOIN sh b ON b.doc_id = c.doc_b
            ) t WHERE containment_bp >= 8000
            ORDER BY doc_a, doc_b
        """,
        # DSIR importance selection: the oracle rebuilds the hashed-bigram
        # feature stream, the one-pass (raw, target) bucket dim, and the
        # integer ratio/threshold arithmetic — all BIGINT end to end
        "c_dsir_select": f"""
            WITH toks AS (
                SELECT doc_id, {_TOKS} AS t FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(t) < 2
                                   THEN [array_to_string(t, ' ')]
                                   ELSE list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))
                              END) AS g
                FROM toks
            ), hashed AS (
                SELECT doc_id, {_H32.format(x='g')} % {C.DSIR_BUCKETS} AS b
                FROM grams
            ), dim AS (
                SELECT b, count(*) AS raw_n,
                       sum(CASE WHEN doc_id % {C.DSIR_TARGET_MOD} = 0
                                THEN 1 ELSE 0 END) AS tgt_n
                FROM hashed GROUP BY b
            ), sc AS (
                SELECT h.doc_id, count(*) AS n_grams,
                       sum((d.tgt_n * {C.DSIR_SCALE}) // d.raw_n) AS s
                FROM hashed h JOIN dim d USING (b) GROUP BY h.doc_id
            )
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(s // n_grams AS BIGINT) AS score_bp,
                   (s // n_grams) >= {C.DSIR_SCALE // C.DSIR_TARGET_MOD}
                       AS selected
            FROM sc ORDER BY doc_id
        """,
        # Dolma paragraph taggers: same synthetic lines as c_line_dedup,
        # attribute formulas (token count, alpha share, punct/nav cues,
        # mixer keep rule) re-derived literally
        "c_paragraph_tags": f"""
            WITH multi AS (
                SELECT doc_id, {_lines_sql} AS ls FROM documents
            ), paras AS (
                SELECT doc_id,
                       unnest(range(0, len(ls))) AS para_idx,
                       unnest(ls) AS para
                FROM multi
            ), tagged AS (
                SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
                       CAST(len(list_filter(
                           regexp_split_to_array(trim(para), '\\s+'),
                           w -> w <> '')) AS BIGINT) AS n_tokens,
                       CAST((length(regexp_replace(para, '[^A-Za-z]', '', 'g'))
                             * 10000) // greatest(length(para), 1) AS BIGINT)
                           AS alpha_bp,
                       regexp_matches(para, '[.!?\"]\\s*$') AS ends_punct,
                       contains(para, '|') AS is_nav
                FROM paras
            )
            SELECT doc_id, para_idx, n_tokens, alpha_bp, ends_punct, is_nav,
                   (n_tokens >= {C.PARA_MIN_TOKENS}
                    AND alpha_bp >= {C.PARA_MIN_ALPHA_BP}
                    AND NOT is_nav) AS keep
            FROM tagged ORDER BY doc_id, para_idx
        """,
        # the composed corpus build: every stage's twin chained over the
        # previous stage's survivor set — gate reasons, exact-dedup keeper,
        # contaminated shingle set, sampling hash, and packing prefix-sum
        # must ALL agree for the final hash to match
        # the burn-down funnel over the SAME stage chain: per-stage doc and
        # token counts with exact-bp retention vs raw
        "c_corpus_funnel": f"""
            WITH {_corpus_chain_for("documents")},
            fcnt AS (
                SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
                       sum(len({_TOKS})) AS n_tokens FROM documents
                UNION ALL
                SELECT 1, 'gated', count(*), sum(len({_TOKS})) FROM s1
                UNION ALL
                SELECT 2, 'deduped', count(*), sum(len({_TOKS})) FROM s2
                UNION ALL
                SELECT 3, 'clean', count(*), sum(len({_TOKS})) FROM s3
                UNION ALL
                SELECT 4, 'sampled', count(*), sum(len({_TOKS})) FROM s4
            ), fraw AS (
                SELECT count(*) AS rd, sum(len({_TOKS})) AS rt
                FROM documents
            )
            SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((10000 * n_docs) // rd AS BIGINT)
                       AS docs_retained_bp,
                   CAST((10000 * n_tokens) // rt AS BIGINT)
                       AS tokens_retained_bp
            FROM fcnt, fraw ORDER BY stage_idx
        """,
        "c_corpus_build": f"""
            WITH {_corpus_chain_for("documents")}
            SELECT doc_id, source, lang, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                                                   ORDER BY doc_id)
                               - n_tokens) / 500) AS BIGINT) AS shard_id
            FROM t ORDER BY doc_id
        """,
        # the WARC crawl-to-corpus lifecycle: the archive round-trip is
        # byte-identity, so the oracle rebuilds the decoded text from the
        # mixed-encodings formula (c_ingest_pipeline doctrine) and runs
        # the SAME corpus chain over it — stage twins shared verbatim
        "p_warc_ingest_corpus": f"""
            WITH decoded AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 4 THEN text || 'é.'
                            ELSE text END AS raw,
                       nfc_normalize(CASE WHEN doc_id % 5 = 4
                                          THEN text || 'é.'
                                          ELSE text END) AS text,
                       lang, source
                FROM documents
            ), {_corpus_chain_for("decoded")}
            SELECT t.doc_id, t.source, t.lang, t.n_tokens,
                   CAST(floor((sum(t.n_tokens) OVER (PARTITION BY t.source
                                                     ORDER BY t.doc_id)
                               - t.n_tokens) / 500) AS BIGINT) AS shard_id,
                   CASE t.doc_id % 5
                     WHEN 1 THEN '{C.CHARSET_UTF8_BOM}'
                     WHEN 2 THEN '{C.CHARSET_UTF16_LE}'
                     WHEN 3 THEN '{C.CHARSET_UTF16_BE}'
                     WHEN 4 THEN '{C.CHARSET_LATIN1}'
                     ELSE '{C.CHARSET_UTF8}' END AS charset,
                   (dd.raw <> dd.text) AS nfc_changed
            FROM t JOIN decoded dd USING (doc_id)
            ORDER BY t.doc_id
        """,
        # mixer apply: same attribute formulas as c_paragraph_tags, kept
        # paragraphs re-joined in order and md5-pinned
        "c_paragraph_mix": f"""
            WITH multi AS (
                SELECT doc_id, {_lines_sql} AS ls FROM documents
            ), kept AS (
                SELECT doc_id, ls,
                       list_filter(ls, para ->
                           len(list_filter(
                               regexp_split_to_array(trim(para), '\\s+'),
                               w -> w <> '')) >= {C.PARA_MIN_TOKENS}
                           AND length(regexp_replace(para, '[^A-Za-z]', '', 'g'))
                               * 10000
                               >= {C.PARA_MIN_ALPHA_BP}
                                  * greatest(length(para), 1)
                           AND NOT contains(para, '|')) AS kp
                FROM multi
            )
            SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_paras,
                   CAST(len(kp) AS BIGINT) AS n_kept,
                   md5(coalesce(array_to_string(kp, chr(10)), '')) AS clean_md5
            FROM kept ORDER BY doc_id
        """,
        # sub-document duplicate spans: the oracle re-derives the spliced
        # token lists from the SPAN_* formulas, fingerprints every SPAN_N
        # window, and merges duplicated windows with the same
        # gaps-and-islands arithmetic — span boundaries, lengths, and
        # window counts must all match exactly
        "d_dup_spans": f"""
            WITH {_span_cte}
            SELECT doc_id, span_start, span_end, span_len, n_windows
            FROM spans ORDER BY doc_id, span_start
        """,
        # span REMOVAL (the apply side): kept tokens re-joined in order and
        # md5-pinned, remove-all policy — shares the span CTE chain above
        "d_strip_spans": f"""
            WITH {_span_cte},
            toks AS (
                SELECT doc_id, unnest(t) AS tok,
                       unnest(range(0, len(t))) AS pos
                FROM sp
            ), kept AS (
                SELECT k.doc_id, k.pos, k.tok FROM toks k
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND k.pos BETWEEN s.span_start AND s.span_end)
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT s2.doc_id, CAST(len(s2.t) AS BIGINT) AS n_tokens,
                   CAST(len(s2.t) - coalesce(a.n_kept, 0) AS BIGINT)
                       AS n_dup_tokens,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM sp s2 LEFT JOIN agg a USING (doc_id)
            ORDER BY s2.doc_id
        """,
        # corpus-level line dedup: lines shared by >= LINE_MIN_DF docs are
        # boilerplate; clean_md5 re-joins survivors in original order so a
        # reassembly/ordering bug (not just a count bug) fails the hash
        "c_line_dedup": f"""
            WITH multi AS (
                SELECT doc_id, {_lines_sql} AS ls FROM documents
            ), lines AS (
                SELECT doc_id, unnest(ls) AS line,
                       unnest(range(1, len(ls) + 1)) AS pos
                FROM multi
            ), hot AS (
                SELECT md5(line) AS fp FROM lines
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= {C.LINE_MIN_DF}
            ), kept AS (
                SELECT * FROM lines WHERE md5(line) NOT IN (SELECT fp FROM hot)
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT m.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM multi m LEFT JOIN agg a USING (doc_id)
            ORDER BY m.doc_id
        """,
        # host-scoped line dedup: identical shape, but document frequency and
        # the anti-join key on (source, fp) and the threshold is the host one
        # — the subscribe block (hot only corpus-wide) must SURVIVE here
        "c_line_dedup_host": f"""
            WITH multi AS (
                SELECT doc_id, source, {_lines_sql} AS ls FROM documents
            ), lines AS (
                SELECT doc_id, source, unnest(ls) AS line,
                       unnest(range(1, len(ls) + 1)) AS pos
                FROM multi
            ), hot AS (
                SELECT source, md5(line) AS fp FROM lines
                GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= {C.LINE_HOST_MIN_DF}
            ), kept AS (
                SELECT l.* FROM lines l
                LEFT JOIN hot h ON h.source = l.source AND h.fp = md5(l.line)
                WHERE h.fp IS NULL
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT m.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM multi m LEFT JOIN agg a USING (doc_id)
            ORDER BY m.doc_id
        """,
        # inverted anchor-text index: same ring formulas as u_outlinks plus
        # the per-(src,dst) anchor-text formula; sorted-distinct text set,
        # sliced to the same per-target cap the engine applies (the k
        # lexicographically-smallest distinct texts = the first k of the
        # sorted distinct list), so a cap change can't silently diverge
        "u_anchor_text": f"""
            WITH edges AS ({_edges_sql}),
            at AS (
                SELECT src, dst, 'ref' || (src % 3) || '-' || dst AS atext
                FROM edges
            )
            SELECT dst, CAST(count(*) AS BIGINT) AS n_inlinks,
                   CAST(count(DISTINCT src) AS BIGINT) AS n_srcs,
                   coalesce(array_to_string(
                       list_sort(list_distinct(list(atext)))
                           [1:{LG.ANCHOR_MAX_TEXTS}], '|'), '') AS texts
            FROM at GROUP BY dst ORDER BY dst
        """,
        # boilerplate-gate audit: four synthesized blocks per doc; the
        # oracle re-derives every counter from the synthesis formula —
        # the body block's chars ride rtrim(substr(text,1,80)) because
        # the gate's cleanup strips a trailing mid-word space (98 sf0.01
        # docs land exactly on that edge), and the mixed block flips
        # kept/link_dense by parity across the exact 2a > t gate
        "p_boilerplate_audit": """
            WITH base AS (
                SELECT doc_id,
                       6 + length(rtrim(substr(text, 1, 80))) AS bchars
                FROM documents
            ), blocks AS (
                SELECT doc_id, 0 AS block_ord, 'div' AS tag,
                       31 AS text_chars, 31 AS anchor_chars,
                       31 AS total_chars, 'link_dense' AS verdict
                FROM base
                UNION ALL
                SELECT doc_id, 1, 'p', 2, 0, 2, 'too_short' FROM base
                UNION ALL
                SELECT doc_id, 2, 'p', bchars, 0, bchars, 'kept' FROM base
                UNION ALL
                SELECT doc_id, 3, 'p',
                       CASE WHEN doc_id % 2 = 1 THEN 32 ELSE 57 END,
                       CASE WHEN doc_id % 2 = 1 THEN 23 ELSE 4 END,
                       CASE WHEN doc_id % 2 = 1 THEN 30 ELSE 55 END,
                       CASE WHEN doc_id % 2 = 1 THEN 'link_dense'
                            ELSE 'kept' END
                FROM base
            )
            SELECT doc_id, CAST(block_ord AS BIGINT) AS block_ord, tag,
                   CAST(text_chars AS BIGINT) AS text_chars,
                   CAST(anchor_chars AS BIGINT) AS anchor_chars,
                   CAST(total_chars AS BIGINT) AS total_chars,
                   CAST(10000 * anchor_chars // total_chars AS BIGINT)
                       AS link_bp,
                   verdict
            FROM blocks ORDER BY doc_id, block_ord
        """,
        # head metadata: oracle rebuilds the identical <head> bytes, then
        # runs the byte-identical regexes (RE2/Java-compatible; Spark's
        # no-match '' matched via coalesce)
        "u_head_meta": f"""
            WITH pages AS (
                SELECT doc_id, {_head_html_sql} AS html FROM documents
            )
            SELECT doc_id,
                   coalesce(regexp_extract(html, '{HM.TITLE_RE}', 1), '') AS title,
                   coalesce(regexp_extract(html, '{HM.CHARSET_RE}', 1), '') AS charset,
                   coalesce(regexp_extract(html, '{HM.DESC_RE}', 1), '') AS description,
                   coalesce(regexp_extract(html, '{HM.CANON_RE}', 1), '') AS canonical,
                   coalesce(regexp_extract(html, '{HM.OG_TITLE_RE}', 1), '') AS og_title
            FROM pages ORDER BY doc_id
        """,
        # crawl-frontier assembly — the composed twin of u_robots (allowed
        # pages + delays) ∩ u_domain_quota (cap 5/reg-domain) ∩ g_pagerank
        # (priority), so drift in ANY stage fails this hash too
        "g_frontier": f"""
            WITH {_url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{_rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges AS ({_edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain, p.rank
                FROM alw a JOIN quota q USING (doc_id) JOIN pr5 p USING (doc_id)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """,
        # frontier v2: the SAME robots/quota/slot skeleton as g_frontier,
        # but edges are the followed subset of the rel-formula links, and
        # pr5/tr5 over that subset feed the spam-mass demotion filter
        "g_frontier2": f"""
            WITH {_url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{_rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges AS (
                SELECT src, dst FROM ({" UNION ALL ".join(
                    f"SELECT doc_id AS src, "
                    f"(doc_id * {m} + {a}) % "
                    f"(SELECT count(*) FROM documents) AS dst, "
                    f"(doc_id + {k}) % 5 AS r FROM documents"
                    for k, (m, a) in enumerate(LG.LINK_PARAMS))})
                WHERE r >= 3
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            {_tr_cte},
            c2 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
                FROM documents
            ),
            sus AS (
                SELECT p.doc_id
                FROM pr5 p JOIN tr5 t USING (doc_id) CROSS JOIN c2 c
                WHERE (greatest(p.rank
                        - (t.trust * (c.n_docs // c.n_seeds)
                           + (t.trust * (c.n_docs % c.n_seeds))
                             // c.n_seeds), 0) * 10000) // p.rank
                      >= {LG.SPAM_MASS_SUSPECT_BP}
            ),
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain,
                       p.rank
                FROM alw a JOIN quota q USING (doc_id)
                JOIN pr5 p USING (doc_id)
                WHERE a.doc_id NOT IN (SELECT doc_id FROM sus)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """,
        # the REAL crawl cycle (r2 verdict item 2): frontier fed from the
        # extraction funnel — frozen core-path extraction statuses pick the
        # 'ok' docs, the quality-gate twin picks the crawl-worthy ones, and
        # robots/quota/PageRank run over the surviving subgraph only; a
        # drift in extraction, gate, link extraction, ranking, robots, or
        # quota all fail this one hash
        "g_corpus_frontier": f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            ok AS (
                SELECT CAST(regexp_extract(url, '/([0-9]+)$', 1) AS BIGINT) AS doc_id
                FROM exp WHERE status = 'ok'
            ),
            {_gate_cte_for("documents")},
            crawlable AS (
                SELECT d.* FROM documents d
                JOIN gated g USING (doc_id)
                WHERE g.reasons = ''
                  AND d.doc_id IN (SELECT doc_id FROM ok)
            ),
            {_url_cte_for("crawlable")},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{WU.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{_rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges_all AS ({_edges_sql}),
            edges AS (
                SELECT src, dst FROM edges_all
                WHERE src IN (SELECT doc_id FROM crawlable)
                  AND dst IN (SELECT doc_id FROM crawlable)
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_rank_cte("pr", "rank", str(LG.UNIT), str(LG.BASE), nodes="crawlable")},
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain, p.rank
                FROM alw a JOIN quota q USING (doc_id) JOIN pr5 p USING (doc_id)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """,
        # streaming change-feed: baseline is the PREVIOUS OBSERVATION
        # (state persists through gaps) -> plain lag() over presence rows;
        # the stream feeds one cycle per micro-batch, so a hash match means
        # the cross-batch state path computed every verdict correctly
        "st_change_feed": f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            )
            SELECT doc_id, CAST(snap_ts AS BIGINT) AS snap_ts,
                   CASE WHEN lag(fp) OVER w IS NULL THEN 'added'
                        WHEN fp <> lag(fp) OVER w THEN 'changed'
                        ELSE 'unchanged' END AS verdict
            FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ORDER BY doc_id, snap_ts
        """,
        # SCD2 recrawl history: presence/revision formulas re-derived per
        # (doc_id, ts); segment break on fp change OR presence gap
        # adaptive recrawl: same snapshot-series twin, pair/change counters
        # and the capped power-of-2 backoff (constants interpolate from
        # operators/snapshot.py)
        "u_recrawl_schedule": f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            ), lagged AS (
                SELECT doc_id, snap_ts, fp,
                       lag(fp) OVER w AS prev_fp,
                       lag(snap_ts) OVER w AS prev_ts
                FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ), per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_obs,
                       CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                      AND snap_ts = prev_ts + 1
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                       CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                      AND snap_ts = prev_ts + 1
                                      AND fp <> prev_fp
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                       CAST(max(snap_ts) AS BIGINT) AS last_ts
                FROM lagged GROUP BY doc_id
            )
            SELECT doc_id, n_obs, n_pairs, n_changes,
                   CAST({SN.RECRAWL_BASE_HOURS} * power(2,
                        least(n_pairs - n_changes,
                              {SN.RECRAWL_MAX_DOUBLINGS})) AS BIGINT)
                       AS interval_hours,
                   CAST(last_ts * 24
                        + {SN.RECRAWL_BASE_HOURS} * power(2,
                          least(n_pairs - n_changes,
                                {SN.RECRAWL_MAX_DOUBLINGS})) AS BIGINT)
                       AS next_fetch_ts
            FROM per_doc ORDER BY doc_id
        """,
        # redirect resolution: the oracle walks the formula-derived chains
        # one hop at a time with a recursive CTE (terminates — the synthetic
        # graph is acyclic by construction) and keeps each source's deepest
        # reach; the engine's pointer doubling must land on the same
        # terminal and exact hop count.  Url formula interpolates from
        # operators/weburl.py (anti-drift).
        # rel=canonical: clusters are doc_id runs of MOD consecutive ids,
        # canonical = the run's base (chains resolve to the self-declared
        # terminal); the last partial run keeps its smaller size
        "u_rel_canonical": f"""
            WITH u AS (
                SELECT doc_id,
                       'https://site' || (doc_id % 7)
                           || '.example.org/item/' || doc_id AS url,
                       doc_id - doc_id % {WU.CANONICAL_CHAIN_MOD} AS base
                FROM documents
            )
            SELECT doc_id, url,
                   'https://site' || (base % 7)
                       || '.example.org/item/' || base AS canonical_url,
                   CAST(count(*) OVER (PARTITION BY base) AS BIGINT)
                       AS n_in_cluster,
                   doc_id = base AS is_canonical
            FROM u ORDER BY doc_id
        """,
        "u_redirect_resolve": f"""
            WITH RECURSIVE redirects AS (
                SELECT {WU.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       {WU.REDIR_URL_SQL.format(d="doc_id - 1")} AS dst
                FROM documents WHERE doc_id % {WU.REDIR_CHAIN_MOD} <> 0
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            )
            SELECT src AS url, cur AS final_url,
                   CAST(hops AS BIGINT) AS n_hops, false AS unresolved
            FROM (SELECT src, cur, hops,
                         row_number() OVER (PARTITION BY src
                                            ORDER BY hops DESC) AS rn
                  FROM walk) WHERE rn = 1
            ORDER BY url
        """,
        # alias groups: same recursive walk, then every doc mapped to its
        # terminal (non-source docs keep their own url) and grouped
        "u_redirect_groups": f"""
            WITH RECURSIVE redirects AS (
                SELECT {WU.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       {WU.REDIR_URL_SQL.format(d="doc_id - 1")} AS dst
                FROM documents WHERE doc_id % {WU.REDIR_CHAIN_MOD} <> 0
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            ), resolved AS (
                SELECT src, cur AS final_url
                FROM (SELECT src, cur,
                             row_number() OVER (PARTITION BY src
                                                ORDER BY hops DESC) AS rn
                      FROM walk) WHERE rn = 1
            ), mapped AS (
                SELECT d.doc_id,
                       coalesce(r.final_url,
                                {WU.REDIR_URL_SQL.format(d="doc_id")})
                           AS canonical_url
                FROM documents d
                LEFT JOIN resolved r
                  ON r.src = {WU.REDIR_URL_SQL.format(d="doc_id")}
            )
            SELECT canonical_url,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
            FROM mapped GROUP BY canonical_url ORDER BY canonical_url
        """,
        # meta-refresh: DuckDB rebuilds the same pages and runs the SAME
        # (?i) pattern, so the extraction regexp is itself hash-checked;
        # then the usual recursive walk (chains %4==1 -> %4==2 -> terminal)
        "u_meta_redirects": f"""
            WITH RECURSIVE pages AS (
                SELECT {WU.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       '<html><head>' || CASE
                         WHEN doc_id % 4 = 1 THEN
                           '<META HTTP-EQUIV="Refresh" CONTENT="0; url='
                           || {WU.REDIR_URL_SQL.format(d="doc_id + 1")} || '">'
                         WHEN doc_id % 4 = 2 THEN
                           '<meta http-equiv="refresh" content="5;url='
                           || {WU.REDIR_URL_SQL.format(d="doc_id + 1")} || '">'
                         ELSE '' END
                       || '</head><body>' || substr(text, 1, 40)
                       || '</body></html>' AS html
                FROM documents
            ), redirects AS (
                SELECT src,
                       regexp_extract(html, '{WU.META_REFRESH_RE}', 1) AS dst
                FROM pages
                WHERE regexp_extract(html, '{WU.META_REFRESH_RE}', 1) <> ''
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            )
            SELECT src AS url, cur AS final_url,
                   CAST(hops AS BIGINT) AS n_hops, false AS unresolved
            FROM (SELECT src, cur, hops,
                         row_number() OVER (PARTITION BY src
                                            ORDER BY hops DESC) AS rn
                  FROM walk) WHERE rn = 1
            ORDER BY url
        """,
        "u_scd2_history": f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            ), brks AS (
                SELECT doc_id, snap_ts, fp,
                       CASE WHEN lag(fp) OVER w IS NULL
                                 OR fp <> lag(fp) OVER w
                                 OR snap_ts <> lag(snap_ts) OVER w + 1
                            THEN 1 ELSE 0 END AS brk
                FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ), segs AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY doc_id ORDER BY snap_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
                FROM brks
            )
            SELECT doc_id, CAST(seg AS BIGINT) AS seg,
                   CAST(min(snap_ts) AS BIGINT) AS valid_from,
                   CAST(max(snap_ts) AS BIGINT) AS valid_to,
                   min(fp) AS fp,
                   max(snap_ts) = {SN.N_SNAPSHOTS - 1} AS is_current
            FROM segs GROUP BY doc_id, seg ORDER BY doc_id, seg
        """,
    }
    # Bloom prefilter has no false negatives and exact-verifies its
    # survivors, so its contract IS the exact decontamination answer:
    # one shared oracle text, drift-proof by construction.
    sql["c_decontaminate_bloom"] = sql["c_decontaminate"]
    # the two-phase top-k is output-identical by construction — hold it to
    # the same oracle so any divergence (tie-break, salt leakage) fails
    sql["t_top_terms_2p"] = sql["t_top_terms"]
    return sql
