"""Production job entry point — the engine's `sec-parse <folder>` analog
(reference cli.py:92-138), cluster edition.

Run via spark-submit with the packaged library (north-rule launch shape;
tools/submit_bench.sh builds build/engine.zip the same way):

    spark-submit --master yarn --py-files build/engine.zip \
        tools/run_job.py --input /data/pages --output /data/out
    # locally:
    python -m pdf_parser_spark --input /data/pages --output /data/out

Reads the pages table (parquet dir or synthesizes a corpus with
--synthesize N), runs the full batch pipeline (Arrow extraction ->
checkpointed sink + lineage -> consistency sink), prints the fleet summary
(reference cli.py:127-138) and the structural quality pass-rates.  --resume
anti-joins the urls of committed runs: a run is committed once its lineage
rows exist, so a killed run's urls are extracted again and counted once.
Each invocation gets a new run id (a UTC timestamp) unless --run-id names
one; a run id already in the output dir is refused."""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m pdf_parser_spark")
    p.add_argument("--input", help="pages parquet dir (url, warc_ts, html, text, lang)")
    p.add_argument("--synthesize", type=int, default=0,
                   help="generate N synthetic pages instead of --input")
    p.add_argument("--output", required=True, help="output dir (extracted/lineage/consistency)")
    p.add_argument("--run-id",
                   default=datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ"),
                   help="id of this run in the lineage sink; must be new to "
                        "--output (default: the UTC start time)")
    p.add_argument("--run-ts", default="", help="run-scoped parsed_at literal (determinism)")
    p.add_argument("--resume", action="store_true",
                   help="skip urls of runs already committed to the "
                        "extracted sink")
    p.add_argument("--master", default=None,
                   help="override master (default: whatever spark-submit set)")
    p.add_argument("--quality-report", action="store_true",
                   help="also print structural 9-check pass rates")
    p.add_argument("--dedup", action="store_true",
                   help="collapse byte-identical pages (min-url keeper) "
                        "before extraction — crawl mirrors never reach the "
                        "Python stage")
    p.add_argument("--xbrl-dim", default=None, metavar="PATH|synth",
                   help="XBRL facts dimension: parquet path, or 'synth' for "
                        "the corpus-issuer synthetic dim; enables the V8 "
                        "cross-validation sink (default: off — the "
                        "reference's --no-xbrl path)")
    args = p.parse_args(argv)
    if bool(args.input) == bool(args.synthesize):
        p.error("exactly one of --input / --synthesize N is required")

    from pdf_parser_spark.session import get_spark

    spark = get_spark("pdf-parser-spark-job", master=args.master)
    try:
        if args.input:
            from pdf_parser_spark.sources.pages import read_pages

            pages = read_pages(spark, args.input)
        else:
            from pdf_parser_spark.sources.pages import synthetic_pages

            pages = synthetic_pages(spark, args.synthesize)

        xbrl_facts = None
        if args.xbrl_dim == "synth":
            from pdf_parser_spark.sources.xbrl import corpus_facts_df

            xbrl_facts = corpus_facts_df(spark)
        elif args.xbrl_dim:
            xbrl_facts = spark.read.parquet(args.xbrl_dim)

        from pdf_parser_spark.operators.pipeline import run_batch

        final = run_batch(
            pages, args.output, run_ts=args.run_ts,
            run_id=args.run_id, resume=args.resume, xbrl_facts=xbrl_facts,
            dedup=args.dedup,
        )
        n = final.count()

        from pdf_parser_spark.operators.checkpoint import committed_rows
        from pdf_parser_spark.operators.metrics import status_summary

        extracted = committed_rows(spark, args.output)
        print(f"== batch complete: {n} documents -> {args.output}")
        for row in status_summary(extracted).collect():
            print(f"   {row['status']:>10}: {row['n_docs']}")

        if xbrl_facts is not None:
            from pyspark.sql import functions as F

            xv = spark.read.parquet(f"{args.output}/xbrl_validation")
            print("== XBRL cross-validation (V8 severity bands)")
            for row in (
                xv.groupBy("severity").count().orderBy("severity").collect()
            ):
                print(f"   {row['severity']:>10}: {row['count']}")

        if args.quality_report:
            from pdf_parser_spark.operators.quality import (
                quality_summary, structural_check_stage,
            )

            ok = extracted.where("status = 'ok'")
            print("== structural quality (9 reference checks)")
            for row in quality_summary(structural_check_stage(ok)).collect():
                print(f"   {row['check']:>28}: {row['pass_rate']:.2%} "
                      f"({row['n_pass']}/{row['n_docs']})")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
