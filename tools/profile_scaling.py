"""Decompose run_batch wall time by phase at two parallelism levels.

Usage: python tools/profile_scaling.py [n_docs] [cores ...]
Prints per-phase seconds so the non-scaling (serial) component is visible.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile(master: str, n_docs: int) -> dict[str, float]:
    from pdf_parser_spark.operators.checkpoint import write_checkpoint
    from pdf_parser_spark.operators.consistency import finalize
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.operators.pipeline import CONSISTENCY_COLS
    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.sources.pages import synthetic_pages

    spark = get_spark("profile", master=master)
    times: dict[str, float] = {}
    try:
        pages = synthetic_pages(spark, n_docs=n_docs).cache()
        pages.count()
        # warmup
        wdir = tempfile.mkdtemp(prefix="prof_warm_")
        extract_stage(synthetic_pages(spark, 32), run_ts="t").write.mode(
            "overwrite").parquet(f"{wdir}/x")
        shutil.rmtree(wdir, ignore_errors=True)

        out_dir = tempfile.mkdtemp(prefix="prof_")
        try:
            t0 = time.perf_counter()
            extracted = extract_stage(pages, run_ts="2026-08-16T00:00:00Z")
            materialized = write_checkpoint(extracted, out_dir, run_id="p")
            times["1_extract_sink"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            final = finalize(materialized).select(*CONSISTENCY_COLS)
            final.write.mode("overwrite").parquet(f"{out_dir}/consistency")
            times["2_finalize_write"] = time.perf_counter() - t0

            t0 = time.perf_counter()
            spark.read.parquet(f"{out_dir}/consistency").count()
            times["3_readback"] = time.perf_counter() - t0
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        times["total"] = sum(times.values())
    finally:
        spark.stop()
    return times


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 9600
    cores = [int(c) for c in sys.argv[2:]] or [2, 8]
    all_times = {}
    for c in cores:
        all_times[c] = profile(f"local[{c}]", n_docs)
        print(f"\n== local[{c}] n={n_docs} ==")
        for k, v in all_times[c].items():
            print(f"  {k:20s} {v:8.2f}s")
    if len(cores) == 2:
        lo, hi = cores
        print(f"\nphase speedups {lo}->{hi}:")
        for k in all_times[lo]:
            print(f"  {k:20s} {all_times[lo][k] / max(all_times[hi][k], 1e-9):6.2f}x")


if __name__ == "__main__":
    main()
