"""pdf_parser_spark — a PySpark-native main-content extraction & analytics engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference at /root/reference (Rsiran/PDF-parser, a single-threaded pure-Python
PDF->markdown batch tool).  Architecture:

- ``pdf_parser_spark.core``      pure-Python, zero-Spark, deterministic per-document
  extraction library (the semantics layer — what pytest verifies byte-for-byte).
- ``pdf_parser_spark.operators`` Spark stages: Arrow-vectorized extraction
  (mapInPandas), cross-document relational ops (windows, first-wins aggregation,
  dedup, similarity search, text stats), checkpoint/resume.
- ``pdf_parser_spark.sources``   pages-table synthesis + readers (parquet seam,
  Iceberg-compatible layout), testdata loaders.
- ``pdf_parser_spark.plans``     headline relational query library.
- ``pdf_parser_spark.streaming`` Structured Streaming adapter over the same stages.

Design rules (BASELINE.json north_rule):
- one document == one DataFrame row; pages never exploded before segmentation
- vectorized Arrow pandas UDFs only — no per-row Python UDFs
- url-hash partitioning with salting for skewed hosts
- per-partition lineage/metrics checkpoint table, anti-join resume
- deterministic output under retries (run-scoped timestamps, explicit orderings)

Importing the package installs ``zipstamp``: every Python worker that
unpickles one of the package's UDFs passes through here, and from then on
its per-task ``importlib.invalidate_caches()`` re-reads only the zip
archives on ``sys.path`` that changed (about 0.2 s a task saved).
"""

from pdf_parser_spark import zipstamp

__version__ = "0.1.0"

zipstamp.install()
