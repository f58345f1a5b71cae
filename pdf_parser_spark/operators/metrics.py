"""W3 + fleet metrics: batch summary rollups (ref cli.py:127-144) as
groupBy aggregations over the extraction output."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def status_summary(extracted: DataFrame) -> DataFrame:
    """Succeeded/failed counts by status (ref cli.py:127-138)."""
    return extracted.groupBy("status").agg(F.count("*").alias("n_docs")).orderBy("status")


def validation_rollup(extracted: DataFrame) -> DataFrame:
    """Fleet-level PASS/WARN/FAIL totals — the quality dashboard aggregation."""
    return (
        extracted.where(F.col("status") == "ok")
        .agg(
            F.sum("n_checks_pass").alias("total_pass"),
            F.sum("n_checks_warn").alias("total_warn"),
            F.sum("n_checks_fail").alias("total_fail"),
            F.sum("n_unmapped").alias("total_unmapped"),
            F.count("*").alias("n_docs"),
        )
    )
