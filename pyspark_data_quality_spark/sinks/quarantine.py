"""Quarantine routing: one DQ pass writes valid rows onward and invalid
rows (with their failure reasons) to a quarantine area.

The standard production pattern the reference never closed the loop on:
its ResultObj exposed the two frames but nothing persisted them. Both
writes come from ONE classification (:meth:`..result.ResultObj.split`):
the annotated frame is persisted for the two writes, so the source scan,
the FK reference scan and broadcast, the uniqueness shuffle and the rule
evaluation run once, and each sink filters the cached rows — no UDFs.

Layout: ``<base>/valid/`` (original schema) and ``<base>/invalid/``
(original schema + ``failed_rules array<string>``), both parquet so the
quarantine is queryable for triage and replay. ``partition_by`` columns
apply to both sides (e.g. an ingest-date column keeps replays pruned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..result import ResultObj


def quarantine_route(
    result: ResultObj,
    base_path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> dict[str, str]:
    """Write ``result``'s valid rows to ``<base>/valid`` and invalid rows
    (with ``failed_rules``) to ``<base>/invalid``. Returns the two paths."""
    paths = {
        "valid": f"{base_path.rstrip('/')}/valid",
        "invalid": f"{base_path.rstrip('/')}/invalid",
    }
    with result.split() as (valid, invalid):
        for name, df in (("valid", valid), ("invalid", invalid)):
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            with result.tag_jobs(name):
                w.parquet(paths[name])
    return paths


def read_quarantine(spark: SparkSession, base_path: str) -> DataFrame:
    """Load the invalid/quarantined rows for triage."""
    return spark.read.parquet(f"{base_path.rstrip('/')}/invalid")
