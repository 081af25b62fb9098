"""Per-partition lineage + extraction-quality metrics (north_rule
obligation #3).

Replaces the reference's task JSON sink (json_utils.py:35-74) and
health probe (health_routes.py:22-62) with queryable tables:

- ``partition_metrics`` — one row per checkpoint bucket
  (``part_id``) of the extraction output: docs in/ok/error, chars
  out. A bucket is the unit a resume redoes, so each row names work
  that can be rerun; the aggregate is map-side combined but does read
  the written output once.
- ``host_quality_metrics`` — extraction-quality rollup by host:
  error share, scanned share, avg confidence, span yield. This is
  the table an operator watches at 100 TB to spot a host whose
  markup breaks the extractor.
- ``heavy_hosts`` — the hosts of that table carrying more than a
  fraction of the run's docs: exact, and a function of the rows alone.
- ``write_metrics`` — append to a parquet/Iceberg-style metrics dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .salting import host_of


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    return (
        extracted.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("docs_ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("docs_error"),
            F.sum(F.length("text")).alias("chars_out"),
        )
        .select(F.lit(run_id).alias("run_id"), "*")
    )


def host_quality_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    return (
        extracted.groupBy(host_of(F.col("url")).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.avg(F.when(F.col("error").isNotNull(), 1.0).otherwise(0.0)).alias("error_share"),
            F.avg(F.col("is_scanned").cast("double")).alias("scanned_share"),
            F.avg("average_confidence").alias("avg_confidence"),
            F.avg(F.size("spans").cast("double")).alias("avg_spans"),
            F.sum("total_characters").alias("total_chars"),
        )
        .select(F.lit(run_id).alias("run_id"), "*")
    )


def heavy_hosts(host_metrics: DataFrame, heavy_fraction: float = 0.05) -> list[str]:
    """Hosts of a ``host_quality_metrics`` table with more than
    ``heavy_fraction`` of its docs, sorted."""
    total = host_metrics.agg(F.sum("docs")).first()[0]
    if not total:
        return []
    rows = host_metrics.where(F.col("docs") > heavy_fraction * total).collect()
    return sorted(r.host for r in rows)


def write_metrics(df: DataFrame, metrics_dir: str) -> None:
    df.write.mode("append").parquet(metrics_dir)
