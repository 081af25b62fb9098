"""Partition-granular checkpoint & resume (north_rule obligation #2).

The reference's vestigial TaskService (task_service.py:17-87, all
NotImplementedError) and its glob-based sequential task counter
(json_utils.py:13-32 — a global serialization bottleneck and race) are
replaced by deterministic work partitioning:

- every url maps to a stable ``part_id = pmod(hash(url), n_buckets)``
  — Murmur3 seed 42, the very expression Spark's hash partitioner
  evaluates, so ``salting.repartition_by_url(df, p)`` with ``p``
  dividing ``n_buckets`` puts each bucket in exactly one task and the
  write makes one file per bucket
- a **manifest** table records (run_id, part_id, completed_ts) per
  completed bucket; it holds at most ``n_buckets`` rows per run
- resume = a set difference on the driver: the buckets not in the
  manifest are the ones to run, and the input is filtered to them with
  ``isin`` — no join, and no scan of the input when nothing remains.
  A bucket no url hashes to counts as complete.

Output is written partitioned by part_id so a re-run of bucket B
replaces exactly bucket B's files (dynamic partition overwrite), making
per-bucket completion atomic-enough without Iceberg in this sandbox;
on a real cluster the same layout maps 1:1 onto Iceberg partition
commits.
"""

from __future__ import annotations

import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..schema import EXTRACTION_SCHEMA, MANIFEST_SCHEMA
from .pipeline import run_extraction


def url_bucket(n_buckets: int) -> Column:
    """The checkpoint bucket of ``url``: the partition Spark's hash
    partitioner gives it among ``n_buckets`` partitions."""
    return F.pmod(F.hash("url"), F.lit(n_buckets))


# what run_checkpointed writes: the extraction records plus their bucket
OUTPUT_SCHEMA = T.StructType(
    EXTRACTION_SCHEMA.fields + [T.StructField("part_id", T.IntegerType(), True)]
)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The checkpointed output, read with its known schema: a run over
    an empty input writes no data file to infer one from."""
    return spark.read.schema(OUTPUT_SCHEMA).parquet(out_dir)


def read_manifest(spark: SparkSession, manifest_dir: str, run_id: str) -> DataFrame:
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    except AnalysisException:  # no run has completed a bucket yet
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return m.where(F.col("run_id") == run_id)


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    manifest_dir: str,
    run_id: str,
    n_buckets: int = 64,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    only_parts: list[int] | None = None,
) -> list[int]:
    """Process all not-yet-completed buckets (optionally restricted to
    ``only_parts`` — the test hook that simulates a mid-run kill).
    Returns the list of part_ids completed in this invocation."""
    done = {r.part_id for r in read_manifest(spark, manifest_dir, run_id).collect()}
    wanted = set(range(n_buckets) if only_parts is None else only_parts)
    remaining = sorted((set(range(n_buckets)) - done) & wanted)
    if not remaining:
        return []

    bucket = url_bucket(n_buckets)
    if len(remaining) < n_buckets:
        pages = pages.where(bucket.isin(remaining))
    out = run_extraction(pages, cfg).withColumn("part_id", bucket)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out.write.mode("overwrite").partitionBy("part_id").parquet(out_dir)

    now = datetime.datetime.now()
    spark.createDataFrame(
        [(run_id, p, now) for p in remaining], MANIFEST_SCHEMA
    ).write.mode("append").parquet(manifest_dir)
    return remaining
