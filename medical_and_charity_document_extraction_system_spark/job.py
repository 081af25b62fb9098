"""spark-submit entrypoint (north_rule: launched via
``spark-submit --py-files``).

    spark-submit --py-files mcdes_spark.zip \
        -m medical_and_charity_document_extraction_system_spark.job \
        --input /data/pages --output /data/extractions \
        --metrics /data/metrics --manifest /data/manifest \
        --run-id run1 --buckets 4096 --partitions 4096

Replaces the reference's uvicorn/FastAPI serving layer
(main.py:82-88): one batch job = one resumable run over an input
table, with url-hash repartition, checkpointed buckets, and metrics
writes.

``--partitions`` repartitions the input by the url hash the checkpoint
buckets on, so when ``--partitions`` divides ``--buckets`` every bucket
lives in one task and the write makes ``--buckets`` files, not
``--partitions`` x ``--buckets``. A url hash cannot be host-skewed:
a host carrying 40% of the rows spreads over every task like any
other. ``main`` reports as ``heavy_hosts`` the hosts over 5% of the
docs in the per-host metrics table it writes. A re-run whose buckets
are all in the manifest extracts nothing, writes no metrics and
reports no heavy hosts.

The session this entrypoint builds for itself keeps Spark's stock
Python worker daemon, not ``get_spark``'s ``worker_daemon``: on a
cluster ``--py-files`` reach an executor only with its tasks, so the
package may not be importable yet when the daemon starts there.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

# absolute imports: spark-submit executes this file as a __main__
# script, so relative imports are unavailable; the package arrives on
# executors via --py-files
from medical_and_charity_document_extraction_system_spark.config import (
    ExtractionConfig,
    spark_conf_overrides,
)
from medical_and_charity_document_extraction_system_spark.plans.checkpoint import (
    read_output,
    run_checkpointed,
)
from medical_and_charity_document_extraction_system_spark.plans.metrics import (
    heavy_hosts,
    host_quality_metrics,
    partition_metrics,
    write_metrics,
)
from medical_and_charity_document_extraction_system_spark.plans.salting import (
    repartition_by_url,
)
from medical_and_charity_document_extraction_system_spark.schema import PAGES_SCHEMA
from medical_and_charity_document_extraction_system_spark.sources.validate import (
    validate_pages_schema,
)


def _positive_int(s: str) -> int:
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark extraction job")
    p.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    p.add_argument("--output", required=True)
    p.add_argument("--metrics", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=_positive_int, default=256, help="checkpoint buckets")
    p.add_argument(
        "--partitions", type=_positive_int, default=None, help="input repartition width"
    )
    p.add_argument("--engine", default="stub")
    p.add_argument(
        "--snapshot-table",
        default=None,
        help="optional snapshot-versioned table path (plans/snapstore): "
        "each run's newly completed buckets commit as ONE append "
        "snapshot — atomic, time-travelable run outputs",
    )
    return p


def choose_layout(pages: DataFrame, partitions: int | None) -> DataFrame:
    """The extraction layout: ``repartition_by_url`` to ``partitions``
    tasks when set — the checkpoint's own hash, balanced whatever the
    host skew — else the input's own layout."""
    if not partitions:
        return pages
    return repartition_by_url(pages, partitions)


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    args = build_parser().parse_args(argv)
    cfg = ExtractionConfig(ocr_engine=args.engine)
    owns_spark = spark is None
    if owns_spark:
        builder = SparkSession.builder.appName(f"extraction-{args.run_id}")
        for k, v in spark_conf_overrides(cfg).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()

    try:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(args.input)
        validate_pages_schema(pages)  # real check, unlike the
        # reference's empty validator stubs (core/validators/*.py)
        pages = choose_layout(pages, args.partitions)

        done = run_checkpointed(
            spark, pages, args.output, args.manifest, args.run_id,
            n_buckets=args.buckets, cfg=cfg,
        )
        snapshot_id, heavy = None, []
        if done:  # a no-op re-run already has its metrics and snapshot
            extracted = read_output(spark, args.output)
            write_metrics(partition_metrics(extracted, args.run_id), args.metrics)
            hosts = host_quality_metrics(extracted, args.run_id).cache()
            try:
                write_metrics(hosts, args.metrics + "_hosts")
                heavy = heavy_hosts(hosts)
            finally:
                hosts.unpersist()
            if args.snapshot_table:
                from pyspark.sql import functions as F

                from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
                    SnapshotTable,
                )

                snapshot_id = SnapshotTable(spark, args.snapshot_table).commit(
                    extracted.where(F.col("part_id").isin(done)), "append"
                )
        return {
            "completed_parts": done,
            "heavy_hosts": heavy,
            "snapshot_id": snapshot_id,
        }
    finally:
        if owns_spark:
            spark.stop()


if __name__ == "__main__":
    main()
