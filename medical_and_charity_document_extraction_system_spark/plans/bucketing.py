"""Bucketed table layout — the shuffle-free co-located join at rest.

At 10^12 rows, every repeated join against the corpus (recrawl
batches, signature stores, metrics backfills) pays a full shuffle of
the big side UNLESS the table is written bucketed on the join key:
both sides hash-partitioned into the same bucket count at WRITE time,
so the join plan contains no Exchange on the bucketed sides — the
10^12-row shuffle is paid once, at layout time, instead of per query.

This is Spark's native bucketing (`DataFrameWriter.bucketBy` +
`saveAsTable` — requires a session catalog table, not a bare parquet
path) and the batch analog of what the signature store does for
dedup (operators/dedup.write_signature_store — bucket that store by
id with this module and the verification join co-locates too).

``tests/test_plans.py`` asserts the physical property directly: a
self-join of the bucketed table plans ZERO Exchange operators, while
the identical join over plain parquet plans two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (and optionally sorted)
    catalog table. Sorting within buckets additionally enables
    sort-merge joins with no per-query sort."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_join_is_shuffle_free(
    spark: SparkSession, table: str, key: str
) -> bool:
    """True when a self-join of ``table`` on ``key`` plans no
    Exchange — the property the layout buys (used by tests and as a
    deployment smoke probe)."""
    t = spark.table(table)
    plan = (
        t.alias("a")
        .join(t.alias("b"), key)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    return "Exchange" not in plan
