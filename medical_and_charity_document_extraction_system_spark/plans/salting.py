"""Partitioning & skew control (north_rule obligation #1).

The input is url-keyed; hosts are Zipf-skewed (a handful of hosts can
dominate — sources/pages.py plants host0 at ~40% to exercise this).
Plain DataFrame code, no custom Catalyst rules (SURVEY.md section 4):

- ``repartition_by_url``      — uniform spread by Spark's hash
  partitioner on ``url``: the one extraction layout (no key locality
  needed, and a url hash cannot be host-skewed), and the same
  ``pmod(hash(url), n)`` the checkpoint buckets on, so a width that
  divides the bucket count keeps each bucket in one task.
- ``skew_safe_bucket_self_join`` — the LSH candidate self-join with
  degenerate buckets split across salted reducers: explicit salting
  where a hot key is shuffled into a join.

Per-host aggregations need no salting: Spark's ``HashAggregate``
already runs a partial aggregate in every map task before the host
shuffle, so a 40%-of-rows host reaches its reducer as one partial row
per task.

AQE (enabled in config.spark_conf_overrides) additionally rebalances
post-shuffle partitions at runtime; explicit salting covers the
single-hot-key joins AQE cannot split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)


def repartition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    return df.repartition(num_partitions, "url")


def skew_safe_bucket_self_join(
    buckets: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    out_a: str,
    out_b: str,
    hot_bucket_size: int = 100_000,
    salt_buckets: int = 16,
    sample_fraction: float | None = None,
    total_rows: int | None = None,
) -> DataFrame:
    """All intra-bucket id pairs (``out_a`` < ``out_b``) from an
    exploded (bucket-key..., id) table — the LSH candidate join —
    with DEGENERATE buckets split across ``salt_buckets`` reduce keys.

    The hazard (r4): a pathological corpus (mass-duplicated pages,
    near-identical embeddings) can put a large fraction of all docs
    into ONE (band, key) bucket. The plain self-join then hangs a
    single reducer with the whole bucket on both sides. The guard:

    1. bucket sizes are counted (one partial-agg shuffle on the same
       key — tiny rows); buckets above ``hot_bucket_size`` form the
       hot set, which is tiny BY CONSTRUCTION (at most
       corpus_rows / hot_bucket_size keys) and is broadcast.
    2. cold buckets take the normal equi-join.
    3. hot buckets are salted: the left side gets
       ``pmod(xxhash64(id), k)``, the right side is replicated once
       per salt value, and the join key grows by the salt — each hot
       bucket's work spreads over ``k`` reducers, each holding 1/k of
       the left rows. Every pair still appears exactly once (a pair
       joins only at the left row's own salt), so results are
       IDENTICAL to the plain join — only the shuffle shape changes.

    Quadratic OUTPUT within a hot bucket is inherent to LSH candidate
    semantics and is not changed here — callers that want to drop
    degenerate buckets entirely should filter on the same size agg.

    The hot set is detected EAGERLY (one partial-agg job, optionally
    over a seeded ``sample_fraction`` — at 10^12 docs you never count
    the exploded bucket table exactly) and collected: it is bounded by
    rows/hot_bucket_size keys BY CONSTRUCTION. When it is empty — the
    overwhelmingly common case — the function returns the PLAIN
    self-join, paying zero extra joins in the pair plan (an always-on
    in-plan split measured +70% on the minhash bench; the eager probe
    measured ~+10%).
    """
    spark = buckets.sparkSession
    if total_rows is not None and total_rows <= hot_bucket_size:
        # no bucket can exceed the corpus row count: skip the probe
        # job entirely (callers pass a cheap upper bound — a parquet
        # footer count — so small/medium inputs pay NOTHING for the
        # guard)
        a, b = buckets.alias("a"), buckets.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in bucket_cols:
            cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
        )

    def pair_join(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
        a, b = left.alias("a"), right.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        for c in keys:
            cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
        )

    probe = buckets
    threshold = float(hot_bucket_size)
    if sample_fraction:
        probe = buckets.sample(fraction=sample_fraction, seed=42)
        threshold *= sample_fraction
    hot_rows = (
        probe.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > threshold)
        .select(*bucket_cols)
        .collect()
    )
    if not hot_rows:
        return pair_join(buckets, buckets, bucket_cols)
    hot_keys = spark.createDataFrame(hot_rows, probe.select(*bucket_cols).schema)
    cold = buckets.join(F.broadcast(hot_keys), bucket_cols, "left_anti")
    hot = buckets.join(F.broadcast(hot_keys), bucket_cols, "left_semi")
    cold_pairs = pair_join(cold, cold, bucket_cols)
    a_salted = hot.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast("int")
    )
    b_salted = hot.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    hot_pairs = pair_join(a_salted, b_salted, bucket_cols + ["_salt"])
    return cold_pairs.unionByName(hot_pairs)

