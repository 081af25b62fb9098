"""Cohort retention and funnel conversion over the events stream.

The two remaining event-analytics staples next to the windowed
rollups (tumbling/hopping), sessionization, and the temporal joins
(as-of, range). Both are built integer-only: event times become epoch
microseconds (the session timezone is pinned UTC, so Spark
``unix_micros`` equals DuckDB ``epoch_us`` — the sessionize
precedent), bucketed by integer floor division; every output column
is a bigint count — nothing for float fold order to disturb.

Scale shape:
- cohort_retention: one per-(user, bucket) distinct (map-side
  combinable), one per-user min agg, one equi-join back on the user
  key, one final (cohort, age) hash-agg. All shuffles key on user_id
  or the small (cohort, age) pair — AQE-splittable, no window.
- funnel_stages: one filter + user-keyed equi-join + per-user min agg
  PER STEP — the textbook iterative funnel, each stage's state is one
  row per surviving user (monotonically shrinking). A 30-step funnel
  over 10^10 users is 30 joins on the same key — bucketing the events
  table by user_id (plans/bucketing.py) makes all of them co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DAY_US = 86_400_000_000


def _us(ts_col: str):
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_us: int = _DAY_US,
) -> DataFrame:
    """(cohort, age, n_active): users whose FIRST-ever activity bucket
    is ``cohort``, active again ``age`` buckets later — the classic
    retention triangle (age 0 row = cohort size). Buckets are epoch
    floor-divisions (day by default): integer, tz-free, identical in
    any engine."""
    act = (
        events.select(
            F.col(user_col).alias("user"),
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) DIV {bucket_us}")
            .alias("bucket"),
        )
        .distinct()
    )
    first = act.groupBy("user").agg(F.min("bucket").alias("cohort"))
    # act is distinct per (user, bucket) and (cohort, age) pins the
    # bucket, so a plain count IS the distinct-user count — no
    # count_distinct expansion needed
    return (
        act.join(first, "user")
        .groupBy("cohort", (F.col("bucket") - F.col("cohort")).alias("age"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


def funnel_stages(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel conversion: stage i counts users with a step-i
    event STRICTLY AFTER their earliest qualifying step-(i-1) event
    (the standard "first touch" funnel — each user's stage time is
    the earliest event that continues their chain). Returns
    (stage, step, n_users), one row per step."""
    if not steps:
        raise ValueError("steps must be non-empty")
    base = events.select(
        F.col(user_col).alias("user"),
        F.col(type_col).alias("etype"),
        _us(ts_col).alias("us"),
    )
    reached = (
        base.where(F.col("etype") == steps[0])
        .groupBy("user")
        .agg(F.min("us").alias("t"))
    )
    counts = [reached.agg(F.count(F.lit(1)).cast("long").alias("n_users"))]
    for step in steps[1:]:
        reached = (
            base.where(F.col("etype") == step)
            .join(reached.select("user", F.col("t").alias("_prev")), "user")
            .where(F.col("us") > F.col("_prev"))
            .groupBy("user")
            .agg(F.min("us").alias("t"))
        )
        counts.append(
            reached.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )
    out = None
    for i, (step, c) in enumerate(zip(steps, counts), 1):
        row = c.select(
            F.lit(i).cast("long").alias("stage"),
            F.lit(step).alias("step"),
            "n_users",
        )
        out = row if out is None else out.unionByName(row)
    return out


