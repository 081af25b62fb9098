"""Crawl-frontier politeness filtering: apply per-host robots.txt
rules to a URL table, RFC 9309 longest-match semantics.

Pipeline shape (the one that survives 100 TB):

1. ``robots_rules`` — parse the (host, robots_txt) table into flat
   rule rows with a distributed Arrow stage. One robots.txt per host
   means this table is corpus-size-INDEPENDENT (bounded by host
   count, ~10^8 for the whole web), and each row is tiny.
2. ``robots_filter`` — equi-join frontier urls to rules on host,
   keep LIKE-matching rules, resolve precedence with one per-url
   window (longest pattern wins, allow beats disallow on ties),
   default-allow urls whose host has no matching rule.

The host equi-join inherits the corpus' host skew (host0 carries 40%
of the synthetic corpus); the rules side is small-per-key (a handful
of rules per host), so the skewed side streams map-side — AQE
broadcasts the whole rules table when it fits, and the salting
machinery in plans/salting.py applies unchanged if a rules table ever
grows past that. No collect() anywhere.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.robots import DEFAULT_AGENT, parse_robots, pattern_to_like
from ..stage import map_rows

RULE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("pattern", T.StringType()),
        T.StructField("allow", T.BooleanType()),
        T.StructField("like_pat", T.StringType()),
        T.StructField("pat_len", T.IntegerType()),
    ]
)


def robots_rules(
    robots: DataFrame,
    agent: str = DEFAULT_AGENT,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Flatten a (host, robots_txt) table into per-rule rows.

    Executor-side Arrow stage — parsing scales with host count, never
    with corpus size. Output: (host, pattern, allow, like_pat,
    pat_len) where ``pat_len`` is the RFC 9309 precedence key
    (pattern length in octets) and ``like_pat`` the SQL-LIKE
    compilation shared bit-for-bit with the DuckDB twin.
    """

    def rules(host: str, txt: str) -> Iterator[dict]:
        for pattern, allow in parse_robots(txt, agent):
            yield {
                "host": host,
                "pattern": pattern,
                "allow": allow,
                "like_pat": pattern_to_like(pattern),
                "pat_len": len(pattern.encode("utf-8")),
            }

    return map_rows(robots.select(host_col, text_col), RULE_SCHEMA, rules)


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Resolve every url against its host's rules, RFC 9309 style.

    Adds three columns: ``allowed`` (boolean; TRUE when no rule
    matches — the RFC default), ``rule`` (the winning pattern, or
    ``'(default)'``), and keeps all input columns. Precedence is one
    window per url: longest pattern first, allow beats disallow on
    equal length, pattern text as the final deterministic tie-break.
    """
    host = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    path_raw = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    path = F.when(path_raw == "", F.lit("/")).otherwise(path_raw)
    u = urls.withColumn("__host", host).withColumn("__path", path)

    matched = (
        u.select(url_col, "__host", "__path")
        .join(rules, u["__host"] == rules["host"], "inner")
        .where(F.expr("__path LIKE like_pat"))
    )
    w = Window.partitionBy(url_col).orderBy(
        F.col("pat_len").desc(), F.col("allow").desc(), F.col("pattern")
    )
    best = (
        matched.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(url_col).alias("__murl"), "pattern", "allow")
    )
    out = u.join(best, u[url_col] == best["__murl"], "left")
    return (
        out.withColumn("allowed", F.coalesce(F.col("allow"), F.lit(True)))
        .withColumn("rule", F.coalesce(F.col("pattern"), F.lit("(default)")))
        .drop("__murl", "pattern", "allow", "__host", "__path")
    )


def frontier_shards(
    frontier: DataFrame,
    host_col: str = "host",
    n_shards: int = 8,
    delay_us: int = 500_000,
) -> DataFrame:
    """Politeness-aware crawl sharding: hosts are assigned to fetcher
    shards by a deterministic md5 bucket (the dsir hashing idiom —
    first 8 md5 hex chars as an integer, engine-portable), and each
    shard reports its load plus a makespan LOWER BOUND: politeness
    forces a host's fetches ``delay_us`` apart, so the busiest host
    in a shard bounds how fast the shard can possibly finish no
    matter how many connections it opens.

    Scale shape: one per-host count (map-side combinable), one
    per-shard rollup over the host table. The hash spreads hosts
    uniformly, so no shard inherits the head of the host Zipf by
    construction — the makespan column is what tells you when one
    whale host dominates anyway and needs its own shard.
    All columns integer; the makespan is a product, never a division.
    """
    loads = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("host")), 1, 8), 16, 10).cast("long")
        % int(n_shards)
    ).alias("shard")
    return (
        loads.select(shard, "host", "n_urls")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.sum("n_urls").cast("long").alias("n_urls"),
            F.max("n_urls").cast("long").alias("max_host_urls"),
            (F.max("n_urls") * F.lit(int(delay_us)))
            .cast("long")
            .alias("makespan_us"),
        )
    )
