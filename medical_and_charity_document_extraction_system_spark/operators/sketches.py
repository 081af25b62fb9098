"""Frequency/cardinality sketches: deterministic, engine-portable
HyperLogLog (distinct counts) and Count-Min (frequency estimates).

Distinct-counting at crawl scale (distinct urls per host, distinct
hosts per TLD, ...) can't afford exact countDistinct's shuffle of
every value; HyperLogLog (Flajolet et al. 2007) is the standard
sketch. This implementation follows the repo's determinism rules:

- the hash is md5-derived (same rationale as simhash, CLAUDE.md): the
  DuckDB oracle recomputes every register from scratch — no xxhash64,
  no RNG;
- register math is INTEGER through the harmonic sum: bucket = low 8
  bits of a 60-bit md5 prefix, w = the remaining 52-bit word
  (``h >> 8``), rho = 53 - bitlength(w) via ``length(bin(w))`` —
  both Spark and DuckDB print binary without leading zeros, so
  bitlength is exact in both;
- the harmonic sum 'sum of 2^-M_j' is kept EXACT by scaling: each
  register contributes the bigint ``1 << (53 - M_j)`` (max 2^52;
  256 registers keep the total under 2^61), absent/empty registers
  contribute ``1 << 53``. Integer sums are order-independent, so no
  float fold-order hazard exists anywhere;
- the single float step is the final division: (alpha_m * m^2 * 2^53,
  one Python-computed literal, exact power-of-two scaling) divided by
  the scaled sum cast to double (round-to-nearest of an exact int —
  identical in every engine).

The raw HLL estimate is emitted without the small-range
linear-counting correction (that needs ln, which is NOT correctly
rounded and breaks cross-engine bit-exactness — the same reason bm25
injects idf literals); ``n_empty`` is emitted so a consumer that
tolerates last-ulp drift can apply m*ln(m/V) itself.

Plan shape at 10^12 rows: one (key, bucket) hash-agg with map-side
max-combine — the shuffle carries at most m=256 rows per key — then
a per-key rollup of <= 256 rows. This is the whole point of the
sketch: the exact countDistinct twin shuffles every distinct VALUE;
HLL shuffles 256 small ints per key no matter how many values exist.
Register tables from disjoint corpora union by (key, bucket, max) —
sketch merge is the same agg, which is what makes it streamable and
incrementally maintainable (same pattern as the MinHash signature
store).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P = 8
M = 1 << P  # 256 registers
# alpha_m * m^2 * 2^53 for m=256 (Flajolet et al.), one literal shared
# with the SQL twin; the 2^53 factor is the exact harmonic-sum scaling
ALPHA_NUM = (0.7213 / (1.0 + 1.079 / M)) * M * M * float(1 << 53)


def _h60(value: Column) -> Column:
    """60-bit positive integer from the md5 hex prefix (15 nibbles —
    stays clear of the int64 sign bit)."""
    return F.conv(F.substring(F.md5(value.cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )


def hll_register_cols(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one value: bucket = low 8 bits, rho =
    leading zeros of the remaining 52-bit word + 1 = 53 -
    bitlength(w); w = 0 (probability 2^-52) saturates at 53."""
    h = _h60(value)
    bucket = h % M
    w = F.shiftright(h, P)  # h is positive: arithmetic == logical
    rho = F.when(w > 0, F.lit(53) - F.length(F.bin(w))).otherwise(F.lit(53))
    return bucket, rho.cast("int")


def hll_cardinality(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key HLL distinct estimate of ``value_col``. Returns
    (*key_cols, n_buckets, n_empty, hll_estimate): the raw HLL
    formula alpha*m^2 / sum(2^-M_j), absent registers contributing
    2^0, evaluated with an exact integer harmonic sum."""
    regs = hll_registers(df, key_cols, value_col)
    return hll_estimate_from_registers(regs, key_cols)


def hll_registers(
    df: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """The per-key register table (*key_cols, bucket, mreg). Register
    tables MERGE by the same groupBy-max (max is associative and
    commutative), so sketches of disjoint batches union into the
    sketch of their union — the incremental/streaming form."""
    bucket, rho = hll_register_cols(F.col(value_col))
    return (
        df.select(*key_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*key_cols, "bucket")
        .agg(F.max("rho").alias("mreg"))
    )


def merge_hll_registers(*regs: DataFrame) -> DataFrame:
    """Union register tables from independent batches into one —
    groupBy max over the same (keys, bucket)."""
    u = regs[0]
    for r in regs[1:]:
        u = u.unionByName(r)
    keys = [c for c in u.columns if c not in ("bucket", "mreg")]
    return u.groupBy(*keys, "bucket").agg(F.max("mreg").alias("mreg"))


def hll_estimate_from_registers(
    regs: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Finish a register table into (keys, n_buckets, n_empty,
    hll_estimate) — shared by the one-shot and incremental forms."""
    # scaled 2^-M_j: bigint 1 << (53 - M_j); exact and order-free.
    # (expr form: F.shiftleft's bit count must be a Python int)
    scaled = F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mreg)")
    per_key = regs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(scaled).alias("_s"),
    )
    total = F.col("_s") + (F.lit(M) - F.col("n_buckets")) * F.lit(1 << 53).cast(
        "bigint"
    )
    return per_key.select(
        *key_cols,
        F.col("n_buckets").cast("long").alias("n_buckets"),
        (F.lit(M) - F.col("n_buckets")).cast("long").alias("n_empty"),
        (F.lit(ALPHA_NUM) / total.cast("double")).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): frequency estimates
# in fixed memory. Exact term counting over a 10^12-document corpus
# shuffles every distinct term; the CMS shuffles at most D*W integer
# cells no matter how large the vocabulary grows, and cells from
# disjoint corpora/partitions MERGE by plain addition — the same
# mergeability story as the HLL registers above, which is what makes
# it streamable and map-side combinable. Estimates are biased UP only
# (collisions add, never subtract): estimate >= true count always.
#
# Determinism: the D hash rows are md5-derived ("row:term" prefix
# trick — same rationale as simhash/HLL: the DuckDB twin recomputes
# every cell from scratch), all cell math is 64-bit integer, and the
# probe is min() over D exact integers — no float anywhere.

CMS_D = 4  # hash rows
CMS_W = 1024  # buckets per row


def cms_bucket(term: Column, row: int, width: int = CMS_W) -> Column:
    """Row-``row``'s bucket for ``term``: md5("row:term") first 15
    nibbles (60 bits, clear of the int64 sign) mod width."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), term)), 1, 15), 16, 10
    ).cast("bigint")
    return h % width


def cms_registers(
    term_counts: DataFrame,
    term_col: str = "term",
    count_col: str = "cnt",
    d: int = CMS_D,
    width: int = CMS_W,
) -> DataFrame:
    """Build the (row, bucket, cell) sketch table from a (term, count)
    stream. Addition commutes, so feeding pre-aggregated counts or raw
    occurrence rows (count 1) yields the identical sketch; the groupBy
    is map-side combinable and the shuffle carries at most d*width
    rows regardless of vocabulary size."""
    t, c = F.col(term_col), F.col(count_col)
    fanout = term_counts.select(
        c.alias("_c"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        cms_bucket(t, r, width).alias("bucket"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("_rb"),
    )
    return (
        fanout.select("_rb.row", "_rb.bucket", "_c")
        .groupBy("row", "bucket")
        .agg(F.sum("_c").cast("long").alias("cell"))
    )


def merge_cms_registers(*regs: DataFrame) -> DataFrame:
    """Union sketch tables from independent batches — groupBy SUM over
    (row, bucket); the CMS merge operator."""
    u = regs[0]
    for r in regs[1:]:
        u = u.unionByName(r)
    return u.groupBy("row", "bucket").agg(F.sum("cell").alias("cell"))


def cms_estimate(
    registers: DataFrame,
    probes: DataFrame,
    term_col: str = "term",
    d: int = CMS_D,
    width: int = CMS_W,
) -> DataFrame:
    """Point-query the sketch: per probe term, min over the D row
    cells. Probe terms absent from every build row would miss the
    join; a left join + zero-coalesce keeps never-seen terms exact
    (estimate 0). The registers side is at most d*width rows —
    broadcast it so probing never shuffles the probe side."""
    probe_rb = probes.select(
        F.col(term_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        cms_bucket(F.col(term_col), r, width).alias("bucket"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("_rb"),
    ).select(term_col, "_rb.row", "_rb.bucket")
    return (
        probe_rb.join(F.broadcast(registers), ["row", "bucket"], "left")
        .groupBy(term_col)
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0).cast("long"))).alias(
                "cms_estimate"
            )
        )
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles: the mergeable-quantile member of the
# sketch family (HLL = distinct, CMS = frequency, Bloom = membership,
# histogram = rank/quantile). The exact discrete quantile
# (host_length_quantiles) row-numbers every value inside a corpus-
# sized window partition; the histogram shuffles at most BINS integer
# cells per key, merges by addition (streamable, map-side
# combinable), and answers any quantile with error bounded by one bin
# width. Everything is integer — bin assignment is one integer
# division, the rank threshold ceil(q*n) is computed as
# (n*pct + 99) div 100, exact in both engines with NO float literal
# at all (sidestepping the DuckDB DECIMAL-0.95 trap entirely).

HIST_BINS = 64
HIST_WIDTH = 16  # covers values 0 .. BINS*WIDTH-1; last bin absorbs overflow


def hist_registers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    bins: int = HIST_BINS,
    width: int = HIST_WIDTH,
) -> DataFrame:
    """(keys, bin, cnt) — mergeable by groupBy-SUM, like the CMS
    cells. Negative values clamp to bin 0, overflow to the last bin."""
    bin_expr = F.expr(
        f"least(greatest({value_col}, 0) div {width}, {bins - 1})"
    ).cast("int")
    return (
        df.select(*key_cols, bin_expr.alias("bin"))
        .groupBy(*key_cols, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hist_quantiles(
    regs: DataFrame,
    key_cols: list[str],
    pcts: tuple[int, ...] = (50, 95),
    width: int = HIST_WIDTH,
) -> DataFrame:
    """Finish a register table into per-key quantile estimates:
    for each percentile p, the smallest bin whose cumulative count
    reaches ceil(p% of n), reported as (p{p}_bin, p{p}_upper) where
    upper = (bin+1)*width - 1 bounds the true discrete quantile from
    above (and bin*width from below: one-bin-width error, always).

    The cumulative window partitions on the KEY over the aggregated
    register table — at most BINS rows per partition regardless of
    corpus size, so this is NOT the inverted_index window hazard
    (that window partitioned a corpus-sized posting list)."""
    from pyspark.sql.window import Window

    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*key_cols)
    cum = regs.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    aggs = [F.max("n").cast("long").alias("n_docs")]
    for p in pcts:
        thr = F.expr(f"(n * {p} + 99) div 100")
        qbin = F.min(F.when(F.col("cum") >= thr, F.col("bin")))
        aggs.append(qbin.cast("long").alias(f"p{p}_bin"))
        aggs.append(
            ((qbin + 1) * width - 1).cast("long").alias(f"p{p}_upper")
        )
    return cum.groupBy(*key_cols).agg(*aggs)
