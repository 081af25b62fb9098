"""Z-order (Morton curve) clustering for multi-dimension data skipping.

Partition pruning skips on ONE
key. A crawl table is queried by host AND by time; sorting by either
leaves the other scattered across every file. Z-ordering interleaves
the bits of both dimensions and sorts by the interleaved value, so
consecutive rows are close in BOTH dimensions — every data file then
covers a narrow min/max range of each column, and parquet row-group /
file statistics prune scans filtered on either one (the same layout
trick Delta/Iceberg expose as OPTIMIZE ZORDER BY).

The curve is pure integer bit-twiddling (the classic magic-number
spread), identical in Spark and DuckDB, so the z-value itself sits
under the bit-exact oracle gate; the LAYOUT property (per-file span
of each dimension shrinks vs. an unsorted write) is pinned by pytest
reading parquet footer statistics.

At 10^12 rows: ``write_zordered`` is one range-partitioned sort on
the z-value — the normal price of clustering a table at rest, paid
once per compaction cycle, amortized over every pruned scan after.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(c: Column) -> Column:
    """16-bit int -> its bits at the even positions of a 32-bit int."""
    x = c.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue(x: Column, y: Column) -> Column:
    """Morton interleave of two unsigned 16-bit column values:
    z's even bits are x's, odd bits are y's. Bigint, order-preserving
    along the curve."""
    return (
        _spread16(x.cast("bigint"))
        .bitwiseOR(F.shiftleft(_spread16(y.cast("bigint")), 1))
        .cast("bigint")
    )


def zorder_sql_expr(x: str, y: str) -> str:
    """The identical curve as a DuckDB/ANSI expression (shares the
    magic masks with _spread16 by construction)."""

    def spread(col: str) -> str:
        e = f"({col} & 65535)"
        for shift, mask in _SPREAD:
            e = f"(({e} | ({e} << {shift})) & {mask})"
        return e

    return f"({spread(x)} | ({spread(y)} << 1))"


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
) -> None:
    """Cluster ``df`` along the (x, y) Morton curve into ``n_files``
    z-range partitions, each written as its own ``_zpart=<k>``
    directory: file min/max stats on BOTH x and y become tight, so
    filters on either prune.

    Partition boundaries are DETERMINISTIC — an exact coarse
    z-histogram (<= 4096 buckets, a bounded hash-agg + collect) is
    split into equal-mass cumulative chunks on the driver — rather
    than ``repartitionByRange``, whose RangePartitioner SAMPLES
    boundaries with a session-varying seed and would violate the
    repo's rerun-identity invariant (two runs, two different file
    layouts). Bonus: histogram boundaries land on coarse z-block
    edges, so per-file spans stay near the aligned-tile ideal.
    ``partitionBy`` keys the FILES by the z-part value, so the layout
    does not depend on which task held which part."""
    zdf = df.withColumn("_z", zvalue(F.col(x_col), F.col(y_col)))
    zmax = zdf.agg(F.max("_z")).first()[0] or 0
    shift = max(0, int(zmax).bit_length() - 12)
    hist = sorted(
        zdf.groupBy(F.shiftright("_z", shift).alias("zb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect(),
        key=lambda r: r["zb"],
    )
    total = sum(r["c"] for r in hist)
    boundaries: list[int] = []  # inclusive zb upper bound of part k
    acc, want = 0, total / n_files
    for r in hist:
        acc += r["c"]
        if acc >= want and len(boundaries) < n_files - 1:
            boundaries.append(r["zb"])
            want = acc + (total - acc) / (n_files - len(boundaries))
    part = F.lit(0)
    for b in boundaries:
        part = part + (F.shiftright("_z", shift) > b).cast("int")
    (
        zdf.withColumn("_zpart", part)
        .repartition(n_files, "_zpart")
        .sortWithinPartitions("_zpart", "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("_zpart")
        .parquet(path)
    )
