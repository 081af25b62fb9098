"""Plant-time correctness oracle.

Each url's record is reduced to one hash over the fields the check
covers: url, text, the spans' field, value, start and end,
processing_method and page_count. (Hashing the spans as an array of
structs instead slows the timed job by ~15%; arrays of their primitive
fields cost nothing measurable.) A run's
output is summarized in flight by aggregate expressions attached with
``DataFrame.observe`` to the timed write, so every timed run is checked
without a second pass:

- ``n``        row count
- ``url_sum``  sum of per-url hashes (missing / duplicate urls)
- ``rec_sum``  sum of per-record hashes (any field difference)
- ``m_<method>`` row count per ``processing_method`` (route counts)

The same expressions over the plant-time expected records give the
expected summary. When a summary differs, the per-url comparison
(``compare``) counts the urls that fail.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.schema import (
    METHOD_DIRECT,
    METHOD_ERROR,
    METHOD_HTML,
    METHOD_OCR,
)

METHODS = (METHOD_DIRECT, METHOD_HTML, METHOD_OCR, METHOD_ERROR)
CHECKED_COLS = (
    "url", "text", "spans.field", "spans.value", "spans.start", "spans.end",
    "processing_method", "page_count",
)
_MOD = 2**31 - 1  # keeps sums of hashes far from long overflow


def record_hash() -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in CHECKED_COLS]), F.lit(_MOD))


def summary_columns() -> list[Column]:
    cols = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("url"), F.lit(_MOD))).alias("url_sum"),
        F.sum(record_hash()).alias("rec_sum"),
    ]
    cols += [
        F.sum(F.when(F.col("processing_method") == m, 1).otherwise(0)).alias(f"m_{m}")
        for m in METHODS
    ]
    return cols


def normalize(summary: dict) -> dict:
    """Observation / Row values -> plain ints (null sums of an empty
    output read as 0)."""
    return {k: int(v or 0) for k, v in summary.items()}


def expected_summary(spark, expected_path: str) -> dict:
    row = spark.read.parquet(expected_path).agg(*summary_columns()).first()
    return normalize(row.asDict())


def url_hashes(df: DataFrame) -> list[tuple[str, int]]:
    return [(r[0], int(r[1])) for r in df.select("url", record_hash()).collect()]


@dataclass
class Failures:
    missing: set[str] = field(default_factory=set)
    duplicate: set[str] = field(default_factory=set)
    mismatch: set[str] = field(default_factory=set)
    unexpected: set[str] = field(default_factory=set)

    @property
    def urls(self) -> set[str]:
        """Input urls that fail: no record, several records, or a
        record that differs from the planted one."""
        return self.missing | self.duplicate | self.mismatch

    def __len__(self) -> int:
        return len(self.urls) + len(self.unexpected)


def compare(expected: dict[str, int], observed: Iterable[tuple[str, int]]) -> Failures:
    """Per-url check of observed (url, record hash) pairs against the
    expected hash of every input url."""
    seen = Counter()
    out = Failures()
    for url, h in observed:
        seen[url] += 1
        if url not in expected:
            out.unexpected.add(url)
        elif expected[url] != h:
            out.mismatch.add(url)
    out.missing = {u for u in expected if seen[u] == 0}
    out.duplicate = {u for u, c in seen.items() if c > 1 and u in expected}
    return out


def route_mismatch(observed: dict, expected: dict) -> dict[str, int]:
    """processing_method counts that differ: method -> observed - expected."""
    return {
        m: observed.get(f"m_{m}", 0) - expected[f"m_{m}"]
        for m in METHODS
        if observed.get(f"m_{m}", 0) != expected[f"m_{m}"]
    }
