"""Corpus health report — the per-source ops summary a 100 TB
pipeline publishes after every build (docs, tokens, bytes, language
spread, exact-duplicate rate, mean length).

The reference system reports per-request metrics only
(reference backend/app/api/routes/ocr_routes.py handles one document
per call); a corpus-scale engine needs the table-level rollup.

Float discipline: there are NO floats. Every rate is an exact
integer — duplicate rate in basis points and mean tokens x100 are
single integer divisions ((a * 10000) DIV b), reproducible in any
engine, the temperature_mix/hist_quantiles rule.

Scale shape: ONE map-side-combinable aggregation keyed by source
(count / sum / count-distinct over md5 and lang). The two
count-distincts expand to Spark's standard two-phase partial
aggregate (Expand + partial agg before the shuffle), so no key ever
concentrates more than its source's row share; there is no window,
no join, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus summary: doc/token/char totals, distinct
    languages, exact-duplicate count (by text md5) and its
    basis-point rate, and mean tokens x100 — all exact integers."""
    base = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("_lang"),
        F.size(tokens(F.col(text_col))).cast("long").alias("_ntok"),
        F.length(F.col(text_col)).cast("long").alias("_nchr"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("_fp"),
    )
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("n_tokens"),
        F.sum("_nchr").cast("long").alias("n_chars"),
        F.countDistinct("_lang").cast("long").alias("n_langs"),
        F.countDistinct("_fp").cast("long").alias("n_unique_texts"),
    )
    dup = F.col("n_docs") - F.col("n_unique_texts")
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_unique_texts",
        dup.alias("dup_docs"),
        F.expr("(n_docs - n_unique_texts) * 10000 DIV n_docs").alias("dup_bp"),
        F.expr("n_tokens * 100 DIV n_docs").alias("mean_tokens_x100"),
    )


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column-level data profile (the ANALYZE/data-quality pass a
    pipeline runs on every new table): one row per column with row /
    null / distinct counts and the lexicographic min/max of the
    RENDERED value (every column is cast to string first, so the
    schema is uniform and the profile is engine-portable — numeric
    columns profile their decimal rendering, which is the documented
    semantics, not an accident).

    Plan shape: ONE scan. The stack() unpivot turns k columns into
    (column, value) rows inside the same projection — no Expand from
    stacking count-distincts, no per-column pass — then a single
    hash-agg keyed by column name (k keys total, trivially balanced:
    count-distinct's two-phase partial agg does the heavy lifting on
    the value side)."""
    cols = df.columns if columns is None else columns
    if not cols:
        raise ValueError("no columns to profile")
    pairs = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    kv = df.select(
        F.expr(f"stack({len(cols)}, {pairs})").alias("column", "val")
    )
    return kv.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("val")).cast("long").alias("n_nulls"),
        F.countDistinct("val").cast("long").alias("n_distinct"),
        F.min("val").alias("min_str"),
        F.max("val").alias("max_str"),
    )


def simple_source_report(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """(source, n_docs, n_chars): the count/sum view of the corpus —
    deliberately restricted to the DISTRIBUTIVE aggregate class
    (counts and sums), which is exactly what incremental view
    maintenance can update from deltas alone. corpus_report's
    count-distinct columns are NOT in this class (they need per-key
    state); keep the two views separate on purpose."""
    return df.groupBy(F.col(group_col).alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(text_col)).cast("long").alias("n_chars"),
    )


def apply_report_deltas(
    base_report: DataFrame,
    changelog: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Incremental view maintenance: update a (source, n_docs,
    n_chars) report with a CDC changelog (change_type in insert /
    delete / update_before / update_after — the
    plans/snapstore.SnapshotTable.changelog shape) WITHOUT re-reading
    the table. insert/update_after rows add (+1 doc, +len chars);
    delete/update_before rows subtract — updates therefore cancel on
    doc count and contribute the exact char diff. Groups whose doc
    count reaches zero drop out, groups born in the delta appear.

    This is the materialized-view maintenance step of a snapshot
    pipeline: changelog cost tracks churn (file-granular CDC), the
    delta agg is map-side combinable on the group key, and the final
    merge is one full-outer join of two report-sized tables — the
    whole refresh never touches unchanged data."""
    sign = F.when(
        F.col("change_type").isin("insert", "update_after"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        changelog.select(
            F.col(group_col).alias("source"),
            sign.alias("sgn"),
            F.length(text_col).cast("long").alias("nc"),
        )
        .groupBy("source")
        .agg(
            F.sum("sgn").cast("long").alias("d_docs"),
            F.sum(F.col("sgn") * F.col("nc")).cast("long").alias("d_chars"),
        )
    )
    b = base_report.select(
        "source",
        F.col("n_docs").alias("b_docs"),
        F.col("n_chars").alias("b_chars"),
    )
    return (
        b.join(deltas, "source", "full")
        .select(
            "source",
            (F.coalesce("b_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0)))
            .cast("long")
            .alias("n_docs"),
            (F.coalesce("b_chars", F.lit(0)) + F.coalesce("d_chars", F.lit(0)))
            .cast("long")
            .alias("n_chars"),
        )
        .where(F.col("n_docs") > 0)
    )


def dimensional_rollup(
    df: DataFrame,
    dims: list[str],
    count_alias: str = "n_docs",
    sum_col: str | None = None,
    sum_alias: str = "sum_val",
    mode: str = "cube",
) -> DataFrame:
    """Grouping-sets summary over ``dims``: CUBE (every dimension
    subset) or ROLLUP (prefix hierarchy) with Spark's native
    ``df.cube()/.rollup()`` — one Expand + one hash aggregation, the
    plan Catalyst generates for grouping sets (each input row fans
    out to its grouping-set combinations BEFORE the shuffle, so
    partial aggregation still applies and no post-shuffle re-agg per
    set is needed). ``grouping_id()`` disambiguates a rolled-up NULL
    from a data NULL; its bitmask (first dim = most significant)
    matches DuckDB's GROUPING(...) exactly, which is what the oracle
    twin uses. Counts and integer sums only — nothing for engines to
    disagree on.

    Scale shape: input x (dims+1 for rollup / 2^dims for cube) rows
    through one map-side-combinable agg; no window, no join. For
    high-cardinality dims prefer rollup (linear expansion) over cube.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias(count_alias)]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).cast("long").alias(sum_alias))
    grouped = df.cube(*dims) if mode == "cube" else df.rollup(*dims)
    return grouped.agg(
        F.grouping_id().cast("long").alias("gid"), *aggs
    ).select(*dims, "gid", count_alias, *([sum_alias] if sum_col else []))

