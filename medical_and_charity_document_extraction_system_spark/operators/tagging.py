"""Keyword-taxonomy topic tagging (the FlashText-style curation op).

Large-scale corpus pipelines tag every document with coarse domain
labels from keyword dictionaries (curated taxonomies, UT1-style
category lists) so downstream mixing/filtering can select by topic.
The reference system has no analog — this is part of the
training-data layer this engine adds on top of extraction parity.

Shape: ONE rule table (category -> keyword tuple) drives all three
engines — the Spark projection, the DuckDB twin
(oracles.topic_tags_sql builds its SQL from the same constant), and
tests. Deterministic by construction: counts are exact integers and
the arg-max category is a CASE chain over categories in declaration
order (ties resolve to the earliest category; zero hits -> 'none'),
expressible identically in Spark and ANSI SQL with no struct
comparisons.

Scale shape: a zero-shuffle staged projection — tokens materialized
once, then each keyword count once (the interpreted-HOF staging
discipline from operators/lm.py), then cheap integer sums. No joins,
no explode, no aggregation: per-row cost is O(taxonomy keywords),
embarrassingly parallel at any corpus size. For taxonomies with
thousands of keywords one vectorized Arrow counting pass per document
is the scale path; at dictionary sizes like this one the all-JVM
projection wins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens

# Category -> disjoint keyword tuple, categories in alphabetical
# order (= the tie-break order of the arg-max CASE chain).
TAXONOMY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("exec", ("agg", "filter", "group", "sort")),
    ("io", ("column", "row", "scan", "table")),
    ("join", ("hash", "join", "key", "merge")),
    ("stream", ("batch", "order", "stream", "window")),
)


def _eq_factory(value: str):
    # factory, not a default-arg lambda: a 2-arg lambda would make
    # F.filter pass the element INDEX as the second argument
    return lambda x: x == F.lit(value)


def topic_tags(
    df: DataFrame,
    taxonomy: tuple[tuple[str, tuple[str, ...]], ...] = TAXONOMY,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword-taxonomy tags: one ``n_<category>`` hit
    count per category, the total ``n_tagged``, and ``top_topic`` —
    the arg-max category (ties -> earliest declared category, zero
    hits -> 'none')."""
    kws = [(ci, kw) for ci, (_, ks) in enumerate(taxonomy) for kw in ks]
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    # each keyword's interpreted-HOF count materialized exactly once
    base = base.select(
        F.col(id_col),
        *[
            F.size(F.filter("_toks", _eq_factory(kw))).cast("long").alias(f"_k{j}")
            for j, (_, kw) in enumerate(kws)
        ],
    )
    cat_cols: list[Column] = []
    for ci, (cat, _) in enumerate(taxonomy):
        total: Column = F.lit(0).cast("long")
        for j, (kci, _) in enumerate(kws):
            if kci == ci:
                total = total + F.col(f"_k{j}")
        cat_cols.append(total.alias(f"n_{cat}"))
    base = base.select(F.col(id_col), *cat_cols)
    tagged: Column = F.lit(0).cast("long")
    for cat, _ in taxonomy:
        tagged = tagged + F.col(f"n_{cat}")
    # arg-max CASE chain in declaration order: category i wins when
    # its count >= every LATER category's (earlier wins ties)
    names = [cat for cat, _ in taxonomy]
    top: Column = F.lit(names[-1])
    for i in range(len(names) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(names)):
            c = F.col(f"n_{names[i]}") >= F.col(f"n_{names[j]}")
            cond = c if cond is None else cond & c
        top = F.when(cond, F.lit(names[i])).otherwise(top)
    top = F.when(tagged == 0, F.lit("none")).otherwise(top)
    return base.select(
        F.col(id_col),
        *[F.col(f"n_{cat}") for cat, _ in taxonomy],
        tagged.alias("n_tagged"),
        top.alias("top_topic"),
    )


def topic_tags_sql_exprs(
    taxonomy: tuple[tuple[str, tuple[str, ...]], ...] = TAXONOMY,
    toks_expr: str = "toks",
) -> tuple[list[str], str, str]:
    """DuckDB twins built from the SAME rule table: per-category count
    expressions over the pre-projected token array (named
    ``n_<category>``), the n_tagged sum, and the identical arg-max
    CASE chain (assumes the count columns are already projected)."""

    def kw_cnt(kw: str) -> str:
        esc = kw.replace("'", "''")
        return f"len(list_filter({toks_expr}, x -> x = '{esc}'))"

    cat_exprs = [
        "(" + " + ".join(kw_cnt(kw) for kw in ks) + f") AS n_{cat}"
        for cat, ks in taxonomy
    ]
    names = [cat for cat, _ in taxonomy]
    tagged = " + ".join(f"n_{c}" for c in names)
    whens = []
    for i in range(len(names) - 1):
        cond = " AND ".join(
            f"n_{names[i]} >= n_{names[j]}" for j in range(i + 1, len(names))
        )
        whens.append(f"WHEN {cond} THEN '{names[i]}'")
    case = (
        f"CASE WHEN ({tagged}) = 0 THEN 'none' "
        + " ".join(whens)
        + f" ELSE '{names[-1]}' END"
    )
    return cat_exprs, tagged, case
