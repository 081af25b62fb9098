"""Inverted-index construction: term -> postings with positions.

The retrieval-side artifact of the corpus (BM25 scoring —
operators/sessions.bm25_scores, used by operators/retrieval.py —
consumes these statistics query-side; this operator materializes the full index a search service would serve):
one row per (term, document) with term frequency and the ordered
position list, plus the term's document frequency.

Plan shape: one posexplode over the shared parity tokenizer, one
(term, doc) hash-agg — map-side combine carries (term, doc, count,
positions) partials, so the shuffle is proportional to the DISTINCT
(term, doc) pairs, not the token count — then df via a SECOND
hash-agg (``groupBy("term").count()``, also map-side combinable)
joined back on the term key. NOT a ``Window.partitionBy("term")``
count: at web scale a stopword term's postings ("the" ≈ every doc)
would all land in one window partition — a single-task hotspot AQE
cannot split (its skew handling applies to joins, not windows). The
agg+join form shuffles the same key but the skewed join is
AQE-splittable, and after ``min_df`` filtering the df side is often
broadcast-sized. At 10^12 docs this is the classic index build: both
shuffles key on the term (uniformly hashed), and the output is
naturally range-partitionable by term for serving. Positions are
emitted as a comma-joined string so the row stays flat (and the
DuckDB twin is an exact string_agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Returns (term, df, id, tf, positions) — one row per posting,
    positions 0-based in token space, ordered. ``min_df`` drops
    hapax/rare terms (index-size control at corpus scale)."""
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("tp", "term")
    )
    postings = tok.groupBy("term", id_col).agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("tp")), lambda p: p.cast("string")
            ),
            ",",
        ).alias("positions"),
    )
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if min_df > 1:
        term_df = term_df.where(F.col("df") >= min_df)
    out = postings.join(term_df, "term")
    return out.select("term", "df", id_col, "tf", "positions")


def phrase_match(
    df: DataFrame,
    phrase: tuple[str, ...] = ("batch", "batch"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional phrase search: documents containing the exact token
    sequence ``phrase``, with the occurrence count (one per starting
    position — overlapping occurrences of a self-repeating phrase all
    count, in both engines). This is the query-side consumer of the
    positional postings ``inverted_index`` materializes: term i of
    the phrase must appear at position p+i for each i.

    Plan shape: ONE posexplode over the shared tokenizer, one
    term-equality filter per phrase slot (each slot keeps only its own
    term's postings — at corpus scale these are the pruned posting
    lists a search engine reads), then len(phrase)-1 equi-joins on
    (doc, aligned start position) — well-distributed keys, no window,
    no per-doc state. Join sides shrink monotonically, and the rarest
    term bounds the result size."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least two terms")
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("tp", "term"),
    )
    parts = [
        tok.where(F.col("term") == w).select(
            "doc_id", (F.col("tp") - F.lit(i)).alias("p0")
        )
        for i, w in enumerate(phrase)
    ]
    cur = parts[0]
    for nxt in parts[1:]:
        cur = cur.join(nxt, ["doc_id", "p0"])
    return cur.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )
