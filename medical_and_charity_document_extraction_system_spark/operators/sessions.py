"""BM25 relevance scoring over the documents table.

``bm25_scores``: Okapi BM25 for a fixed query-term list. The corpus
statistics (N, avg doc length, per-term document frequency) are
integers reduced in one tiny aggregate; idf values are computed in
PYTHON from those integers and injected as double literals into the
scoring expression — deliberately, because Java's Math.log and
DuckDB's libm ln() are each allowed 1-ulp error and may disagree,
which would break the bit-exact oracle gate. With idf as literals,
both engines evaluate the identical scalar expression tree in the
identical order. The stats collect is O(len(query_terms)) values —
bounded, like the checkpoint bucket-id collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import tokens


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms`` (fixed order = the
    summation order). Returns (id, score) for docs matching >= 1 term."""
    toks = tokens(F.col(text_col))
    dl = F.size(toks)
    base = df.select(F.col(id_col), toks.alias("_toks"), dl.alias("_dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").alias("sumdl"),
        *[
            F.sum(
                (F.size(F.filter("_toks", lambda x: x == F.lit(t))) > 0).cast("long")
            ).alias(f"df{i}")
            for i, t in enumerate(query_terms)
        ],
    ).first()
    n = stats.n
    avgdl = stats.sumdl / n  # python float; same literal lands in SQL
    idfs = [
        math.log((n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5) + 1.0)
        for i in range(len(query_terms))
    ]
    score = None
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("double")
        contrib = F.lit(idfs[i]) * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * (F.col("_dl").cast("double") / F.lit(avgdl))))
        )
        score = contrib if score is None else score + contrib
    return (
        base.select(F.col(id_col), score.alias("bm25"))
        .where(F.col("bm25") > 0.0)
    )


def corpus_stats_for_oracle(
    sf_dir: str, query_terms: list[str]
) -> tuple[int, float, list[float]]:
    """The oracle builder's twin of bm25_scores's stats collect: the
    same integers reduced by DuckDB from the same parquet, the same
    Python-math idf — so Spark and SQL share literal-for-literal
    constants."""
    import duckdb

    con = duckdb.connect()
    toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    sels = ["count(*) AS n", f"sum(len({toks})) AS sumdl"] + [
        f"sum(CASE WHEN list_contains({toks}, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(query_terms)
    ]
    row = con.sql(
        f"SELECT {', '.join(sels)} FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    con.close()
    n, sumdl = int(row[0]), int(row[1])
    dfs = [int(x) for x in row[2:]]
    avgdl = sumdl / n
    idfs = [math.log((n - d + 0.5) / (d + 0.5) + 1.0) for d in dfs]
    return n, avgdl, idfs
