"""Margin-based bitext mining (Artetxe & Schwenk, ACL 2019).

The parallel-corpus mining step of multilingual LLM pipelines: given
two embedding sets (two languages, two crawls, two modalities), score
cross-set pairs not by raw cosine — which is miscalibrated in hubness
regions — but by the RATIO margin

    margin(x, y) = cos(x, y) / mean(top-k neighbor cosines of x and y)

so a pair only wins if it is much closer than each side's background
neighborhood. High-margin pairs are mined as translation candidates.

Float discipline: cosines are strict left-fold dots over JVM-
pre-normalized vectors (the semdedup/embedding_near_dup convention —
bit-identical to the DuckDB fold fragment); each side's neighbor sum
is a FIXED-ORDER fold over the rank-1..k cosines (an explicit
(((c1+c2)+c3)+c4 tree, identical in the twin — never an unordered
SUM); the margin is one multiply by the exact integer 2k and one
division. Both label groups must hold at least k rows (asserted), so
every rank arm exists and no NULL/-0.0 coalescing is needed.

Scale shape: the cross-set pair generation here is the exact
brute-force form (bounded label groups); at corpus scale swap it for
the LSH ANN candidate path (ann_topk_lsh) and keep the margin
arithmetic — the scoring is candidate-source-agnostic. The
brute-force form refuses label groups whose product exceeds
``MAX_PAIRS``. Ranks come from grouped_topk (agg-based thresholds)
with the row_number window running only over the <= k surviving rows
per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.operators.similarity import (
    dot_fold,
)
from medical_and_charity_document_extraction_system_spark.operators.topk import (
    grouped_topk,
)
from medical_and_charity_document_extraction_system_spark.stage import map_rows

# cross-join bound: every pair costs one Python fold-dot, so past this
# the brute-force candidate set is the wrong tool
MAX_PAIRS = 10_000_000


def _normalized(emb: DataFrame, label: int, id_alias: str, v_alias: str) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(dot_fold(v, v))
    return emb.where(F.col("label") == label).select(
        F.col("vec_id").alias(id_alias),
        F.transform(v, lambda x: x / nrm).alias(v_alias),
    )


def _fold_cos_pairs(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, cos_sim) via strict left-fold dot per pair."""
    def cos(ia: int, va: list, ib: int, vb: list) -> list[dict]:
        acc = 0.0
        for x, y in zip(va, vb):
            acc += x * y
        return [{"id_a": ia, "id_b": ib, "cos_sim": acc}]

    return map_rows(
        pairs.select("id_a", "va", "id_b", "vb"),
        "id_a long not null, id_b long not null, cos_sim double not null",
        cos,
    )


def _rank_sum(scores: DataFrame, key: str, other: str, knn: int) -> DataFrame:
    """(key, denom): fixed-order fold of the top-knn cosines per key.
    grouped_topk bounds the window input to <= knn rows per key."""
    top = grouped_topk(scores, key, "cos_sim", other, k=knn)
    w = Window.partitionBy(key).orderBy(F.desc("cos_sim"), F.asc(other))
    ranked = top.withColumn("_rn", F.row_number().over(w))
    agg = ranked.groupBy(key).agg(
        *[
            F.max(F.when(F.col("_rn") == j, F.col("cos_sim"))).alias(f"_c{j}")
            for j in range(1, knn + 1)
        ]
    )
    s = F.col("_c1")
    for j in range(2, knn + 1):
        s = s + F.col(f"_c{j}")
    return agg.select(key, s.alias("denom"))


def bitext_mine(
    emb: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    knn: int = 4,
    top_k: int = 50,
) -> DataFrame:
    """Top ``top_k`` cross-set pairs by ratio margin. Returns
    (id_a, id_b, cos_sim, margin)."""
    na = _normalized(emb, label_a, "id_a", "va").cache()
    nb = _normalized(emb, label_b, "id_b", "vb").cache()
    ca, cb = na.count(), nb.count()
    if ca < knn or cb < knn:
        raise ValueError(f"both sides need >= knn rows (got {ca}, {cb})")
    if ca * cb > MAX_PAIRS:
        raise ValueError(
            f"bitext_mine: {ca} x {cb} = {ca * cb} candidate pairs exceeds "
            f"the cross-join bound ({MAX_PAIRS}); use an ANN candidate "
            "path (ann_topk_lsh) and keep the margin scoring."
        )
    scores = _fold_cos_pairs(na.crossJoin(nb)).cache()
    da = _rank_sum(scores, "id_a", "id_b", knn)
    db = _rank_sum(scores, "id_b", "id_a", knn)
    return (
        scores.join(da, "id_a")
        .join(db.withColumnRenamed("denom", "denom_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "cos_sim",
            (
                F.col("cos_sim") * F.lit(float(2 * knn))
                / (F.col("denom") + F.col("denom_b"))
            ).alias("margin"),
        )
        .orderBy(F.desc("margin"), "id_a", "id_b")
        .limit(top_k)
    )
