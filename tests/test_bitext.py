"""Margin-based bitext mining (operators/bitext.py)."""

import math

import pytest

from medical_and_charity_document_extraction_system_spark.operators.bitext import (
    bitext_mine,
)


def _ref(a_rows, b_rows, knn):
    """Independent python mirror with the same fold orders."""
    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        n = math.sqrt(acc)
        return [x / n for x in v]

    A = {i: norm(v) for i, v in a_rows}
    B = {i: norm(v) for i, v in b_rows}
    cos = {}
    for ia, va in A.items():
        for ib, vb in B.items():
            acc = 0.0
            for x, y in zip(va, vb):
                acc += x * y
            cos[(ia, ib)] = acc

    def denom(key_is_a, kid):
        # gather (cos, other_id), sort by (-cos, other_id)
        pairs = []
        for oid in (B if key_is_a else A):
            c = cos[(kid, oid)] if key_is_a else cos[(oid, kid)]
            pairs.append((c, oid))
        pairs.sort(key=lambda t: (-t[0], t[1]))
        top = pairs[:knn]
        s = top[0][0]
        for c, _ in top[1:]:
            s = s + c
        return s

    out = {}
    for (ia, ib), c in cos.items():
        out[(ia, ib)] = (c, c * float(2 * knn) / (denom(True, ia) + denom(False, ib)))
    return out


def _emb(spark, a_rows, b_rows):
    rows = [(i, v, 0) for i, v in a_rows] + [(i, v, 1) for i, v in b_rows]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_matches_reference(spark):
    a = [(i, [float((i * 3 + j) % 5 + 1) for j in range(6)]) for i in range(0, 6)]
    b = [(i, [float((i * 7 + 2 * j) % 6 + 1) for j in range(6)]) for i in range(10, 17)]
    got = {
        (r.id_a, r.id_b): (r.cos_sim, r.margin)
        for r in bitext_mine(_emb(spark, a, b), knn=4, top_k=1000).collect()
    }
    # float32 round trip: reference must see the same float32 values
    import numpy as np

    a32 = [(i, [float(np.float32(x)) for x in v]) for i, v in a]
    b32 = [(i, [float(np.float32(x)) for x in v]) for i, v in b]
    want = _ref(a32, b32, knn=4)
    assert got == want


def test_planted_parallel_pair_wins(spark):
    # one cross pair is near-identical; everything else is scattered
    a = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.5, 0.5, 0.5, 0.2]),
         (2, [0.1, 0.9, 0.2, 0.1]), (3, [0.3, 0.1, 0.8, 0.4])]
    b = [(10, [0.99, 0.01, 0.0, 0.0]), (11, [0.4, 0.6, 0.4, 0.3]),
         (12, [0.2, 0.8, 0.3, 0.2]), (13, [0.25, 0.15, 0.75, 0.5])]
    rows = bitext_mine(_emb(spark, a, b), knn=4, top_k=1).collect()
    assert (rows[0].id_a, rows[0].id_b) == (0, 10)


def test_rejects_small_sides(spark):
    a = [(0, [1.0, 0.0])]
    b = [(10, [1.0, 0.0]), (11, [0.0, 1.0])]
    with pytest.raises(ValueError):
        bitext_mine(_emb(spark, a, b), knn=4)


def test_refuses_cross_join_above_max_pairs(spark, monkeypatch):
    from medical_and_charity_document_extraction_system_spark.operators import bitext

    from .conftest import SF_SMALL

    # sf0.001 holds ~50 vectors per label: 2500 pairs > a bound of 100
    monkeypatch.setattr(bitext, "MAX_PAIRS", 100)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    with pytest.raises(ValueError, match=r"cross-join bound \(100\)"):
        bitext_mine(emb)
