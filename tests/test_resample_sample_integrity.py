"""Round-5 batch: PPSWOR weighted sampling
(operators/sampling.weighted_sample)."""

from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.operators.sampling import (
    weighted_sample,
)


def test_weighted_sample_is_weight_proportional_and_stable(spark):
    docs = spark.createDataFrame(
        [(i, (i % 4) * 400 + 100) for i in range(200)],
        "doc_id long, n_chars long",
    )
    a = weighted_sample(docs, F.expr("n_chars div 200"), k=20).collect()
    b = weighted_sample(docs, F.expr("n_chars div 200"), k=20).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # rerun-identical
    assert len(a) == 20
    # heavier docs (weight 6) must outnumber weight-1 docs in the sample
    weights = [r.weight for r in a]
    assert weights.count(6) > weights.count(1)
    # clamping: every weight within [1, 16]
    assert all(1 <= w <= 16 for w in weights)


def test_weighted_sample_zero_weight_clamps_to_one(spark):
    docs = spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, n_chars long")
    rows = weighted_sample(docs, F.expr("n_chars div 200"), k=5).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]
    assert all(r.weight == 1 for r in rows)
