"""Deterministic dataset split."""

import pytest

from medical_and_charity_document_extraction_system_spark.operators.mixing import (
    assign_split,
    split_report,
)


def _docs(spark, n):
    return spark.createDataFrame(
        [(i, f"w{i} w{i} w") for i in range(n)], "doc_id long, text string"
    )


def test_split_is_superset_stable(spark):
    # THE property vs a random split: growing the corpus never moves
    # an existing document's split
    small = {
        r.doc_id: r.split for r in assign_split(_docs(spark, 200)).collect()
    }
    big = {
        r.doc_id: r.split for r in assign_split(_docs(spark, 1000)).collect()
    }
    assert all(big[k] == v for k, v in small.items())
    assert set(big.values()) == {"train", "val", "test"}


def test_split_shares_and_token_totals(spark):
    rows = split_report(_docs(spark, 2000)).collect()
    assert sum(r.n_docs for r in rows) == 2000
    assert sum(r.n_tokens for r in rows) == 2000 * 3
    by = {r.split: r for r in rows}
    # md5 buckets are near-uniform: train ~90%, each share_bp exact
    assert 8500 < by["train"].share_bp < 9500
    for r in rows:
        assert r.share_bp == r.n_docs * 10000 // 2000


def test_split_rejects_bad_percentages(spark):
    with pytest.raises(ValueError):
        assign_split(_docs(spark, 1), train_pct=95, val_pct=5)

