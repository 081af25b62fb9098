"""table_profile + report deltas (operators/report.py)."""

import pytest

from medical_and_charity_document_extraction_system_spark.operators.report import (
    table_profile,
)


def test_table_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id long, s string"
    )
    prof = {r.column: r for r in table_profile(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == 4
    # string rendering: lexicographic min/max of '1'..'4'
    assert (prof["id"].min_str, prof["id"].max_str) == ("1", "4")
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert (prof["s"].min_str, prof["s"].max_str) == ("a", "b")


def test_table_profile_lexicographic_numeric_rendering(spark):
    # documented semantics: numeric columns profile their STRING form
    df = spark.createDataFrame([(9,), (10,), (100,)], "n long")
    prof = {r.column: r for r in table_profile(df).collect()}
    assert (prof["n"].min_str, prof["n"].max_str) == ("10", "9")


def test_table_profile_rejects_empty(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        table_profile(df, columns=[])


def test_apply_report_deltas_ivm(spark):
    from medical_and_charity_document_extraction_system_spark.operators.report import (
        apply_report_deltas,
        simple_source_report,
    )

    base_docs = spark.createDataFrame(
        [(1, "a", "xxxx"), (2, "a", "yyy"), (3, "b", "zz")],
        "doc_id long, source string, text string",
    )
    base = simple_source_report(base_docs)
    # update doc 1 (+2 chars), delete doc 3 (group b dies),
    # insert doc 9 into new group c
    cl = spark.createDataFrame(
        [
            ("update_before", 1, "a", "xxxx"),
            ("update_after", 1, "a", "xxxxxx"),
            ("delete", 3, "b", "zz"),
            ("insert", 9, "c", "w"),
        ],
        "change_type string, doc_id long, source string, text string",
    )
    got = {
        r.source: (r.n_docs, r.n_chars)
        for r in apply_report_deltas(base, cl).collect()
    }
    assert got == {"a": (2, 9), "c": (1, 1)}  # b dropped at zero docs

    # refreshed view == recompute over the post-change state
    v2 = spark.createDataFrame(
        [(1, "a", "xxxxxx"), (2, "a", "yyy"), (9, "c", "w")],
        "doc_id long, source string, text string",
    )
    want = {
        r.source: (r.n_docs, r.n_chars)
        for r in simple_source_report(v2).collect()
    }
    assert got == want
