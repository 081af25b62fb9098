"""Sub-document dedup semantics: paragraph (CCNet-style) and
k-token-span (Lee et al. 2022-style) exact deduplication
(operators/textdedup.py)."""

import pyspark.sql.functions as F

from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
    paragraph_dedup,
    span_dedup,
)


def _rows(df):
    return {r["doc_id"]: (r["clean_text"], r["n_removed"]) for r in df.collect()}


def test_paragraph_dedup_keeps_global_first_occurrence(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma"),
            (3, "delta\nshared line"),
        ],
        "doc_id long, text string",
    )
    out = _rows(paragraph_dedup(df))
    # doc 1 holds the first occurrence (lowest doc_id, pos 1): keeps it
    assert out[1] == ("alpha\nshared line\nbeta", 0)
    assert out[2] == ("gamma", 1)
    assert out[3] == ("delta", 1)


def test_paragraph_dedup_blank_lines_always_survive(spark):
    df = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "c\n\nd"), (3, "\n\n")],
        "doc_id long, text string",
    )
    out = _rows(paragraph_dedup(df))
    assert out[1] == ("a\n\nb", 0)
    assert out[2] == ("c\n\nd", 0)
    # three empty lines: all blank, all kept
    assert out[3] == ("\n\n", 0)


def test_paragraph_dedup_within_doc_repeat_collapses(spark):
    df = spark.createDataFrame(
        [(7, "same\nsame\nsame")], "doc_id long, text string"
    )
    out = _rows(paragraph_dedup(df))
    assert out[7] == ("same", 2)


def test_paragraph_dedup_fully_removed_doc_yields_empty(spark):
    df = spark.createDataFrame(
        [(1, "only line"), (2, "only line")], "doc_id long, text string"
    )
    out = _rows(paragraph_dedup(df))
    assert out[1] == ("only line", 0)
    assert out[2] == ("", 1)


def test_span_dedup_removes_shared_span_except_canonical(spark):
    lic = "w0 w1 w2 w3 w4 w5"  # 6 tokens, k=4 -> 3 dup windows
    df = spark.createDataFrame(
        [
            (1, f"doc one unique tokens {lic}"),
            (2, f"totally different words here {lic}"),
            (3, "no shared content in this document at all"),
        ],
        "doc_id long, text string",
    )
    out = _rows(span_dedup(df, k=4))
    # doc 1 is canonical for every shared window: untouched
    assert out[1] == (f"doc one unique tokens {lic}", 0)
    # doc 2 loses exactly the 6 license tokens
    assert out[2] == ("totally different words here", 6)
    assert out[3] == ("no shared content in this document at all", 0)


def test_span_dedup_short_docs_have_no_windows(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    # k=4 > 3 tokens: no windows, nothing removed even though the
    # docs are identical (document-level dedup's job, not span dedup's)
    out = _rows(span_dedup(df, k=4))
    assert out[1] == ("a b c", 0)
    assert out[2] == ("a b c", 0)


def test_span_dedup_within_doc_repeat_not_removed(spark):
    # the same window twice in ONE doc is repetition, not cross-doc
    # duplication: n_distinct_docs = 1, so nothing is removed
    df = spark.createDataFrame(
        [(1, "x y z w x y z w")], "doc_id long, text string"
    )
    out = _rows(span_dedup(df, k=4))
    assert out[1] == ("x y z w x y z w", 0)


def test_span_dedup_overlapping_coverage_union(spark):
    # shared run of 5 tokens with k=4: dup windows at pos p and p+1 in
    # the non-canonical doc; covered positions are the UNION [p, p+5)
    df = spark.createDataFrame(
        [(1, "s1 s2 s3 s4 s5"), (2, "tail s1 s2 s3 s4 s5")],
        "doc_id long, text string",
    )
    out = _rows(span_dedup(df, k=4))
    assert out[1] == ("s1 s2 s3 s4 s5", 0)
    assert out[2] == ("tail", 5)


def test_textdedup_plans_stay_jvm_side(spark):
    """Neither operator may plant a Python eval in the data path."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    for out in (paragraph_dedup(df), span_dedup(df, k=4)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_training_pipeline_stages_all_bite(spark):
    """The composed catalog query is only meaningful if every stage
    removes something on the test corpus: quality filter drops docs,
    exact dedup drops docs, paragraph dedup drops lines."""
    import __spark_entry__ as e
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        exact_dedup,
    )
    from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
        paragraph_dedup,
    )

    ext = e._extract(spark, "/root/testdata/sf0.001").selectExpr(
        "cast(regexp_extract(url, '/doc/(\\\\d+)$', 1) as long) as doc_id", "text"
    )
    n0 = ext.count()
    kept = ext.join(
        with_gopher_signals(ext).where("gopher_keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    n1 = kept.count()
    assert 0 < n1 < n0  # quality filter bites
    ded = exact_dedup(kept)
    n2 = ded.count()
    assert n2 <= n1
    removed = paragraph_dedup(ded).agg(F.sum("n_removed")).collect()[0][0]
    assert removed > 0  # paragraph dedup bites
    man = e.queries()["training_pipeline"](spark, "/root/testdata/sf0.001")
    assert man.agg(F.sum("n_docs")).collect()[0][0] == n2
