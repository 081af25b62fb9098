"""Fifth continuation batch: positional phrase search."""


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_overlapping_self_repeats(spark):
    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    docs = _docs(
        spark,
        [
            (1, "x x x y"),  # starts at 0 and 1 -> 2 overlapping matches
            (2, "x y x"),  # never adjacent -> absent
            (3, "a x x b x x"),  # 2 separate matches
        ],
    )
    out = {
        r.doc_id: r.n_matches
        for r in phrase_match(docs, phrase=("x", "x")).collect()
    }
    assert out == {1: 2, 3: 2}


def test_phrase_three_terms_and_position_alignment(spark):
    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    docs = _docs(
        spark,
        [
            (1, "the quick fox jumps"),
            (2, "quick the fox"),  # all terms present, wrong order
            (3, "pad the quick fox"),  # shifted start still matches
        ],
    )
    out = {
        r.doc_id: r.n_matches
        for r in phrase_match(docs, phrase=("the", "quick", "fox")).collect()
    }
    assert out == {1: 1, 3: 1}


def test_phrase_needs_two_terms(spark):
    import pytest

    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    with pytest.raises(ValueError):
        phrase_match(_docs(spark, [(1, "a")]), phrase=("a",))

