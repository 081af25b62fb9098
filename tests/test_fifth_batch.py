"""Fifth continuation batch: AMS F2 sketch, positional phrase search."""

# ---------------------------------------------------------------- ams


def _terms(spark, pairs):
    return spark.createDataFrame(pairs, "term string, cnt long")


def test_ams_merge_equals_one_shot(spark):
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_registers,
        merge_ams_registers,
    )

    pairs = [(f"t{i}", (i % 7) + 1) for i in range(40)]
    one = {
        r.r: r.reg for r in ams_registers(_terms(spark, pairs)).collect()
    }
    halves = [
        ams_registers(_terms(spark, pairs[:20])),
        ams_registers(_terms(spark, pairs[20:])),
    ]
    merged = {
        r.r: r.reg for r in merge_ams_registers(*halves).collect()
    }
    assert merged == one
    assert len(one) == 64


def test_ams_raw_rows_equal_preaggregated_counts(spark):
    # addition commutes: 5 rows of count 1 == one row of count 5
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_registers,
    )

    raw = _terms(spark, [("w", 1)] * 5 + [("v", 1)] * 2)
    agg = _terms(spark, [("w", 5), ("v", 2)])
    assert {r.r: r.reg for r in ams_registers(raw).collect()} == {
        r.r: r.reg for r in ams_registers(agg).collect()
    }


def test_ams_estimate_within_error_bounds(spark):
    # stderr of the R-register mean ~ F2 * sqrt(2/R) = 17.7%; allow
    # 4 sigma on one deterministic draw.
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_f2_report,
        ams_registers,
    )

    pairs = [(f"t{i}", (i % 13) + 1) for i in range(300)]
    tc = _terms(spark, pairs)
    r = ams_f2_report(ams_registers(tc), tc).collect()[0]
    assert r.f2_exact == sum((i % 13 + 1) ** 2 for i in range(300))
    assert abs(r.f2_estimate - r.f2_exact) / r.f2_exact < 0.71
    assert r.err_bp == abs(r.f2_estimate - r.f2_exact) * 10000 // r.f2_exact


# ---------------------------------------------------------------- phrase


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

