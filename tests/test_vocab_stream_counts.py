"""Round-5 batch: vocabulary coverage (operators/keywords.
vocab_coverage)."""

from medical_and_charity_document_extraction_system_spark.operators.keywords import (
    vocab_coverage,
)


def test_vocab_coverage_counts_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a b", "s1"),
            (2, "a c", "s1"),
            (3, "b b zz", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    # global counts: a=4, b=3, c=1, zz=1 -> V=2 vocab = {a, b}
    got = {r.source: r for r in vocab_coverage(docs, vocab_size=2).collect()}
    s1 = got["s1"]
    assert (s1.n_tokens, s1.n_covered, s1.n_terms) == (6, 5, 3)
    assert s1.coverage_bp == 5 * 10000 // 6
    s2 = got["s2"]
    assert (s2.n_tokens, s2.n_covered) == (3, 2)


def test_vocab_coverage_boundary_tie_breaks_by_term(spark):
    # b and c tie at 1; V=2 must pick {a, b} (term asc at the edge)
    docs = spark.createDataFrame(
        [(1, "a a b c", "s")], "doc_id long, text string, source string"
    )
    r = vocab_coverage(docs, vocab_size=2).collect()[0]
    assert r.n_covered == 3  # a(2) + b(1), c excluded
