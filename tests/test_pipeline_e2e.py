"""End-to-end golden tests: pipeline output vs construction-time
expected records (the Spark analog of the reference's golden JSON
fixtures in /root/reference/storage/json_tasks/), plus the
rerun-determinism property evidenced by the reference's 4 byte-identical
hospitalbill_*.json files."""

import duckdb
import pytest

from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.sources import expected_record
from medical_and_charity_document_extraction_system_spark.sources.pages import bucket

from .conftest import SF_SMALL


def _docs():
    return duckdb.sql(
        f"select doc_id, text, lang from read_parquet('{SF_SMALL}/documents.parquet') order by doc_id"
    ).fetchall()


@pytest.fixture(scope="module")
def by_url(extracted_small):
    rows = extracted_small.collect()
    assert len(rows) == len({r.url for r in rows}), "urls must be unique"
    return {r.url: r for r in rows}


def test_byte_identical_text_per_url(by_url):
    """BASELINE.json invariant: byte-identical extracted text per url."""
    for doc_id, text, lang in _docs():
        exp = expected_record(doc_id, text, lang)
        got = by_url[exp["url"]]
        assert got.text == exp["text"], f"doc {doc_id} ({bucket(doc_id)})"


def test_document_record_fields(by_url):
    for doc_id, text, lang in _docs():
        exp = expected_record(doc_id, text, lang)
        got = by_url[exp["url"]]
        b = bucket(doc_id)
        assert got.processing_method == exp["processing_method"], (doc_id, b)
        assert got.is_scanned == exp["is_scanned"], (doc_id, b)
        assert got.page_count == exp["page_count"], (doc_id, b)
        assert got.total_characters == exp["total_characters"], (doc_id, b)
        assert got.total_words == exp["total_words"], (doc_id, b)
        assert got.average_confidence == exp["average_confidence"], (doc_id, b)
        assert got.engine == exp["engine"], (doc_id, b)
        assert got.lang == lang


def test_spans_match_plant_time_oracle(by_url):
    n_with_spans = 0
    for doc_id, text, lang in _docs():
        exp = expected_record(doc_id, text, lang)
        got = by_url[exp["url"]]
        got_spans = [
            {"field": s.field, "value": s.value, "start": s.start,
             "end": s.end, "confidence": s.confidence}
            for s in got.spans
        ]
        assert got_spans == exp["spans"], (doc_id, bucket(doc_id))
        if got_spans:
            n_with_spans += 1
    assert n_with_spans > 400  # all html/direct/pdf_text rows carry spans


def test_pages_struct(by_url):
    for doc_id, text, lang in _docs():
        exp = expected_record(doc_id, text, lang)
        got = by_url[exp["url"]]
        assert len(got.pages) == exp["page_count"]
        for gp, ep in zip(got.pages, exp["pages"]):
            assert gp.page_number == ep["page_number"]
            assert gp.text == ep["text"]
            assert gp.char_count == ep["char_count"]
            assert gp.word_count == ep["word_count"]
            assert gp.confidence == ep["confidence"]


def test_error_rows_degrade_not_fail(by_url):
    errs = [r for r in by_url.values() if r.processing_method == "error"]
    assert len(errs) == sum(1 for d, _, _ in _docs() if bucket(d) == "error")
    for r in errs:
        assert r.error and r.text == "" and r.page_count == 0


def test_rerun_determinism(spark, pages_small):
    """Run the pipeline twice; outputs must be identical (reference
    evidence: 4 identical hospitalbill_*.json reruns)."""
    a = run_extraction(pages_small).select("url", "text", "processing_method").collect()
    b = run_extraction(pages_small).select("url", "text", "processing_method").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ocr_pages_carry_word_records(by_url):
    """OCR pages carry word records with char offsets (F3 word
    expansion, easyocr_engine.py:79-91 analog); text/html pages have
    none, mirroring the reference where words[] exists only in engine
    output."""
    n_ocr = 0
    for url, r in by_url.items():
        for p in r.pages:
            if r.processing_method == "ocr_pipeline":
                assert p.words is not None and len(p.words) >= 1
                for i, w in enumerate(p.words):
                    assert w.word_num == i + 1
                    assert p.text[w.start:w.end] == w.text  # offsets index page text
                    assert w.confidence == p.confidence
                n_ocr += 1
            else:
                assert p.words is None
    assert n_ocr > 10


def test_arrow_stage_equals_pandas_adapter(spark, pages_small):
    """``run_extraction`` (the mapInArrow stage) returns, column by
    column, the records ``_fused_stage`` (the pandas adapter that
    in-process replays drive) builds for the same rows: every route,
    error records, OCR ``pages[].words``, ``steps_applied`` and null
    ``lang``."""
    from medical_and_charity_document_extraction_system_spark.config import DEFAULT_CONFIG
    from medical_and_charity_document_extraction_system_spark.functions.minipdf import build_pdf
    from medical_and_charity_document_extraction_system_spark.plans import pipeline
    from medical_and_charity_document_extraction_system_spark.schema import EXTRACTION_SCHEMA
    from medical_and_charity_document_extraction_system_spark.sources.pages import (
        render_fake_pdf,
        render_html,
    )

    pdf = build_pdf([
        "Patient: Ana Lima seen on 01/02/03 at the clinic for a checkup",
        "Diagnosis code J45.9, amount due $12.50, Invoice 54321 attached",
    ])
    extra = [
        ("x:text-null-lang", None, "Invoice 12345 on 04/05/06", None),
        ("x:html-null-lang", render_html(7, "Donor: Bo Ng gave $5.00 &amp; more"), None, None),
        ("x:ocr-null-lang", render_fake_pdf(3, "short"), None, None),
        ("x:pdf", pdf, None, "eng"),
        ("x:pdf-truncated", pdf[:40], None, "eng"),
        ("x:missing", None, None, "eng"),
        ("x:empty-text", None, "", None),
        ("x:junk", b"\xff\xfe<p>", None, "deu"),
    ]
    cols = ["url", "html", "text", "lang"]
    rows = pages_small.select(*cols).union(
        spark.createDataFrame(extra, pages_small.select(*cols).schema)
    )
    got = {r.url: r.asDict(recursive=True) for r in pipeline.run_extraction(rows).collect()}
    frame = next(pipeline._fused_stage(DEFAULT_CONFIG)(iter([rows.toPandas()])))
    want = frame.to_dict("records")
    assert len(got) == len(want) == rows.count()
    for rec in want:
        out = got[rec["url"]]
        for field in EXTRACTION_SCHEMA.fieldNames():
            assert out[field] == rec[field], (rec["url"], field)

    methods = {r["processing_method"] for r in want}
    assert methods == {"direct_text_extraction", "html_extraction", "ocr_pipeline", "error"}
    ocr = [r for r in want if r["processing_method"] == "ocr_pipeline"]
    assert all(r["steps_applied"] and r["pages"][0]["words"] for r in ocr)
    assert got["x:ocr-null-lang"]["lang"] is None
    assert got["x:pdf"]["processing_method"] == "direct_text_extraction"
    assert {got[u]["error"].split(":")[0] for u in ("x:pdf-truncated", "x:missing", "x:junk")} == {
        "pdf", "missing", "html"
    }
