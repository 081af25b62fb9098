"""The end-to-end extraction plan.

Spark re-expression of the reference's flagship trace
(``POST /api/v1/ocr/process`` — SURVEY.md section 3.1,
/root/reference/backend/app/api/routes/ocr_routes.py:18-49 ->
ocr_service.py:33-127):

    scan -> ONE iterator-form mapInArrow stage
            ([parse pages, when the input is an Arrow row stage's
              output: read_warc, synthesize_pages]
             -> route per row: direct-text | pdf | html | error
             -> extraction -> field spans -> page rollup)

Routing happens per row inside Python — the direct analog of the
reference's per-document ``if not is_scanned:`` dispatch at
ocr_service.py:56. One plan, one scan, one Python worker pool: Spark
does not share scans between union branches, so a filter-per-branch
plan would read the input once per branch and run one Python worker
pool per Python stage. Layout (the url-hash repartition) is the job
entrypoint's business (job.choose_layout), not the plan's.

Scale notes (the properties that must hold at 10^12 rows):
- **Zero mandatory shuffles.** The fused plan is scan -> narrow ops;
  pages stay inside their document's row, so the A1 rollup happens
  in-stage (operators/rollup.py).
- Heavy per-row work (DOM parse, PDF parse, OCR) is in iterator-form
  ``mapInArrow`` (stage.map_batches: Python lists in, ``from_pylist``
  out, no pandas frame) with per-worker engine caching
  (operators/engines.py) — one model init per Python worker, not per
  row or batch.
- Rows carry MB-scale binaries: keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` small
  (config.spark_conf_overrides).
- Errors degrade to error *records*, never task failures
  (reference ocr_service.py:154-157, 229-243).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..functions.fields import extract_spans
from ..functions.html_extract import main_text
from ..functions.normalize import preprocess_text
from ..operators.engines import get_engine
from ..operators.pdf import extract_pdf_pages, is_pdf_bytes, is_scanned
from ..operators.rollup import combine_page_results
from ..schema import (
    EXTRACTION_SCHEMA,
    METHOD_DIRECT,
    METHOD_ERROR,
    METHOD_HTML,
    METHOD_OCR,
)
from ..stage import map_batches


def _error_record(url: str, lang, msg: str) -> dict:
    return {
        "url": url,
        "is_scanned": False,
        "processing_method": METHOD_ERROR,
        "page_count": 0,
        "total_characters": 0,
        "total_words": 0,
        "average_confidence": 0.0,
        "text": "",
        "pages": [],
        "spans": [],
        "engine": "none",
        "lang": None if lang is None else str(lang),
        "error": msg[:500],
        "steps_applied": [],
    }


def _finish_record(url, lang, pages, method, engine, scanned, steps) -> dict:
    rec = combine_page_results(pages)
    rec.update(
        url=url,
        is_scanned=scanned,
        processing_method=method,
        engine=engine,
        lang=None if lang is None else str(lang),
        error=None,
        steps_applied=steps,
        spans=extract_spans(rec["text"]),
    )
    return rec


_OUT_COLS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _records_frame(records: list[dict]) -> pd.DataFrame:
    if not records:
        return pd.DataFrame(columns=_OUT_COLS)
    return pd.DataFrame.from_records(records, columns=_OUT_COLS)


def _process_html(url, data, lang, cfg: ExtractionConfig) -> dict:
    try:
        html_str = bytes(data).decode("utf-8")
        text = main_text(html_str)
        return _finish_record(
            url, lang,
            [{"text": text, "confidence": 100.0}],
            METHOD_HTML, "density_v1", False, [],
        )
    except Exception as exc:  # degrade, never fail the task
        return _error_record(url, lang, f"html: {exc}")


def _process_pdf(url, data, lang, cfg: ExtractionConfig) -> dict:
    try:
        page_texts = extract_pdf_pages(bytes(data))
        if not is_scanned(page_texts):
            pages = [{"text": t, "confidence": 100.0} for t in page_texts]
            return _finish_record(url, lang, pages, METHOD_DIRECT, "text", False, [])
        engine = get_engine(cfg.ocr_engine)
        pages, steps = [], []
        for t in page_texts:
            try:
                processed, steps = preprocess_text(t)
                res = engine.process_page(processed, lang)
                pages.append(res)
            except Exception:
                # page-level degrade: empty-text page row
                # (reference ocr_service.py:154-157)
                pages.append({"text": "", "confidence": 0.0})
        return _finish_record(
            url, lang, pages, METHOD_OCR, engine.engine_name, True, steps
        )
    except Exception as exc:
        return _error_record(url, lang, f"pdf: {exc}")


def _process_direct(url, text, lang) -> dict:
    """Reference text path (ocr_service.py:56-77): single page,
    confidence 100.0, direct method."""
    return _finish_record(
        url, lang, [{"text": text, "confidence": 100.0}], METHOD_DIRECT, "text", False, []
    )


_MISSING_MSG = "missing: no html and no text"


def _route_rows(cfg: ExtractionConfig, urls, htmls, texts, langs) -> list[dict]:
    """One extraction record per input row, in input order: per-row
    routing inside Python — the direct analog of the reference's
    per-document ``if not is_scanned:`` dispatch (ocr_service.py:56)."""
    records = []
    for url, data, txt, lang in zip(urls, htmls, texts, langs):
        try:
            if txt is not None and len(txt) > 0:
                records.append(_process_direct(url, txt, lang))
            elif data is None:
                records.append(_error_record(url, lang, _MISSING_MSG))
            elif is_pdf_bytes(bytes(data)):
                records.append(_process_pdf(url, data, lang, cfg))
            else:
                records.append(_process_html(url, data, lang, cfg))
        except Exception as exc:
            records.append(_error_record(url, lang, f"route: {exc}"))
    return records


def _fused_stage(cfg: ExtractionConfig):
    """The fused stage over pandas batches: ``_route_rows`` with each
    batch's records as one pandas frame (spans as lists of dicts). A
    thin adapter for in-process replays; ``run_extraction`` runs
    ``_route_rows`` as an Arrow stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _records_frame(
                _route_rows(cfg, pdf["url"], pdf["html"], pdf["text"], pdf["lang"])
            )

    return run


def run_extraction(
    pages_df: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG
) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) -> extractions (one
    row/url). Fused single-pass plan: ONE scan, ONE mapInArrow stage,
    per-row routing inside Python. Pages an uncached Arrow row stage
    returned (``read_warc``, ``synthesize_pages``) are extracted in
    that stage's own ``mapInArrow`` (stage.py)."""
    return map_batches(
        pages_df,
        EXTRACTION_SCHEMA,
        partial(_route_rows, cfg),
        columns=("url", "html", "text", "lang"),
    )
