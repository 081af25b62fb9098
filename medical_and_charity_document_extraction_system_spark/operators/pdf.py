"""PDF-style layout parsing: open/validate, page-text extraction, and
the scanned-vs-text predicate.

Reference semantics re-expressed:

- open/validate with degrade-don't-fail:
  /root/reference/backend/app/services/pdf_service.py:107-121, :174-180
- per-page text extraction (flatMap doc -> pages):
  pdf_service.py:164-229
- scanned predicate: sample first <=3 pages, average stripped chars
  per page < 50 => scanned; **any parse error defaults to scanned**:
  pdf_service.py:231-259 (threshold :249, error-default :258)

Real PDFs (``%PDF`` magic) are parsed by the pure-Python
functions/minipdf.py, the one PDF parser. For deterministic testing we
define a trivial container format ``%FPDF\\n<page>\\f<page>...`` (see
sources/pages.py) whose pages are UTF-8 text payloads;
scanned-classified payloads are treated as "pixels" and routed through
the OCR engine registry.

Pure Python: called from inside Arrow row stages (stage.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.pages import FAKE_PDF_MAGIC, PAGE_SEP
from ..stage import map_rows

PDF_MAGIC = b"%PDF"


def is_pdf_bytes(data: bytes | None) -> bool:
    return data is not None and (
        data.startswith(FAKE_PDF_MAGIC) or data.startswith(PDF_MAGIC)
    )


def extract_pdf_pages(data: bytes) -> list[str]:
    """Returns page texts; raises ValueError on undecodable payloads
    (the caller converts that into an error record / scanned default,
    mirroring pdf_service.py:258)."""
    if data.startswith(FAKE_PDF_MAGIC):
        payload = data[len(FAKE_PDF_MAGIC):].decode("utf-8")
        return payload.split(PAGE_SEP)
    if data.startswith(PDF_MAGIC):
        # the text-PDF subset functions/minipdf.py reads: uncompressed /
        # FlateDecode content streams with literal-string Tj/TJ
        # operands. Unsupported shapes raise ValueError and degrade to
        # the error record, the pdf_service.py:258 semantics.
        from ..functions.minipdf import extract_text_pages

        return extract_text_pages(data)
    raise ValueError("not a PDF payload")


def is_scanned(page_texts: list[str], sample_pages: int = 3, char_threshold: float = 50.0) -> bool:
    """Average stripped chars/page over the first <=sample_pages pages
    below char_threshold => scanned (pdf_service.py:231-259). A 0-page
    PDF returns False, matching the reference's early-return
    (pdf_service.py:234-237); in practice 0-page payloads raise during
    extraction and become error records before reaching this check."""
    if not page_texts:
        return False
    sample = page_texts[: max(1, sample_pages)]
    avg = sum(len(t.strip()) for t in sample) / len(sample)
    return avg < char_threshold


def docs_to_pdfs(df, cols=("source",), id_col="doc_id", text_col="text",
                 font="type1"):
    """(document row) -> one single-page REAL ``%PDF`` per document
    (functions/minipdf.build_pdf) — the feeder that turns any text
    table into real-PDF payloads for the merge/extraction paths
    (deterministic: same text -> same bytes). Even ids get the classic
    xref-table shape, odd ids the PDF 1.5 ObjStm + xref-stream shape,
    so every downstream consumer (merge, page explode) parses BOTH
    writer generations under the oracle gate. ``font="type0"`` emits
    the subsetted-CID composite-font generation (Identity-H +
    /ToUnicode CMap) instead of simple Type1 — the other common
    modern-writer shape (reference reads both via fitz,
    pdf_service.py:174-229)."""
    from ..functions.minipdf import build_pdf

    schema = ", ".join(f"{c} string" for c in cols) + f", {id_col} long, pdf binary"

    def to_pdf(*values) -> list[dict]:
        *kept, i, t = values
        pdf = build_pdf([t or ""], xref_stream=bool(i % 2), font=font)
        return [{**dict(zip(cols, kept)), id_col: i, "pdf": pdf}]

    return map_rows(
        df.select(*cols, F.col(id_col).cast("long"), text_col), schema, to_pdf
    )


def explode_pdf_pages(pages_df):
    """F1/F2 as a standalone Spark operator: PDF documents -> one row
    per page (the reference's per-page loops at pdf_service.py:130-143
    and :185-195, re-expressed as an Arrow row-stage flatMap — more
    output rows than input rows). Non-PDF and unparseable payloads are
    skipped (degrade-don't-fail). Columns:
    (url, page_number 1-based, page_text, char_count)."""
    def pages(url: str, data: bytes | None) -> list[dict]:
        if not is_pdf_bytes(data):
            return []
        try:
            texts = extract_pdf_pages(data)
        except ValueError:
            return []
        return [
            {"url": url, "page_number": i + 1, "page_text": t, "char_count": len(t)}
            for i, t in enumerate(texts)
        ]

    return map_rows(
        pages_df.select("url", "html"),
        "url string, page_number int, page_text string, char_count int",
        pages,
    )
