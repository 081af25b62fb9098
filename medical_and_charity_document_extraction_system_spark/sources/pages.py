"""Deterministic Common-Crawl-style pages source.

The reference is tested with deterministic synthetic inputs generated
in-test (/root/reference/scripts/test_preprocessing.py:22-49 builds
text images with controlled noise; scripts/test_pdf_processing.py:15-47
builds multi-page PDFs). This module is our analog: it renders the
driver-provided ``documents.parquet`` rows into the pages table shape
from BASELINE.json ``input_hint`` —
``(url, warc_ts, html, text, lang)`` — with

- planted field spans (patient/donor name, invoice, date, amount,
  diagnosis code — the fields of the reference golden fixture
  /root/reference/storage/json_tasks/task_5.json),
- Zipf-skewed hosts (exercises host salting),
- ~6% fake-PDF rows split between text-layer and "scanned" payloads
  (exercises the scanned-vs-text predicate, reference
  pdf_service.py:231-259),
- ~2% malformed binary rows (exercises the degrade-don't-fail error
  path, reference ocr_service.py:229-243).

Everything is a pure function of ``doc_id`` and ``text`` so the
expected extraction output is *constructed*, not re-parsed — the same
trick the reference's golden JSON fixtures play. The SQL fragments at
the bottom rebuild the identical values in DuckDB for the driver's
oracle gate.
"""

from __future__ import annotations

import html as _html
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import PAGES_SCHEMA
from ..stage import map_rows

# deterministic roster; every entry matches [A-Z][a-z]+ [A-Z][a-z]+
NAMES = [
    "Kemba Harris", "Alanah Gomez", "Liam Carter", "Sofia Reyes",
    "Noah Patel", "Maya Singh", "Ethan Brooks", "Olivia Chen",
    "Lucas Moreau", "Emma Fischer", "Ravi Sharma", "Anika Rao",
    "Tomas Weber", "Lena Vogel", "Marco Rossi", "Julia Klein",
    "Omar Haddad", "Nina Petrov", "Felix Braun", "Aisha Khan",
]

FAKE_PDF_MAGIC = b"%FPDF\n"
PAGE_SEP = "\f"
EPOCH = datetime(2026, 1, 1)

BUCKET_DIRECT = "direct"
BUCKET_PDF_TEXT = "pdf_text"
BUCKET_PDF_SCANNED = "pdf_scanned"
BUCKET_ERROR = "error"
BUCKET_HTML = "html"

PAGE_HEADER_LEN = 15  # len("--- Page 1 ---\n")


def bucket(doc_id: int) -> str:
    m = (doc_id * 31) % 100
    if m < 4:
        return BUCKET_DIRECT
    if m < 10:
        return BUCKET_PDF_TEXT
    if m < 14:
        return BUCKET_PDF_SCANNED
    if m < 16:
        return BUCKET_ERROR
    return BUCKET_HTML


def host_index(doc_id: int) -> int:
    """Zipf-ish skew: host 0 carries ~40% of rows, host 1 ~20%, ..."""
    h = (doc_id * 131) % 100
    if h < 40:
        return 0
    if h < 60:
        return 1
    if h < 70:
        return 2
    return 3 + h % 17


def url_for(doc_id: int) -> str:
    return f"https://host{host_index(doc_id)}.example.com/doc/{doc_id}"


def warc_ts_for(doc_id: int) -> datetime:
    # wrap within ~20 years so amplified corpora (doc_id up to ~1e10
    # under repeat amplification) stay inside the datetime range;
    # identity for unamplified ids (sf<=0.1: doc_id*137 << the bound)
    return EPOCH + timedelta(seconds=(doc_id * 137) % 630_720_000)


# ------------------------------------------------------ planted fields
def planted_name(doc_id: int) -> str:
    return NAMES[doc_id % 20]


def planted_prefix(doc_id: int) -> str:
    return "Patient: " if doc_id % 2 == 0 else "Donor: "


def planted_invoice(doc_id: int) -> str:
    return str(10000 + (doc_id * 7919) % 90000)


def planted_date(doc_id: int) -> str:
    return f"{1 + doc_id % 12:02d}/{1 + doc_id % 28:02d}/23"


def planted_amount(doc_id: int) -> str:
    cents = (doc_id * 9973) % 1000000
    return f"${cents // 100:,}.{cents % 100:02d}"


def planted_icd(doc_id: int) -> str:
    return f"{chr(65 + doc_id % 26)}{doc_id % 100:02d}.{doc_id % 10}"


def content_lines(doc_id: int, text: str) -> list[str]:
    """The four main-content paragraphs planted into every document."""
    return [
        text,
        planted_prefix(doc_id) + planted_name(doc_id),
        f"Invoice {planted_invoice(doc_id)} dated {planted_date(doc_id)}",
        f"Total due: {planted_amount(doc_id)} (code {planted_icd(doc_id)})",
    ]


# ------------------------------------------------------------ rendering
_HTML_TEMPLATE = """<html><head><title>Document {doc_id}</title>
<style>body {{ font: 14px sans-serif; }} nav a {{ padding: 4px; }}</style>
</head><body>
<nav><a href="/">Home</a> <a href="/about">About us</a> <a href="/contact">Contact</a> <a href="/terms">Terms of service</a></nav>
<div class="sidebar"><ul>
<li><a href="/tag/popular">Popular articles this week</a></li>
<li><a href="/tag/recent">Recently updated pages</a></li>
<li><a href="/tag/archive">Archive of older content</a></li>
</ul></div>
<article>
{paragraphs}
</article>
<footer><a href="/privacy">Privacy policy</a> <a href="/imprint">Imprint</a> (c) Example Corp</footer>
</body></html>"""


def render_html(doc_id: int, text: str) -> bytes:
    paragraphs = "\n".join(
        f"<p>{_html.escape(line)}</p>" for line in content_lines(doc_id, text)
    )
    return _HTML_TEMPLATE.format(doc_id=doc_id, paragraphs=paragraphs).encode("utf-8")


def pdf_pages(doc_id: int, text: str) -> list[str]:
    b = bucket(doc_id)
    if b == BUCKET_PDF_SCANNED:
        # single short page => avg chars/page < 50 => is_scanned (reference
        # threshold pdf_service.py:249)
        return [f"scan {doc_id}"]
    lines = content_lines(doc_id, text)
    return [lines[0], "\n".join(lines[1:])]


def render_fake_pdf(doc_id: int, text: str) -> bytes:
    return FAKE_PDF_MAGIC + PAGE_SEP.join(pdf_pages(doc_id, text)).encode("utf-8")


def render_row(doc_id: int, text: str) -> tuple[bytes | None, str | None]:
    """Returns (html_bytes, text_column) for one document."""
    b = bucket(doc_id)
    if b == BUCKET_DIRECT:
        return None, "\n".join(content_lines(doc_id, text))
    if b in (BUCKET_PDF_TEXT, BUCKET_PDF_SCANNED):
        return render_fake_pdf(doc_id, text), None
    if b == BUCKET_ERROR:
        # invalid UTF-8, not HTML, not PDF -> error record path
        return b"\x00\xff\xfe\x00junk" + doc_id.to_bytes(4, "big"), None
    return render_html(doc_id, text), None


# --------------------------------------------------------- Spark source
def synthesize_pages(
    spark: SparkSession,
    sf_dir: str,
    repeat: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """documents.parquet -> pages table (url, warc_ts, html, text, lang).

    Rendering runs as one Arrow row stage (stage.map_rows): each
    doc_id gives its url, its naive-UTC ``warc_ts`` and its HTML/PDF/
    text payload.

    ``repeat`` amplifies the corpus for benchmarking (distinct doc_ids
    ``doc_id + rep * 10^7`` keep urls unique and formulas
    deterministic); oracle queries use the default ``repeat=1``.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    if repeat > 1:
        reps = spark.range(repeat).withColumnRenamed("id", "rep")
        docs = (
            docs.crossJoin(reps)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
            .drop("rep")
        )
    if partitions:
        docs = docs.repartition(partitions)

    def _render(doc_id: int, text: str, lang: str | None) -> list[dict]:
        html, txt = render_row(doc_id, text)
        return [{
            "url": url_for(doc_id),
            "warc_ts": warc_ts_for(doc_id),
            "html": html,
            "text": txt,
            "lang": lang,
        }]

    return map_rows(docs, PAGES_SCHEMA, _render)


# --------------------------------------------- construction-time oracle
def expected_record(doc_id: int, text: str, lang: str) -> dict:
    """Expected extraction record for one synthesized page — computed at
    *plant* time, never by re-parsing (FIXTURES.md section 3). Used by the
    pytest golden tests; the SQL twin lives in ``oracle_fragments``.
    """
    from ..operators.rollup import combine_page_results  # local to avoid cycle
    from ..functions.fields import extract_spans

    b = bucket(doc_id)
    url = url_for(doc_id)
    if b == BUCKET_ERROR:
        return {
            "url": url,
            "is_scanned": False,
            "processing_method": "error",
            "page_count": 0,
            "total_characters": 0,
            "total_words": 0,
            "average_confidence": 0.0,
            "text": "",
            "pages": [],
            "spans": [],
            "engine": "none",
            "lang": lang,
        }
    if b == BUCKET_PDF_SCANNED:
        page_text = f"scan {doc_id}"
        conf = float(80 + len(page_text) % 20)
        pages = [(page_text, conf)]
        method, engine, scanned = "ocr_pipeline", "stub", True
    elif b == BUCKET_PDF_TEXT:
        pages = [(p, 100.0) for p in pdf_pages(doc_id, text)]
        method, engine, scanned = "direct_text_extraction", "text", False
    elif b == BUCKET_DIRECT:
        pages = [("\n".join(content_lines(doc_id, text)), 100.0)]
        method, engine, scanned = "direct_text_extraction", "text", False
    else:
        pages = [("\n".join(content_lines(doc_id, text)), 100.0)]
        method, engine, scanned = "html_extraction", "density_v1", False

    rec = combine_page_results(
        [{"text": t, "confidence": c} for t, c in pages]
    )
    rec.update(
        url=url,
        is_scanned=scanned,
        processing_method=method,
        engine=engine,
        lang=lang,
        spans=extract_spans(rec["text"]),
    )
    return rec
