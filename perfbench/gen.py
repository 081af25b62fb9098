"""Seeded input generator and plant-time expected records.

Every input is a pure function of ``(corpus, seed)``: the seed picks the
``doc_id`` offset, the document texts and page-size draws, and, for
``warc_mixed``, the scanned share of its PDFs. Pages are rendered with the program's
own renderers (``sources.pages``, ``sources.warc.pages_to_warc_files``,
``functions.minipdf.build_pdf``); the program receives only the written
files. The expected record of every url is constructed from what was
planted, never by running the extraction: its text is the planted page
texts under their page headers, and its spans are the planted field
values at the offsets where their lines were placed. No program
function builds an expected record, so a change to the extraction
cannot change what it is checked against.

Generated corpora are cached under ``<work>/inputs/<corpus>-s<seed>/``.
"""

from __future__ import annotations

import html as _html
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from medical_and_charity_document_extraction_system_spark.functions.minipdf import build_pdf
from medical_and_charity_document_extraction_system_spark.schema import (
    METHOD_DIRECT,
    METHOD_ERROR,
    METHOD_HTML,
    METHOD_OCR,
)
from medical_and_charity_document_extraction_system_spark.sources import pages as P

from . import oracle

# the word list and language mix of the synthetic documents table the
# repo's tests use (10-100 words per document)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

SIZES = {"crawl_mix": 40000, "warc_mixed": 1000}  # documents per corpus
# input files = scan tasks: two waves on four cores. Each task is big
# enough (crawl_mix: 5000 rows, ~20 Arrow batches) that per-row and
# per-byte work, not per-task cost, dominates the job.
N_FILES = 8

# route of each bucket of sources.pages.bucket
_ROUTE_OF_BUCKET = {
    P.BUCKET_DIRECT: "direct",
    P.BUCKET_PDF_TEXT: "pdf_text",
    P.BUCKET_PDF_SCANNED: "ocr",
    P.BUCKET_ERROR: "error",
    P.BUCKET_HTML: "html",
}
ROUTES = ("direct", "html", "pdf_text", "ocr", "error")
_METHOD_OF_ROUTE = {"direct": METHOD_DIRECT, "pdf_text": METHOD_DIRECT, "ocr": METHOD_OCR, "html": METHOD_HTML}
RULE_CONFIDENCE = 100.0  # every rule-based span's confidence

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_SPAN_ARROW = pa.struct(
    [
        ("field", pa.string()),
        ("value", pa.string()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("confidence", pa.float64()),
    ]
)
EXPECTED_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("text", pa.string()),
        ("spans", pa.list_(_SPAN_ARROW)),
        ("processing_method", pa.string()),
        ("page_count", pa.int32()),
        ("route", pa.string()),
    ]
)


@dataclass(frozen=True)
class Corpus:
    """Paths and plant-time facts of one generated corpus."""

    name: str
    seed: int
    dir: str
    meta: dict

    @property
    def pages_dir(self) -> str:
        return os.path.join(self.dir, "pages")

    @property
    def warc_dir(self) -> str:
        return os.path.join(self.dir, "warc")

    @property
    def expected_path(self) -> str:
        return os.path.join(self.dir, "expected.parquet")

    @property
    def n_urls(self) -> int:
        return self.meta["n_urls"]


# --------------------------------------------------------- documents
def _documents(rng: random.Random, n: int) -> list[tuple[int, str, str]]:
    offset = rng.randrange(1, 10**6) * 100
    docs = []
    for i in range(n):
        words = rng.choices(VOCAB, k=rng.randint(10, 100))
        lang = rng.choices(LANGS, weights=LANG_WEIGHTS)[0]
        docs.append((offset + i, " ".join(words), lang))
    return docs


def _record_text(pages: list[str]) -> str:
    """A record's full text: each page's text under its page header."""
    return "\n\n".join(f"--- Page {i + 1} ---\n{t}" for i, t in enumerate(pages))


def _planted_fields(doc_id: int) -> list[tuple[str, list[tuple[str, str]]]]:
    """The three planted field lines of a document (``content_lines``
    after the free text), each with the (field, value) pairs it carries."""
    lines = P.content_lines(doc_id, "")[1:]
    name_field = "patient_name" if P.planted_prefix(doc_id) == "Patient: " else "donor_name"
    return [
        (lines[0], [(name_field, P.planted_name(doc_id))]),
        (lines[1], [("invoice_number", P.planted_invoice(doc_id)), ("date", P.planted_date(doc_id))]),
        (lines[2], [("amount", P.planted_amount(doc_id)), ("diagnosis_code", P.planted_icd(doc_id))]),
    ]


def _planted_spans(doc_id: int, text: str) -> list[dict]:
    """One span per planted value, at its offset in the expected ``text``.
    Filler is lowercase vocabulary and carries no field; a planted line
    the document does not hold (short scans) gives no spans."""
    spans = []
    for line, values in _planted_fields(doc_id):
        at = text.find(line)
        if at < 0:
            continue
        for field, value in values:
            start = at + line.index(value)
            spans.append(
                {"field": field, "value": value, "start": start, "end": start + len(value), "confidence": RULE_CONFIDENCE}
            )
    spans.sort(key=lambda sp: (sp["start"], sp["field"]))
    return spans


def _expected(doc_id: int, pages: list[str], method: str, route: str) -> dict:
    text = _record_text(pages)
    return {
        "url": P.url_for(doc_id),
        "text": text,
        "spans": _planted_spans(doc_id, text),
        "processing_method": method,
        "page_count": len(pages),
        "route": route,
    }


def _expected_error(doc_id: int) -> dict:
    return {
        "url": P.url_for(doc_id),
        "text": "",
        "spans": [],
        "processing_method": METHOD_ERROR,
        "page_count": 0,
        "route": "error",
    }


def _crawl_row(doc_id: int, text: str, lang: str) -> tuple[tuple, dict]:
    """One ``sources.pages`` row and its expected record (the pages
    ``sources.pages`` planted: a fake PDF's pages, or the content lines)."""
    html, direct_text = P.render_row(doc_id, text)
    route = _ROUTE_OF_BUCKET[P.bucket(doc_id)]
    row = (P.url_for(doc_id), P.warc_ts_for(doc_id), html, direct_text, lang)
    if route == "error":
        return row, _expected_error(doc_id)
    if route in ("pdf_text", "ocr"):
        pages = P.pdf_pages(doc_id, text)
    else:
        pages = ["\n".join(P.content_lines(doc_id, text))]
    return row, _expected(doc_id, pages, _METHOD_OF_ROUTE[route], route)


# ------------------------------------------------------ long pages
_LONG_TEMPLATE = """<!DOCTYPE html>
<html><head><title>Report {doc_id}</title><meta charset="utf-8">
<style>body {{ font: 15px serif; }} .sidebar li {{ margin: 2px; }}</style>
<script>var page = {{"id": {doc_id}, "tags": ["report", "archive"]}};</script>
</head><body>
<header><a href="/">Home</a> <a href="/reports">Reports</a> <a href="/login">Sign in</a></header>
<nav>{nav}</nav>
<div class="layout">
<div class="sidebar"><ul>
{sidebar}
</ul></div>
<article>
{paragraphs}
</article>
<div class="related"><ul>
{related}
</ul></div>
</div>
<footer>{footer}</footer>
</body></html>"""


def _link_items(rng: random.Random, n: int) -> str:
    return "\n".join(
        f'<li><a href="/tag/{rng.choice(VOCAB)}/{i}">'
        f'{" ".join(rng.choices(VOCAB, k=rng.randint(2, 5)))}</a></li>'
        for i in range(n)
    )


def _paragraph_pool(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """(html, text) filler paragraphs; some carry a short inline link,
    well under the link-density cut."""
    pool = []
    for _ in range(n):
        words = rng.choices(VOCAB, k=rng.randint(25, 70))
        text = " ".join(words)
        if rng.random() < 0.3:
            i = rng.randrange(len(words) - 2)
            linked = " ".join(words[i : i + 2])
            body = (
                " ".join(words[:i]) + f' <a href="/w/{i}">{linked}</a> '
                + " ".join(words[i + 2 :])
            ).strip()
        else:
            body = text
        pool.append((f"<p>{body}</p>", text))
    return pool


def _long_page(
    rng: random.Random, pool: list[tuple[str, str]], doc_id: int, text: str
) -> tuple[bytes, str]:
    """A tens-of-KB HTML page: the four planted lines at seeded places
    among filler paragraphs, inside heavy nav/sidebar/related/footer
    boilerplate. Returns (html bytes, expected main text)."""
    filler = rng.choices(pool, k=rng.randint(40, 140))
    planted = [(f"<p>{_html.escape(line)}</p>", line) for line in P.content_lines(doc_id, text)]
    slots = sorted(rng.sample(range(len(filler) + len(planted)), len(planted)))
    body = list(filler)
    for pos, item in zip(slots, planted):
        body.insert(pos, item)
    page = _LONG_TEMPLATE.format(
        doc_id=doc_id,
        nav=" ".join(f'<a href="/s/{i}">{w}</a>' for i, w in enumerate(rng.choices(VOCAB, k=30))),
        sidebar=_link_items(rng, 40),
        paragraphs="\n".join(h for h, _ in body),
        related=_link_items(rng, 20),
        footer=" ".join(f'<a href="/f/{i}">{w} {w}</a>' for i, w in enumerate(rng.choices(VOCAB, k=12))),
    )
    return page.encode("utf-8"), "\n".join(t for _, t in body)


def _pdf_doc(rng: random.Random, doc_id: int, text: str, scanned: bool) -> tuple[bytes, list[str], str, str]:
    """A real ``%PDF`` (classic xref table or xref stream, Type1 or Type0
    font). Scanned-like ones carry one short field line per page, which
    keeps the average page text under the 50-char scanned threshold and
    sends them through the stub OCR engine; the others have 2-6 pages of
    form text. Returns (pdf, expected pages, method, route)."""
    fields = P.content_lines(doc_id, text)[1:]
    xref_stream = rng.random() < 0.5
    font = "type0" if rng.random() < 0.3 else "type1"
    if scanned:
        pages = fields[: rng.randint(1, 3)]
        pdf = build_pdf(pages, xref_stream=xref_stream, font=font)
        return pdf, pages, METHOD_OCR, "ocr"
    lines = [
        _chunk_lines(rng.choices(VOCAB, k=rng.randint(12, 40)), 8)
        for _ in range(rng.randint(2, 6))
    ]
    lines[0] = _chunk_lines(text.split(), 8) + lines[0]
    for line in fields:
        lines[rng.randrange(len(lines))].append(line)
    pages = ["\n".join(page) for page in lines]
    pdf = build_pdf(pages, xref_stream=xref_stream, font=font)
    return pdf, pages, METHOD_DIRECT, "pdf_text"


def _chunk_lines(words: list[str], per_line: int) -> list[str]:
    return [" ".join(words[i : i + per_line]) for i in range(0, len(words), per_line)]


def _warc_kinds(rng: random.Random, n: int, scanned_share: float) -> list[str]:
    """60% long HTML pages, 32% real PDFs (``scanned_share`` of them
    scanned-like), 4% direct text, 2% non-UTF-8 bytes and 2% truncated
    PDFs, as exact counts in seeded order: the seed moves which document
    gets which kind, not how much work the corpus holds."""
    counts = {"html": round(0.60 * n), "direct": round(0.04 * n), "junk": round(0.02 * n), "truncated": round(0.02 * n)}
    n_pdf = n - sum(counts.values())
    counts["scan"] = round(scanned_share * n_pdf)
    counts["pdf"] = n_pdf - counts["scan"]
    kinds = [kind for kind, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


def _warc_rows(rng: random.Random, docs, scanned_share: float) -> tuple[list[tuple], list[dict]]:
    pool = _paragraph_pool(rng, 512)
    rows, exps = [], []
    for (doc_id, text, lang), kind in zip(docs, _warc_kinds(rng, len(docs), scanned_share)):
        url, ts = P.url_for(doc_id), P.warc_ts_for(doc_id)
        if kind == "html":
            page, main = _long_page(rng, pool, doc_id, text)
            rows.append((url, ts, page, None, lang))
            exps.append(_expected(doc_id, [main], METHOD_HTML, "html"))
        elif kind == "direct":
            direct = "\n".join(P.content_lines(doc_id, text))
            rows.append((url, ts, None, direct, lang))
            exps.append(_expected(doc_id, [direct], METHOD_DIRECT, "direct"))
        elif kind == "junk":
            rows.append((url, ts, b"\x00\xff\xfe\x00junk" + doc_id.to_bytes(4, "big"), None, lang))
            exps.append(_expected_error(doc_id))
        elif kind == "truncated":
            pdf, _, _, _ = _pdf_doc(rng, doc_id, text, scanned=False)
            rows.append((url, ts, pdf[:40], None, lang))
            exps.append(_expected_error(doc_id))
        else:
            pdf, pages, method, route = _pdf_doc(rng, doc_id, text, scanned=kind == "scan")
            rows.append((url, ts, pdf, None, lang))
            exps.append(_expected(doc_id, pages, method, route))
    return rows, exps


# ------------------------------------------------------------ writing
def _write_pages(rows: list[tuple], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {name: pa.array(col, type=PAGES_ARROW.field(name).type) for name, col in zip(PAGES_ARROW.names, cols)},
        schema=PAGES_ARROW,
    )
    # interleaved split: every file carries the same route mix
    for k in range(n_files):
        part = table.take(list(range(k, table.num_rows, n_files)))
        pq.write_table(part, os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _write_expected(exps: list[dict], path: str) -> None:
    cols = {name: [e[name] for e in exps] for name in EXPECTED_ARROW.names}
    pq.write_table(pa.table(cols, schema=EXPECTED_ARROW), path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def corpus_dir(work: str, corpus: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"{corpus}-s{seed}")


def load_or_generate(spark, work: str, name: str, seed: int) -> tuple[Corpus, bool]:
    """Returns (corpus, generated_now). A finished corpus carries a
    ``meta.json``; anything else under its directory is regenerated."""
    out = corpus_dir(work, name, seed)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Corpus(name, seed, out, json.load(f)), False

    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random(f"{name}:{seed}")
    docs = _documents(rng, SIZES[name])
    params: dict = {"doc_id_offset": docs[0][0]}
    if name == "crawl_mix":
        pairs = [_crawl_row(*d) for d in docs]
        rows, exps = [p[0] for p in pairs], [p[1] for p in pairs]
    else:
        params["scanned_share"] = round(rng.uniform(0.15, 0.30), 4)
        rows, exps = _warc_rows(rng, docs, params["scanned_share"])

    corpus = Corpus(name, seed, out, {})
    _write_pages(rows, corpus.pages_dir, N_FILES)
    _write_expected(exps, corpus.expected_path)
    if name == "warc_mixed":
        from medical_and_charity_document_extraction_system_spark.sources.warc import (
            pages_to_warc_files,
        )

        pages_to_warc_files(spark.read.parquet(corpus.pages_dir), corpus.warc_dir, n_files=N_FILES)

    routes = {r: 0 for r in ROUTES}
    for e in exps:
        routes[e["route"]] += 1
    meta = {
        "corpus": name,
        "seed": seed,
        "n_urls": len(exps),
        "params": params,
        "routes": routes,
        "input_bytes": dir_bytes(corpus.warc_dir if name == "warc_mixed" else corpus.pages_dir),
        "expected": oracle.expected_summary(spark, corpus.expected_path),
    }
    meta["gen_s"] = time.perf_counter() - t0
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(meta_path + ".tmp", meta_path)
    return Corpus(name, seed, out, meta), True
