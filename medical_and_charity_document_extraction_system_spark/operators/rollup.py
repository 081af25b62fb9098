"""Page -> document rollup (reference A1).

Two implementations of the same semantics
(/root/reference/backend/app/services/ocr_service.py:188-227):

1. ``combine_page_results`` — pure Python, run *inside* the extraction
   ``mapInArrow`` stage where a document's pages are already local to
   one row. This is the hot path: because pages never leave the row,
   the rollup costs **zero shuffle** at any scale. It reproduces the
   reference byte-for-byte, including the ``--- Page N ---`` headers,
   the ``"\\n\\n"`` join (ocr_service.py:195-198), and Python
   ``round(mean, 2)`` banker's rounding on confidence
   (ocr_service.py:207-210).

2. ``rollup_pages`` — the distributed form over an exploded
   ``(url, page_number, text, char_count, word_count, confidence)``
   page table, for when pages arrive as independent rows. Pure
   ``pyspark.sql.functions``; page order under shuffle is made stable
   with ``sort_array(collect_list(struct(page_number, ...)))`` —
   never a bare ``collect_list``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def combine_page_results(pages: list[dict]) -> dict:
    """pages: [{text, confidence}, ...] in page order (page 1 first).

    Returns the document-level fields of the reference record
    (ocr_service.py:215-227): text/page_count/total_characters/
    total_words/average_confidence/pages.
    """
    texts = [p.get("text") or "" for p in pages]
    confs = [float(p.get("confidence") or 0.0) for p in pages]
    full_text = "\n\n".join(
        f"--- Page {i + 1} ---\n{t}" for i, t in enumerate(texts)
    )
    total_chars = sum(len(t) for t in texts)
    words = [len(t.split()) for t in texts]
    total_words = sum(words)
    avg_conf = round(sum(confs) / len(confs), 2) if confs else 0.0
    return {
        "text": full_text,
        "page_count": len(pages),
        "total_characters": total_chars,
        "total_words": total_words,
        "average_confidence": avg_conf,
        "pages": [
            {
                "page_number": i + 1,
                "text": t,
                "char_count": len(t),
                "word_count": n,
                "confidence": c,
                # OCR engine pages carry word records; text/html pages
                # have none (reference: words[] only in engine output)
                "words": p.get("words"),
            }
            for i, (t, c, p, n) in enumerate(zip(texts, confs, pages, words))
        ],
    }


def _page_header(page_number: Column, text: Column) -> Column:
    return F.concat(F.lit("--- Page "), page_number.cast("string"), F.lit(" ---\n"), text)


def rollup_pages(
    pages_df: DataFrame,
    key: str = "url",
    page_number: str = "page_number",
    text: str = "text",
    confidence: str = "confidence",
) -> DataFrame:
    """Distributed A1 over an exploded page table.

    One hash-aggregate (single shuffle on ``key``); map-side partial
    aggregation applies to the sums/counts. Note: uses Spark
    ``round`` (HALF_UP) — the in-stage Python rollup is the one that
    matches the reference's banker's rounding bit-for-bit.
    """
    pn = F.col(page_number)
    txt = F.col(text)
    ordered = F.sort_array(
        F.collect_list(F.struct(pn.alias("pn"), txt.alias("t")))
    )
    return (
        pages_df.groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("int").alias("page_count"),
            F.sum(F.length(txt)).alias("total_characters"),
            F.sum(F.size(F.filter(F.split(txt, r"\s+"), lambda x: x != ""))).alias(
                "total_words"
            ),
            F.round(F.avg(F.col(confidence)), 2).alias("average_confidence"),
            F.array_join(
                F.transform(ordered, lambda s: _page_header(s["pn"], s["t"])),
                "\n\n",
            ).alias("text"),
        )
    )
