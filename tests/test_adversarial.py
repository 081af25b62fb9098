"""Degrade-don't-fail under hostile inputs (reference semantics,
ocr_service.py:154-157/229-243): every malformed payload must yield a
record — error or best-effort extraction — never a task failure, and
rerun output must be identical."""

import pytest

from pyspark.sql import types as T

from medical_and_charity_document_extraction_system_spark.plans import run_extraction

NASTY = [
    b"\x00\xff\xfe garbage \x80\x81",                 # not utf-8
    b"<div>" * 2000,                                   # deep nesting, never closed
    b"<!-- unterminated comment <p>hidden</p>",
    b"<p " + b"a" * 100000 + b">attr bomb</p>",
    b"< not a tag < at all <<",
    b"<script>while(1){if(a<b)x()}</script>",          # rawtext with '<'
    b"<a href='x'><a><a>nested links</a>",
    b"%FPDF\n",                                        # empty fake pdf
    b"%PDF-1.4 real pdf but no fitz installed",
    b"",                                               # empty payload
    "<p>café ☃ &amp; &#x1F600; entity soup</p>".encode(),
]


@pytest.fixture(scope="module")
def nasty_pages(spark):
    rows = [
        (f"https://evil.example.com/doc/{i}", None, payload, None, "en")
        for i, payload in enumerate(NASTY)
    ]
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_every_nasty_payload_yields_a_record(spark, nasty_pages):
    rows = {r.url: r for r in run_extraction(nasty_pages).collect()}
    assert len(rows) == len(NASTY)  # no row lost, no task failure
    for url, r in rows.items():
        assert r.processing_method in (
            "html_extraction", "direct_text_extraction", "ocr_pipeline", "error"
        ), url
        if r.processing_method == "error":
            assert r.error


def test_specific_degradations(spark, nasty_pages):
    rows = {r.url.rsplit("/", 1)[-1]: r for r in run_extraction(nasty_pages).collect()}
    # non-utf8 bytes -> error record, not exception
    assert rows["0"].processing_method == "error"
    # empty fake pdf parses to one empty page -> scanned route (avg
    # chars < 50) through the stub OCR engine
    assert rows["7"].processing_method in ("ocr_pipeline", "error")
    # real-PDF magic without PyMuPDF installed -> error record
    assert rows["8"].processing_method == "error"
    assert "PyMuPDF" in rows["8"].error or "pdf" in rows["8"].error
    # entity soup decodes and extracts
    assert "café" in rows["10"].text


def test_nasty_rerun_deterministic(spark, nasty_pages):
    a = sorted(map(tuple, run_extraction(nasty_pages).select("url", "text", "error").collect()))
    b = sorted(map(tuple, run_extraction(nasty_pages).select("url", "text", "error").collect()))
    assert a == b


# ---------------------------------------------- codec/parser fuzzing
def _mutations(valid: bytes, seed: int, n: int = 60):
    """Truncations, byte flips, and splices of a valid payload —
    every decoder must either succeed or raise its typed error."""
    import numpy as np

    rng = np.random.RandomState(seed)
    outs = []
    for _ in range(n):
        kind = rng.randint(3)
        b = bytearray(valid)
        if kind == 0 and len(b) > 1:  # truncate
            b = b[: rng.randint(1, len(b))]
        elif kind == 1 and len(b) > 0:  # flip random bytes
            for _ in range(rng.randint(1, 6)):
                b[rng.randint(len(b))] = rng.randint(256)
        else:  # splice two halves at a random cut
            i, j = sorted(rng.randint(0, len(b), 2))
            b = b[:i] + b[j:]
        outs.append(bytes(b))
    return outs


def test_media_decoders_never_crash_uncontrolled():
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions import (
        gif, jpeg, minipdf, netpbm, png,
    )

    img = (np.arange(240, dtype=np.uint8).reshape(12, 20) * 3) % 256
    rgb = np.stack([img] * 3, axis=2)
    cases = [
        (png.encode_png(img), png.decode_png, (png.PngError, ValueError)),
        (jpeg.encode_jpeg(img), jpeg.decode_jpeg, (jpeg.JpegError, ValueError)),
        (gif.encode_gif([rgb]), gif.decode_gif, (gif.GifError, ValueError)),
        (netpbm.encode(img), netpbm.decode, (ValueError,)),
        (minipdf.build_pdf(["fuzz page"], xref_stream=True),
         minipdf.extract_text_pages, (ValueError,)),
    ]
    # fixed per-decoder seeds, so each decoder keeps its own mutation set
    for seed, (valid, decode, errs) in zip((0, 1, 2, 4, 5), cases):
        decode(valid)  # sanity: the unmutated payload decodes
        for payload in _mutations(valid, seed):
            try:
                decode(payload)
            except errs:
                pass  # the typed degrade path — exactly what callers catch


def test_warc_parser_never_raises_on_mutations():
    import datetime

    from medical_and_charity_document_extraction_system_spark.sources.warc import (
        _gunzip_members, build_warc_record, parse_warc,
    )

    rec = build_warc_record(
        "https://h/x", datetime.datetime(2026, 1, 1), b"<p>hi</p>",
        "text/html", "en",
    )
    import gzip as _gz

    gz = _gz.compress(rec, 6, mtime=0)
    for payload in _mutations(rec + rec, 7):
        parse_warc(payload)  # contract: returns a list, never raises
    for payload in _mutations(gz + gz, 8):
        parse_warc(_gunzip_members(payload))
