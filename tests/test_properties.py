"""Property-based tests (hypothesis) for the pure kernels — the
invariants that must hold for ANY input, not just fixtures."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from medical_and_charity_document_extraction_system_spark.functions import image_ops as I
from medical_and_charity_document_extraction_system_spark.functions import netpbm
from medical_and_charity_document_extraction_system_spark.functions.fields import extract_spans
from medical_and_charity_document_extraction_system_spark.functions.html_extract import (
    extract_blocks,
    extract_blocks_fast,
    main_text,
)
from medical_and_charity_document_extraction_system_spark.operators.rollup import (
    combine_page_results,
)

gray_images = arrays(
    np.uint8,
    st.tuples(st.integers(8, 40), st.integers(8, 40)),
    elements=st.integers(0, 255),
)

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@settings(max_examples=40, deadline=None)
@given(gray_images)
def test_netpbm_roundtrip_any_gray(img):
    assert np.array_equal(netpbm.decode(netpbm.encode(img)), img)


@settings(max_examples=25, deadline=None)
@given(gray_images)
def test_binarize_always_two_valued(img):
    for method in ("auto", "otsu", "adaptive", "sauvola", "niblack", "triangle"):
        out = I.binarize(img, method)
        assert set(np.unique(out)).issubset({0, 255}), method
        assert out.shape == img.shape


@settings(max_examples=25, deadline=None)
@given(gray_images)
def test_enhance_preserves_shape_dtype(img):
    for method in ("clahe", "histogram", "sharpen", "gamma"):
        out = I.enhance(img, method)
        assert out.shape == img.shape and out.dtype == np.uint8, method


@settings(max_examples=15, deadline=None)
@given(gray_images)
def test_denoise_preserves_shape_dtype(img):
    for method in ("gaussian", "median", "morphology"):
        out = I.denoise(img, method)
        assert out.shape == img.shape and out.dtype == np.uint8, method


@settings(max_examples=20, deadline=None)
@given(gray_images, st.floats(-30.0, 30.0))
def test_rotate_roundtrip_canvas_and_determinism(img, angle):
    a = I.rotate_image(img, angle)
    b = I.rotate_image(img, angle)
    assert np.array_equal(a, b)
    assert a.shape[0] >= img.shape[0] - 1 or abs(angle) < 0.1


@settings(max_examples=60, deadline=None)
@given(texts)
def test_spans_always_slice_to_value(text):
    for s in extract_spans(text):
        assert text[s["start"] : s["end"]] == s["value"]
        assert 0 <= s["start"] < s["end"] <= len(text)


@settings(max_examples=60, deadline=None)
@given(st.lists(texts, max_size=6))
def test_rollup_totals_consistent(page_texts):
    pages = [{"text": t, "confidence": 50.0} for t in page_texts]
    rec = combine_page_results(pages)
    assert rec["page_count"] == len(pages)
    assert rec["total_characters"] == sum(len(t) for t in page_texts)
    assert rec["total_words"] == sum(len(t.split()) for t in page_texts)
    if pages:
        assert rec["average_confidence"] == 50.0
    for i, p in enumerate(rec["pages"]):
        assert p["page_number"] == i + 1


# html: the two parsers must agree on any tag-free text, and never
# crash on arbitrary input
@settings(max_examples=60, deadline=None)
@given(texts)
def test_html_parsers_agree_on_plain_text(text):
    if "<" in text or "&" in text:
        main_text(text)  # must not raise
        return
    assert extract_blocks(text) == extract_blocks_fast(text)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300))
def test_main_text_never_crashes_on_decodable_garbage(data):
    try:
        s = data.decode("utf-8")
    except UnicodeDecodeError:
        return
    out = main_text(s)
    assert isinstance(out, str)


# -------------------------------------------------- structured HTML parity
_TEXT_NO_LT = st.text(
    alphabet=st.characters(blacklist_characters="<", blacklist_categories=("Cs",)),
    max_size=40,
)
_TAG_POOL = ["p", "div", "li", "h2", "td", "b", "span", "em", "a", "nav", "aside"]


@st.composite
def _html_docs(draw):
    """Well-formed-ish HTML: nested/unclosed tags from the pool, text
    runs (no stray '<' — that recovery class is documented as
    non-canonical), entities, comments, a benign script."""
    parts = []
    for _ in range(draw(st.integers(1, 14))):
        kind = draw(st.integers(0, 5))
        if kind == 0:
            parts.append(draw(_TEXT_NO_LT))
        elif kind == 1:
            parts.append(f"<{draw(st.sampled_from(_TAG_POOL))}>")
        elif kind == 2:
            parts.append(f"</{draw(st.sampled_from(_TAG_POOL))}>")
        elif kind == 3:
            parts.append("&amp; &lt;x&gt; &#65;")
        elif kind == 4:
            parts.append("<!-- a comment <p>ignored</p> -->")
        else:
            parts.append("<script>var a = 1 < 2;</script>")
    return "".join(parts)


@settings(max_examples=120, deadline=None)
@given(_html_docs())
def test_html_parsers_agree_on_structured_soup(html):
    assert extract_blocks(html) == extract_blocks_fast(html)


# ------------------------------------------------------ minipdf roundtrip
_PDF_TEXT = st.text(
    alphabet=st.characters(
        min_codepoint=0x20, max_codepoint=0xFF, blacklist_categories=("Cs",)
    )
    | st.sampled_from("\n\t\r()\\")
    | st.sampled_from("€中日éß BUDGET ET TJ BT stream endstream"),
    max_size=60,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(_PDF_TEXT, min_size=1, max_size=4),
    st.booleans(),
    st.booleans(),
)
def test_minipdf_roundtrip_any_text_pages(pages, compress, xref_stream):
    """Any page text round-trips — in BOTH writer modes (classic xref
    table and the PDF 1.5 ObjStm + xref-stream shape): latin-1 as
    literal strings, the rest as UTF-16BE hex shows; operator-lookalike
    words (ET/TJ/stream) inside text must never confuse the
    extractor."""
    from medical_and_charity_document_extraction_system_spark.functions.minipdf import (
        build_pdf,
        extract_text_pages,
    )

    # build_pdf emits one Tj per '\n'-separated line; '\r' inside a
    # line survives via the \r escape
    pdf = build_pdf(pages, compress=compress, xref_stream=xref_stream)
    assert extract_text_pages(pdf) == pages
    assert pdf == build_pdf(pages, compress=compress, xref_stream=xref_stream)


# ------------------------------------------------- media codec roundtrips
@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 24), st.integers(1, 24),
    st.sampled_from([1, 2, 3, 4]), st.integers(0, 2**32 - 1),
)
def test_png_roundtrip_any_array(h, w, ch, seed):
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions.png import (
        decode_png, encode_png,
    )

    rng = np.random.RandomState(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.randint(0, 256, shape, dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == img.shape and (out == img).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 4), st.integers(2, 16), st.integers(2, 20),
       st.integers(0, 2**32 - 1))
def test_gif_roundtrip_any_paletted_frames(n, h, w, seed):
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions.gif import (
        decode_gif, encode_gif,
    )

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
    frames = [pal[rng.randint(0, 8, (h, w))] for _ in range(n)]
    out = decode_gif(encode_gif(frames))
    assert len(out) == n
    for a, b in zip(frames, out):
        assert (a == b).all()


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
def test_jpeg_decode_total_on_own_encoder(h, w, seed):
    """JPEG is lossy, so the property is totality + determinism +
    bounded error on smooth content, not bit identity."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions.jpeg import (
        decode_jpeg, encode_jpeg,
    )

    rng = np.random.RandomState(seed)
    base = rng.randint(60, 196)
    img = np.full((h, w), base, np.uint8)  # flat: DC-dominated
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == (h, w)
    assert np.abs(out.astype(int) - base).max() <= 2
    assert (decode_jpeg(encode_jpeg(img, quality=95)) == out).all()


# ------------------------------------------------ text-op invariants
_URLISH = st.builds(
    lambda scheme, host, port, path, params, frag: (
        scheme + host + port + path
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    st.sampled_from(["http://", "https://", "HTTP://", "HTTPS://"]),
    st.sampled_from(["Example.COM", "host7.example.com", "a-b.cz"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["", "/", "/a/B", "/a/b/", "/a//"]),
    st.lists(
        st.sampled_from(
            ["x=1", "utm_source=f", "q=Case", "fbclid=9", "gclid=", "page=2"]
        ),
        max_size=3,
    ),
    st.sampled_from(["", "#frag", "#a?b"]),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_URLISH, min_size=1, max_size=12, unique=True))
def test_canonical_url_idempotent(spark, urls):
    """canonical(canonical(u)) == canonical(u): the canonical form is
    a fixpoint — the property that makes dedup keys stable across
    repeated normalization passes."""
    from pyspark.sql import functions as F

    from medical_and_charity_document_extraction_system_spark.functions.urlnorm import (
        canonical_url,
    )

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c"))
    twice = once.select(canonical_url(F.col("c")).alias("c2"))
    a = [r.c for r in once.collect()]
    b = [r.c2 for r in twice.collect()]
    assert a == b


@settings(max_examples=60, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E)
        | st.sampled_from("\n$,./-@"),
        max_size=120,
    )
)
def test_redaction_idempotent(raw):
    """redact(redact(x)) == redact(x): replacement tokens never
    re-trigger any rule, so a twice-cleaned corpus equals a
    once-cleaned one."""
    from medical_and_charity_document_extraction_system_spark.functions.redact import (
        redact_python,
    )

    once = redact_python(raw)
    assert redact_python(once) == once


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 500), st.integers(2, 64), st.integers(0, 32))
def test_chunk_window_arithmetic_covers_every_token(n, chunk_size, overlap):
    """Pure mirror of the chunking arithmetic: the windows cover every
    token index, overlap exactly as configured, and the final chunk is
    never empty."""
    if overlap >= chunk_size:
        return
    step = chunk_size - overlap
    k = 1 if n <= chunk_size else (n - chunk_size + step - 1) // step + 1
    covered = set()
    for i in range(k):
        start = i * step
        end = min(start + chunk_size, n)
        assert end > start  # never an empty chunk
        covered.update(range(start, end))
    assert covered == set(range(n))
