"""Equivalence of the fast extraction paths with their simple forms.

- ``extract_blocks_fast`` (markup-only scanner: text is the slice
  between two markup tokens) against ``_token_run_blocks``, the earlier
  scanner whose regex also matched each text run as a token.
- ``extract_spans`` (``date`` and ``diagnosis_code`` found through an
  anchored lookahead) against one ``finditer`` per pattern.

Both references are kept here only as test oracles.
"""

from __future__ import annotations

import html as _h
import random
import re

import pytest

from medical_and_charity_document_extraction_system_spark.functions.fields import (
    FIELD_PATTERNS,
    RULE_CONFIDENCE,
    extract_spans,
)
from medical_and_charity_document_extraction_system_spark.functions.html_extract import (
    BLOCK_TAGS,
    DROP_TAGS,
    VOID_TAGS,
    Block,
    extract_blocks_fast,
)
from medical_and_charity_document_extraction_system_spark.sources.pages import render_html

# ------------------------------------------------ token-run scanner oracle
_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>?"
    r"|<\?[^>]*>?"
    r"|<(/?)([a-zA-Z][a-zA-Z0-9:_-]*)"
    r"(?:\"[^\"]*\"|'[^']*'|[^>\"'])*>?"
    r"|[^<]+",  # text run
    re.S,
)
_RAWTEXT_END = {
    "script": re.compile(r"</script[\s>]", re.I),
    "style": re.compile(r"</style[\s>]", re.I),
}


def _token_run_blocks(html_str: str) -> list[Block]:
    """Every token, text runs included, comes from one ``finditer``; a
    stray '<' that starts no token is skipped by it."""
    blocks: list[Block] = []
    chunks: list[str] = []
    link_chars = drop_depth = link_depth = skip_until = 0

    def flush() -> None:
        nonlocal link_chars
        text = " ".join("".join(chunks).split())
        if text:
            blocks.append(Block(text, len(text), min(link_chars, len(text))))
        chunks.clear()
        link_chars = 0

    for m in _TOKEN_RE.finditer(html_str):
        if m.start() < skip_until:
            continue
        if m.lastindex is None:
            tok = m.group(0)
            if tok[0] != "<" and drop_depth == 0:
                data = _h.unescape(tok)
                chunks.append(data)
                if link_depth:
                    link_chars += len("".join(data.split()))
            continue
        tag = m.group(2).lower()
        closing = m.group(1) == "/"
        if tag in _RAWTEXT_END and not closing:
            end = _RAWTEXT_END[tag].search(html_str, m.end())
            if end is None:
                break
            gt = html_str.find(">", end.start())
            skip_until = gt + 1 if gt != -1 else len(html_str)
        elif tag in DROP_TAGS:
            if tag not in VOID_TAGS:
                drop_depth = max(0, drop_depth + (-1 if closing else 1))
        elif tag == "a":
            link_depth = max(0, link_depth + (-1 if closing else 1))
        elif tag in BLOCK_TAGS:
            flush()
    flush()
    return blocks


# the soup vocabulary: every recovery path of the scanner
_SOUP = [
    "<", "< ", "<1", "</ ", "<<", "x<", "<p>", "</p>", "<P>", "<div class=x>", "</div>",
    "<li>", "<br/>", "<a href='/x'>", "<a title='a>b'>", '<a title="</a>">', "</a>",
    "<b>", "</b>", "<span", "<nav>", "</nav>", "<head>", "</head>", "<img src=x>",
    "<!--", "-->", "<!-- c -->", "<![CDATA[", "]]>", "<!doctype html>", "<!x", "<?pi?>", "<?x",
    "<script>", "</script>", "</script ", "<SCRIPT>", "</SCRIPT>", "<style>", "</style >",
    "&l<b>t;", "&lt", "&lt;", "&amp;", "&#65;", "&", ";", '"', "'", ">", "=",
    " ", "\n", "\t", "x", "word", "é", "中",
]


def _soups(seed: int, n: int):
    rng = random.Random(seed)
    for _ in range(n):
        yield "".join(rng.choice(_SOUP) for _ in range(rng.randint(0, 14)))


def test_scanner_equals_token_runs_on_rendered_pages():
    for i in range(500):
        h = render_html(i, f"synthetic body text {i} & more " * 20).decode()
        assert extract_blocks_fast(h) == _token_run_blocks(h), i


@pytest.mark.parametrize(
    "html",
    [
        "<script>a<!-- </script> -->b</p>",  # the comment hides no close tag
        "<script>a</script x=\"y>z<1w",  # close tag with an unclosed quote
        "<script>never closed<p>lost",
        "<style>a</style",  # rawtext close with no '>'
        "a < b &l<b>t; &lt <c",
        "&l<1t; x",  # entity split by a stray '<' stays literal
        "<a title='>'>link</a> text",
        "<!-- open comment <p>hidden",
        "<![CDATA[ open <p>hidden",
        "",
        "<",
        "plain & text",
    ],
)
def test_scanner_equals_token_runs_on_named_cases(html):
    assert extract_blocks_fast(html) == _token_run_blocks(html)


def test_scanner_equals_token_runs_on_seeded_soup():
    mismatches = [s for s in _soups(4, 100_000) if extract_blocks_fast(s) != _token_run_blocks(s)]
    assert mismatches == []


# ---------------------------------------------------------- spans oracle
def _finditer_spans(text: str | None) -> list[dict]:
    if not text:
        return []
    out = [
        {
            "field": name,
            "value": m.group(1),
            "start": m.start(1),
            "end": m.end(1),
            "confidence": RULE_CONFIDENCE,
        }
        for name, pat in FIELD_PATTERNS.items()
        for m in pat.finditer(text)
    ]
    out.sort(key=lambda s: (s["start"], s["field"]))
    return out


@pytest.mark.parametrize(
    "text",
    [
        "x12/34/56/78/90",  # a date candidate inside a longer run
        "12/34/56/78/90",
        "/12/34/56", "1/12/34/56", "12/34/56", "/1/2", "//12/34",
        ".0 A12.3", "A.1", "A1.2", "A12.3", ".A12.3",
        "é12/34/56 and é A12.3 and éA12.3",
        "A12.3.4", "A12.3.4.5 B99.9", "Z00.0Z00.0",
        "on 01/02/03, 04/05/06; code J45.9 and 07/08/0910",
        "Patient: Ana Lima Invoice 12345 $1,234.56 Donor: Bo Ng",
        "١٢/٣٤/٥٦ A١٢.٣",  # non-ASCII digits match \d in str patterns
        None,
        "",
    ],
)
def test_spans_equal_finditer_on_named_cases(text):
    assert extract_spans(text) == _finditer_spans(text)


_SPAN_ALPHABET = [
    "/", ".", "1", "2", "34", "567", "0", "A", "Z", "J", "a", "é", "_", " ", "\n",
    "$", ",", ":", "Patient: ", "Donor: ", "Invoice ", "Ana Lima", "12/34/56", "A12.3",
]


def test_spans_equal_finditer_on_seeded_fuzz():
    rng = random.Random(11)
    mismatches = []
    for _ in range(100_000):
        text = "".join(rng.choice(_SPAN_ALPHABET) for _ in range(rng.randint(0, 16)))
        if extract_spans(text) != _finditer_spans(text):
            mismatches.append(text)
    assert mismatches == []
