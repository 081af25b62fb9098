"""Regex/rule field-span extraction.

The structured-span analog of the reference's word records
(/root/reference/backend/app/core/ocr_engines/easyocr_engine.py:79-91,
golden example storage/json_tasks/task_5.json): each span is
``(field, value, start, end, confidence)`` with 0-based character
offsets (``end`` exclusive) into the document's extracted full text,
standing in for the pixel bbox.

Fields are the ones visible in the reference's golden hospital-bill
fixture (patient name, physician, invoice number, dates, amounts) plus
the charity/medical additions from FIXTURES.md section 3.

Pure Python; called per document inside Python stages. Patterns are
applied in registry order, matches merged and sorted by (start, field).
"""

from __future__ import annotations

import re

# field -> compiled pattern; group(1) is the span value
FIELD_PATTERNS: dict[str, re.Pattern[str]] = {
    "patient_name": re.compile(r"Patient:\s+([A-Z][a-z]+ [A-Z][a-z]+)"),
    "donor_name": re.compile(r"Donor:\s+([A-Z][a-z]+ [A-Z][a-z]+)"),
    "invoice_number": re.compile(r"Invoice\s+(\d{5})\b"),
    "date": re.compile(r"\b(\d{2}/\d{2}/\d{2})\b"),
    "amount": re.compile(r"(\$\d{1,3}(?:,\d{3})*\.\d{2})"),
    "diagnosis_code": re.compile(r"\b([A-Z]\d{2}\.\d)\b"),
}

RULE_CONFIDENCE = 100.0  # rule-based extraction is certain (cf. the
# reference's direct-text path confidence=100.0, ocr_service.py:59-68)

# ``date`` and ``diagnosis_code`` open with ``\b``, so sre has no literal
# prefix to scan for and attempts a match at every position of the
# text. Their candidates are found instead by a literal-led lookahead on
# the first separator (field -> (anchor, separator offset in a match)),
# and each candidate is confirmed with the field's own pattern.
_ANCHORS: dict[str, tuple[re.Pattern[str], int]] = {
    "date": (re.compile(r"/(?=\d\d/\d\d\b)"), 2),
    "diagnosis_code": (re.compile(r"\.(?=\d\b)"), 3),
}


def _anchored_finditer(pat: re.Pattern[str], anchor: re.Pattern[str], offset: int, text: str):
    r"""``pat.finditer(text)`` for a pattern whose every match has
    ``anchor`` at ``offset``: the same non-overlapping matches, left to
    right. ``pat.match(text, i)`` sees the real text before ``i``, so
    the leading ``\b`` tests the same boundary as in ``finditer``."""
    end = 0
    for a in anchor.finditer(text):
        i = a.start() - offset
        if i < end:  # before the text, or inside the previous match
            continue
        m = pat.match(text, i)
        if m is not None:
            end = m.end()
            yield m


def extract_spans(text: str | None) -> list[dict]:
    if not text:
        return []
    out: list[dict] = []
    for name, pat in FIELD_PATTERNS.items():
        anchor = _ANCHORS.get(name)
        matches = pat.finditer(text) if anchor is None else _anchored_finditer(pat, *anchor, text)
        for m in matches:
            out.append(
                {
                    "field": name,
                    "value": m.group(1),
                    "start": m.start(1),
                    "end": m.end(1),
                    "confidence": RULE_CONFIDENCE,
                }
            )
    out.sort(key=lambda s: (s["start"], s["field"]))
    return out
