"""OCR engine registry with per-worker caching.

Re-expresses the reference's engine factory + cache:

- registry & default:  /root/reference/backend/app/core/ocr_engines/
  engine_factory.py:15-84 (registry :18-22, default :33-34)
- tesseract explicitly blocked with an error: engine_factory.py:43-47
  (the engine is broken/dead in the reference — SURVEY.md section 2.7)
- per-process engine cache keyed ``{engine}_{language}``:
  ocr_service.py:170-186 — here a module-level dict, so each Spark
  Python worker initializes an engine once and reuses it across Arrow
  batches (the canonical mapInArrow heavy-state pattern; relies on
  ``spark.python.worker.reuse=true``).

Real OCR models (easyocr/paddleocr) are not installable in this
environment and are nondeterministic across versions; the byte-identity
contract is carried by ``StubOCREngine``, which is registered behind
the same ``BaseExtractor`` contract the real engines would implement
(reference base_engine.py:11-69).
"""

from __future__ import annotations

import re
from typing import Protocol

_WORD_RE = re.compile(r"\S+")


class BaseExtractor(Protocol):
    """Our analog of the reference's BaseOCREngine ABC
    (base_engine.py:11-69): initialize once, then per-page process."""

    engine_name: str

    def process_page(self, page_text: str, language: str) -> dict: ...


# X3 — language-code mapping (SURVEY.md §2.6): tesseract-style codes ->
# engine codes, with `+`-joined multi-language strings split and mapped
# individually. Reference tables: easyocr 31 langs
# (easyocr_engine.py:147-186), paddle 13 (paddle_engine.py:171-192);
# the stub accepts everything, so one shared map covers the contract.
LANGUAGE_MAP = {
    "eng": "en", "hin": "hi", "deu": "de", "ger": "de", "fra": "fr",
    "fre": "fr", "spa": "es", "ita": "it", "por": "pt", "nld": "nl",
    "dut": "nl", "pol": "pl", "rus": "ru", "ukr": "uk", "tur": "tr",
    "ara": "ar", "jpn": "ja", "kor": "ko", "chi_sim": "ch_sim",
    "chi_tra": "ch_tra", "tha": "th", "vie": "vi", "ben": "bn",
    "tam": "ta", "tel": "te", "mar": "mr", "urd": "ur", "swe": "sv",
    "dan": "da", "nor": "no", "fin": "fi", "ces": "cs", "cze": "cs",
}


def map_language(code: str | None, default: str = "en") -> str:
    """tesseract-style -> engine code; '+'-joined multi-language input
    maps each part (easyocr_engine.py:178-186 parity). Unknown codes
    pass through lowercased (already engine-style)."""
    if not code:
        return default
    parts = [p for p in str(code).strip().lower().split("+") if p]
    if not parts:
        return default
    mapped = [LANGUAGE_MAP.get(p, p) for p in parts]
    return "+".join(dict.fromkeys(mapped))  # dedupe, keep order


class StubOCREngine:
    """Deterministic stand-in OCR: returns the page payload verbatim
    with a content-derived confidence (so reruns are byte-identical —
    the property evidenced by the reference's 4 identical
    hospitalbill_*.json fixtures)."""

    engine_name = "stub"

    def __init__(self, language: str = "en") -> None:
        self.language = language

    def process_page(self, page_text: str, language: str | None = None) -> dict:
        conf = float(80 + len(page_text) % 20)
        # word records with char offsets standing in for the pixel
        # bbox (reference easyocr_engine.py:79-91; F3 word expansion)
        words = [
            {
                "text": m.group(0),
                "confidence": conf,
                "start": m.start(),
                "end": m.end(),
                "word_num": i + 1,
            }
            for i, m in enumerate(_WORD_RE.finditer(page_text))
        ]
        return {
            "text": page_text,
            "confidence": conf,
            "engine": self.engine_name,
            "language": language or self.language,
            "words": words,
        }


class _UnavailableEngine:
    """Real engines exist in the registry (name parity with
    engine_factory.py:18-22) but cannot initialize here."""

    def __init__(self, name: str) -> None:
        self.engine_name = name

    def process_page(self, page_text: str, language: str | None = None) -> dict:
        raise NotImplementedError(
            f"OCR engine {self.engine_name!r} is not available in this "
            "environment; use 'stub' or install the engine package."
        )


class EasyOCRAdapter:
    """Wraps ``easyocr.Reader`` behind the BaseExtractor contract
    (reference easyocr_engine.py:56-137). One Reader per Python worker
    via the engine cache (model load is the expensive init the cache
    exists for). Accepts image bytes — binary netpbm (decoded here,
    the in-repo image carrier) or any codec easyocr itself decodes —
    and maps easyocr's (bbox, text, confidence) triples into the word
    records the rollup consumes (easyocr_engine.py:79-91), in reading
    order (top-to-bottom, then left-to-right), confidences scaled to
    0-100 like the reference's percentage convention."""

    engine_name = "easyocr"

    def __init__(self, language: str = "en") -> None:
        import easyocr

        self.language = language
        langs = [p for p in language.split("+") if p] or ["en"]
        self._reader = easyocr.Reader(langs, gpu=False, verbose=False)

    def process_page(self, page_payload, language: str | None = None) -> dict:
        if not isinstance(page_payload, (bytes, bytearray, memoryview)):
            raise ValueError(
                "easyocr processes image bytes; text pages take the "
                "direct-extraction route"
            )
        data = bytes(page_payload)
        if data[:2] in (b"P5", b"P6"):  # binary netpbm, decoded in-repo
            from ..functions import netpbm

            img = netpbm.decode(data)
        else:
            img = data  # png/jpeg etc. — easyocr's own decoders
        results = self._reader.readtext(img, detail=1, paragraph=False)

        def reading_order(r):
            box = r[0]
            return (min(p[1] for p in box), min(p[0] for p in box))

        words, parts, pos = [], [], 0
        confs = []
        for i, (box, txt, conf) in enumerate(sorted(results, key=reading_order), 1):
            conf100 = float(conf) * 100.0
            confs.append(conf100)
            words.append(
                {
                    "text": txt,
                    "confidence": conf100,
                    "start": pos,
                    "end": pos + len(txt),
                    "word_num": i,
                }
            )
            parts.append(txt)
            pos += len(txt) + 1  # the joining space
        text = " ".join(parts)
        return {
            "text": text,
            "confidence": sum(confs) / len(confs) if confs else 0.0,
            "engine": self.engine_name,
            "language": language or self.language,
            "words": words,
        }


class PaddleOCRAdapter:
    """Wraps ``paddleocr.PaddleOCR`` behind the BaseExtractor contract
    (reference paddle_engine.py:38-133). One model per Python worker
    via the engine cache. PaddleOCR is single-language with its own
    code table (paddle_engine.py:171-192): the map below goes from the
    repo's generic codes (post ``map_language``) to paddle codes, a
    '+'-joined string keeps only its FIRST part (reference :188-190),
    and unknown codes fall back to 'en'. Grayscale input is stacked to
    the 3-channel image paddle expects (reference :68-71). Line-level
    (bbox, (text, conf)) results map to word records with running char
    offsets, in paddle's returned order (reference keeps it,
    :92-117); word_num is 1-based like the rest of this registry
    (the reference's 0-based line index is its only deviation)."""

    engine_name = "paddleocr"

    PADDLE_LANGUAGE_MAP = {
        "en": "en", "fr": "fr", "de": "german", "ko": "korean",
        "ja": "japan", "ch_sim": "ch", "ch_tra": "chinese_cht",
        "ta": "ta", "te": "te", "ka": "ka", "ar": "arabic",
        "ru": "cyrillic", "hi": "devanagari",
    }

    def __init__(self, language: str = "en") -> None:
        from paddleocr import PaddleOCR

        self.language = language
        first = next((p for p in language.split("+") if p), "en")
        paddle_lang = self.PADDLE_LANGUAGE_MAP.get(first, "en")
        self._ocr = PaddleOCR(lang=paddle_lang, use_angle_cls=True,
                              show_log=False)

    def process_page(self, page_payload, language: str | None = None) -> dict:
        if not isinstance(page_payload, (bytes, bytearray, memoryview)):
            raise ValueError(
                "paddleocr processes image bytes; text pages take the "
                "direct-extraction route"
            )
        from ..functions import imageio

        data = bytes(page_payload)
        if imageio.sniff_format(data) is not None:
            img = imageio.decode_auto(data)[0]
        else:
            img = data  # jpeg etc. — paddle's own decoders
        import numpy as _np

        if isinstance(img, _np.ndarray) and img.ndim == 2:
            img = _np.repeat(img[:, :, None], 3, axis=2)
        results = self._ocr.ocr(img, cls=True)
        lines = results[0] if results else None
        words, parts, confs, pos = [], [], [], 0
        for i, line in enumerate(lines or [], 1):
            txt, conf = line[1][0], float(line[1][1]) * 100.0
            confs.append(conf)
            words.append(
                {
                    "text": txt,
                    "confidence": conf,
                    "start": pos,
                    "end": pos + len(txt),
                    "word_num": i,
                }
            )
            parts.append(txt)
            pos += len(txt) + 1  # the joining space
        return {
            "text": " ".join(parts),
            "confidence": sum(confs) / len(confs) if confs else 0.0,
            "engine": self.engine_name,
            "language": language or self.language,
            "words": words,
        }


def _make_easyocr(language: str):
    try:
        import easyocr  # noqa: F401
    except ImportError:
        return _UnavailableEngine("easyocr")
    return EasyOCRAdapter(language)


def _make_paddle(language: str):
    try:
        import paddleocr  # noqa: F401
    except ImportError:
        return _UnavailableEngine("paddleocr")
    return PaddleOCRAdapter(language)


_REGISTRY = {
    "stub": lambda lang: StubOCREngine(lang),
    "easyocr": _make_easyocr,
    "paddle": _make_paddle,
    "paddleocr": _make_paddle,
}

DEFAULT_ENGINE = "stub"


def available_engines() -> list[str]:
    """Reference: OCREngineFactory.get_available_engines
    (engine_factory.py:86-110)."""
    return sorted(_REGISTRY)


def create_engine(name: str | None = None, language: str = "en") -> BaseExtractor:
    from ..functions.errors import OcrEngineNotFoundError

    name = (name or DEFAULT_ENGINE).lower()
    if name == "tesseract":
        # parity with the reference's explicit block (engine_factory.py:43-47)
        raise OcrEngineNotFoundError(
            "tesseract engine is disabled (broken in the reference; "
            "registry slot kept for parity)"
        )
    try:
        factory = _REGISTRY[name]
    except KeyError:
        raise OcrEngineNotFoundError(f"unknown OCR engine: {name!r}") from None
    return factory(language)


# per-Python-worker cache, keyed like the reference's `{engine}_{language}`
_ENGINE_CACHE: dict[str, BaseExtractor] = {}


def get_engine(name: str | None = None, language: str = "en") -> BaseExtractor:
    language = map_language(language)
    key = f"{name or DEFAULT_ENGINE}_{language}"
    eng = _ENGINE_CACHE.get(key)
    if eng is None:
        eng = create_engine(name, language)
        _ENGINE_CACHE[key] = eng
    return eng
