"""Job configuration.

The reference drives behavior from a pydantic ``Settings`` object
(backend/app/config/settings.py:8-140). We keep only the knob a
caller sets — the OCR engine, a ``job.py`` flag — and the Arrow batch
size, as a plain frozen dataclass plus ``spark.conf`` for the physical
knobs. The data-path constants the reference also exposes (block-length
and link-density cutoffs, the scanned-page sample and threshold at
pdf_service.py:249, the preprocessing toggles at settings.py:47-51, the
OCR language) are the defaults of the functions that use them
(functions/html_extract, operators/pdf, functions/normalize,
operators/engines); the HTML extractor picks density or plain per page
from the page's own link text (``main_text``'s ``auto``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    ocr_engine: str = "stub"           # stub|easyocr|paddleocr (tesseract blocked)
    arrow_max_records: int = 256       # rows/Arrow batch (rows carry big binaries)


DEFAULT_CONFIG = ExtractionConfig()


def spark_conf_overrides(cfg: ExtractionConfig = DEFAULT_CONFIG) -> dict[str, str]:
    """Session-level knobs every job should set (AQE, Arrow batching)."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(cfg.arrow_max_records),
        "spark.sql.session.timeZone": "UTC",
        "spark.python.worker.reuse": "true",
    }
