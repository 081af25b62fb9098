"""Job configuration.

The reference drives behavior from a pydantic ``Settings`` object
(/root/reference/backend/app/config/settings.py:8-140). We keep the
same knobs that matter to the data path (preprocessing toggles at
settings.py:47-51, default engine at :36, scanned threshold at
pdf_service.py:249) as a plain frozen dataclass plus ``spark.conf``
for the physical knobs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    # --- HTML boilerplate stripping (functions/html_extract.py) ---
    html_method: str = "auto"          # auto|density|plain
    min_block_chars: int = 12          # drop blocks shorter than this
    max_link_density: float = 0.35     # drop blocks with more link text

    # --- scanned-vs-text predicate (reference pdf_service.py:231-259) ---
    scanned_sample_pages: int = 3      # sample first <=3 pages (:237)
    scanned_char_threshold: float = 50.0  # avg chars/page (:249)

    # --- preprocessing toggles (reference settings.py:47-51) ---
    enable_enhance: bool = True
    enable_denoise: bool = True
    enable_deskew: bool = True
    enable_binarize: bool = True

    # --- OCR engine registry (reference engine_factory.py:15-84) ---
    ocr_engine: str = "stub"           # stub|easyocr|paddleocr (tesseract blocked)
    ocr_language: str = "en"

    # --- physical plan (north_rule obligations) ---
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
