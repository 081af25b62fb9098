"""Image preprocessing as a vectorized Spark stage.

The reference runs enhance -> denoise -> deskew -> binarize per page
image between PDF rendering and OCR
(/root/reference/backend/app/services/preprocessing_service.py:82-133),
round-tripping every step through PNG files on disk
(preprocessing_service.py:61). Here the whole 4-step chain is ONE
iterator-form Arrow row stage (stage.py) over a binary image column:
intermediates stay in memory inside the Python worker, only the final
image crosses the Arrow boundary — the reference's biggest I/O cost is
gone by construction.

Images travel as binary netpbm (P5/P6) **or PNG** — the pure-Python
codec in functions/png.py decodes real PNG payloads without PIL/cv2,
and the stage emits its output in the same container it was fed
(functions/imageio.py). JPEG stays gated behind a clear error row.

Scale notes: narrow op, zero shuffle, one Python pool; rows carry
image-sized binaries so keep Arrow batches small
(config.arrow_max_records). Per-row failures degrade to error rows
(reference ocr_service.py:154-157), never task failures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import image_ops, imageio
from ..stage import map_rows

PREPROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("image", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("skew_angle", T.DoubleType(), True),
        T.StructField("steps_applied", T.ArrayType(T.StringType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def preprocess_images(
    df: DataFrame,
    id_col: str = "media_id",
    image_col: str = "payload",
    document_type: str = "general",
) -> DataFrame:
    """(id, image-bytes) -> preprocessed image + lineage metadata.

    The Spark form of PreprocessingService.preprocess_image
    (preprocessing_service.py:31-80): the E->D->K->B chain from
    functions/image_ops.py applied per row, with ``steps_applied`` and
    ``skew_angle`` surfaced as real columns (the reference keeps them
    in a metadata dict)."""

    def preprocess(mid: int, payload: bytes | None) -> list[dict]:
        img, fmt = imageio.decode_auto(bytes(payload))
        processed, meta = image_ops.preprocess_image_array(
            img, document_type=document_type
        )
        return [{
            "media_id": mid,
            "image": imageio.encode_as(processed, fmt),
            "height": int(processed.shape[0]),
            "width": int(processed.shape[1]),
            "skew_angle": float(meta["skew_angle"]),
            "steps_applied": list(meta["steps_applied"]),
        }]

    def failed(mid: int, payload, exc: Exception) -> list[dict]:
        return [{"media_id": mid, "steps_applied": [], "error": str(exc)[:500]}]

    images = df.select(F.col(id_col).cast("long").alias(id_col), F.col(image_col))
    return map_rows(images, PREPROCESSED_SCHEMA, preprocess, failed)
