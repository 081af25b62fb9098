"""Multimodal columns: media as opaque ``binary`` plus typed
metadata, with image decode/feature/resize stages as vectorized Arrow
stages.

Image decode is REAL for every suffix the reference accepts (the
pure-Python codecs in functions/: PNG, baseline JPEG, GIF, BMP, TIFF,
lossless WebP, netpbm), through the one decoder
``functions/imageio.decode_auto``; the shapes those codecs do not
cover (progressive JPEG, lossy-VP8 WebP, compressed TIFF) raise a
typed ``ValueError`` that the stages turn into error rows. Media
features use a deterministic fake embedding carrying the Spark-side
plumbing — schema, partitioning, UDF signature, Arrow batch shape —
the way the reference gates real OCR engines behind the registry while
the deterministic stub carries the tests (operators/engines.py).
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import imageio
from ..stage import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic binary payloads derived from the id column —
    the test stand-in for real WARC image/audio payloads."""
    payload = F.encode(
        F.concat(F.lit("MEDIA:"), F.col(id_col).cast("string"), F.lit(":"),
                 F.md5(F.col(id_col).cast("string"))),
        "UTF-8",
    )
    kind = F.when(F.col(id_col) % 3 == 0, "image").when(
        F.col(id_col) % 3 == 1, "audio"
    ).otherwise("video")
    return df.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.create_map(F.lit("source"), F.lit("synthetic")).alias("meta"),
    )


def render_page_image(doc_id: int, height: int = 120, width: int = 240) -> np.ndarray:
    """Deterministic synthetic page: white background, black text-line
    bars, doc-dependent skew in [-3, 3]° and sprinkled noise pixels —
    the reference's create_test_image analog
    (/root/reference/scripts/test_preprocessing.py:22-49), as a pure
    function of doc_id (no RNG) so goldens are construction-time."""
    img = np.full((height, width), 255, np.uint8)
    for y0 in range(15, height - 15, 24):
        x = 15
        while x < width - 30:
            wlen = 12 + (x * 7 + y0 + doc_id) % 24
            img[y0 : y0 + 8, x : x + wlen] = 0
            x += wlen + 8
    skew = float((doc_id % 7) - 3)
    from ..functions import image_ops

    img = image_ops.rotate_image(img, skew)
    # deterministic speckle (hash pattern, not RNG)
    yy, xx = np.meshgrid(np.arange(img.shape[0]), np.arange(img.shape[1]), indexing="ij")
    mask = ((xx * 2654435761 + yy * 40503 + doc_id * 7919) % 9973) < 30
    img[mask] = np.where(img[mask] > 127, 0, 255).astype(np.uint8)
    return img


def attach_page_images(
    df: DataFrame, id_col: str = "doc_id", fan_out: bool = True,
    codec: str = "netpbm",
) -> DataFrame:
    """(id) -> (media_id, payload=binary PGM or PNG per ``codec``) via
    an Arrow row render stage; the test/bench feeder for
    operators/preprocess.py. ``codec="png"`` feeds real PNG payloads
    through the pure-Python decoder (functions/png.py) — same pixels,
    different container, so downstream results must be identical.

    ``fan_out`` repartitions the id rows to full width first: a small
    filtered input (e.g. 200 docs from one parquet split) would
    otherwise put the whole render+preprocess chain on ONE core
    (measured 9.3s -> 0.9s on the bench). The shuffle moves only ids —
    always cheap relative to per-image work."""
    if fan_out:
        df = df.select(id_col).repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )

    def render(i: int) -> list[dict]:
        return [{"media_id": i, "payload": imageio.encode_as(render_page_image(i), codec)}]

    return map_rows(
        df.select(F.col(id_col).cast("long")), "media_id long not null, payload binary", render
    )


def resize_images(
    df: DataFrame,
    height: int,
    width: int,
    id_col: str = "media_id",
    image_col: str = "payload",
) -> DataFrame:
    """Vectorized image resize stage: binary netpbm in -> nearest-
    neighbor resample (pure numpy index arithmetic — no PIL/cv2) ->
    binary netpbm out, with the output dims as real columns. The
    standard pre-embedding normalization step of a multimodal training
    pipeline; accepts netpbm or PNG and answers in kind
    (functions/imageio.py). Undecodable payloads degrade to error
    rows."""
    schema = "media_id long not null, image binary, width int, height int, error string"

    def resize(mid: int, payload: bytes | None) -> list[dict]:
        img, fmt = imageio.decode_auto(bytes(payload))
        # nearest-neighbor grid (floor((i+0.5)*src/dst))
        ys = ((np.arange(height) + 0.5) * img.shape[0] / height).astype(int)
        xs = ((np.arange(width) + 0.5) * img.shape[1] / width).astype(int)
        resized = img[np.clip(ys, 0, img.shape[0] - 1)][:, np.clip(xs, 0, img.shape[1] - 1)]
        return [{
            "media_id": mid,
            "image": imageio.encode_as(resized, fmt),
            "height": height,
            "width": width,
        }]

    def failed(mid: int, payload, exc: Exception) -> list[dict]:
        return [{"media_id": mid, "error": str(exc)[:200]}]

    images = df.select(F.col(id_col).cast("long").alias(id_col), F.col(image_col))
    return map_rows(images, schema, resize, failed)


def deterministic_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake feature vector: blake2b hash chunks -> floats
    in [0, 1). Stands in for a real embedding model; same signature and
    batch shape."""
    h = hashlib.blake2b(payload, digest_size=dim * 4).digest()
    ints = np.frombuffer(h, dtype=np.uint32)
    return (ints.astype(np.float64) / 2**32).astype(np.float32).tolist()


def extract_media_features(df: DataFrame) -> DataFrame:
    """Arrow row feature-extraction stage over MEDIA_SCHEMA rows.
    The Arrow plumbing (iterator form, per-row numpy work, binary
    columns) is exactly what a real decoder stage uses."""

    def features(mid: int, kind: str, payload: bytes | None) -> list[dict]:
        return [{
            "media_id": mid,
            "kind": kind,
            "n_bytes": 0 if payload is None else len(payload),
            "features": None if payload is None else deterministic_features(payload),
        }]

    return map_rows(df.select("media_id", "kind", "payload"), _FEATURES_SCHEMA, features)
