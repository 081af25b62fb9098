"""Perceptual image hashing (dHash) + hamming near-duplicate join.

The IMAGE leg of the dedup layer: text near-dup has MinHash/SimHash
(operators/dedup.py), embeddings have SemDeDup (similarity.py) — a
multimodal training pipeline also dedups raw images before feature
extraction (resized re-encodes, crops, recompressions of the same
picture). dHash (difference hash — the gradient variant of Average
Hash, as popularized by the pHash family) is the standard cheap
perceptual fingerprint: downsample to an 8x(8+1) grid, emit one bit
per horizontal neighbor pair ("is the left cell brighter?"), giving a
64-bit signature whose hamming distance tracks visual similarity.

Determinism discipline: the downsample is an exact integer BLOCK SUM
(cell boundaries ``floor(i*H/8)``), and each bit compares neighboring
cell MEANS by integer cross-multiplication ``sum_l * area_r > sum_r *
area_l`` — no float anywhere, so the hash is a pure function of the
pixels on every platform (numpy int64 both in the executors and in
the driver-side oracle builder — the image_preprocess golden-fixture
pattern; pytest carries the independent planted-image oracle).

The near-dup join is the SimHash band trick (pigeonhole): hamming
distance <= t means at least one of t+1 disjoint bit-bands is
untouched, so candidates come from an equi-join on (band_index,
band_value) and only candidates pay the exact ``bit_count(a ^ b)``
check — never an all-pairs comparison. Scale: t+1 posting rows per
image, AQE-splittable band join; a degenerate band value (e.g. the
all-zero band of blank images) is the documented hot-key hazard —
same as LSH, salt or pre-bucket by a second band when a corpus has
mass-produced blanks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import imageio
from ..stage import map_rows

GRID_H = 8
GRID_W = 8  # bits per row; sampling grid is GRID_H x (GRID_W + 1)
_BANDS = ((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))  # offset, width


def dhash64_np(img: np.ndarray) -> int:
    """64-bit dHash of a 2-D uint8 grayscale array, signed int64
    range. Exact integer arithmetic only (block sums + cross-
    multiplied mean comparison)."""
    h, w = img.shape
    a = img.astype(np.int64)
    ys = [h * i // GRID_H for i in range(GRID_H + 1)]
    xs = [w * j // (GRID_W + 1) for j in range(GRID_W + 2)]
    sums = np.empty((GRID_H, GRID_W + 1), np.int64)
    areas = np.empty((GRID_H, GRID_W + 1), np.int64)
    for i in range(GRID_H):
        for j in range(GRID_W + 1):
            blk = a[ys[i] : ys[i + 1], xs[j] : xs[j + 1]]
            sums[i, j] = blk.sum()
            areas[i, j] = blk.size
    bits = (sums[:, :-1] * areas[:, 1:]) > (sums[:, 1:] * areas[:, :-1])
    v = 0
    for b in bits.flatten():
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def image_dhash(
    df: DataFrame, id_col: str = "media_id", image_col: str = "payload"
) -> DataFrame:
    """(media_id, dhash, error) per image row: decode (netpbm/PNG/
    JPEG/... via functions/imageio sniffing) then the integer dHash.
    Undecodable payloads degrade to error rows (dhash NULL) — the
    resize_images convention."""
    def dhash(mid: int, payload: bytes | None) -> list[dict]:
        img, _ = imageio.decode_auto(bytes(payload))
        return [{"media_id": mid, "dhash": dhash64_np(img)}]

    def failed(mid: int, payload, exc: Exception) -> list[dict]:
        return [{"media_id": mid, "error": str(exc)[:200]}]

    images = df.select(F.col(id_col).cast("long").alias(id_col), F.col(image_col))
    return map_rows(images, "media_id long not null, dhash long, error string", dhash, failed)


def dhash_near_dup(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """All pairs (id_a < id_b) with hamming(dhash_a, dhash_b) <=
    ``max_hamming``. Lossless banded candidates (requires
    ``max_hamming <= 4`` for the fixed 5-band split), exact bit_count
    verify. Returns (id_a, id_b, hamming)."""
    if not 1 <= max_hamming <= len(_BANDS) - 1:
        raise ValueError(f"max_hamming must be in 1..{len(_BANDS) - 1}")
    h = (
        hashes.where(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .cache()  # feeds both band-join sides and both verify sides
    )
    bands = h.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.expr(
                            f"shiftrightunsigned(h, {off}) & {(1 << width) - 1}"
                        ).alias("v"),
                    )
                    for i, (off, width) in enumerate(_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("id", "h", F.col("bv.b").alias("b"), F.col("bv.v").alias("v"))
    a = bands.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"), "b", "v")
    b = bands.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"), "b", "v")
    return (
        a.join(b, ["b", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(h_a ^ h_b)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
