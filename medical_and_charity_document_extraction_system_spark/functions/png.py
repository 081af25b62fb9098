"""Pure-Python PNG codec — stdlib ``zlib`` + numpy, no PIL/cv2.

PNG is the first real-corpus image format a Common-Crawl-style
pipeline meets, and this container has no image libraries; this codec
closes that gap with public-spec code only (ISO/IEC 15948 / RFC 2083).
The reference loads any cv2-readable format
(/root/reference/backend/app/utils/file_utils.py:129-173); here PNG is
decoded natively, like the other containers functions/imageio.py
sniffs.

Decoder coverage: color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA); bit depths 1/2/4/8/16 where the spec allows
them; all five scanline filters; Adam7 interlace; per-chunk CRC
verification. Gray samples below 8 bits are scaled to the full uint8
range (val * 255 / (2^d - 1), exact for the spec depths); 16-bit
samples come back as uint16. Ancillary chunks (tRNS, gAMA, ...) are
skipped — transparency beyond the alpha channel is out of scope for an
OCR pipeline.

Encoder: uint8 gray / gray+alpha / RGB / RGBA, 8-bit, filter 0,
deterministic (fixed zlib level, no timestamps) — same bytes in, same
bytes out, which the golden-fixture tests rely on.

Performance note: filters 0/1/2 unfilter fully vectorized (per-lane
cumsum for Sub); Average/Paeth rows need the per-byte left-neighbor
recurrence the spec defines and fall back to a per-row Python loop.
Our own writer emits filter 0, so the hot synthetic-corpus path never
touches the slow branch; foreign Paeth-heavy files decode correctly
but slower.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_ALLOWED_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 passes: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


class PngError(ValueError):
    pass


# ------------------------------------------------------------------ read
def _chunks(data: bytes, check_crc: bool):
    pos = len(PNG_MAGIC)
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated chunk body")
        if check_crc:
            (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                raise PngError(f"CRC mismatch in {ctype!r} chunk")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise PngError("missing IEND chunk")


def _unfilter(raw: bytes, height: int, rowbytes: int, bpp: int) -> np.ndarray:
    """Filtered scanline stream -> (height, rowbytes) recon bytes."""
    stride = rowbytes + 1
    if len(raw) < height * stride:
        raise PngError("truncated image data")
    buf = np.frombuffer(raw[: height * stride], dtype=np.uint8).reshape(
        height, stride
    )
    filters = buf[:, 0]
    rows = buf[:, 1:]
    recon = np.zeros((height, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for y in range(height):
        ft = int(filters[y])
        row = rows[y]
        if ft == 0:
            cur = row.copy()
        elif ft == 1:  # Sub — per-lane cumsum (mod 256 distributes over +)
            cur = row.copy()
            for lane in range(bpp):
                cur[lane::bpp] = np.cumsum(cur[lane::bpp], dtype=np.uint64) & 0xFF
        elif ft == 2:  # Up
            cur = row + prev  # uint8 wraparound is the spec's mod 256
        elif ft == 3:  # Average — left-neighbor recurrence, per byte
            cur = np.empty(rowbytes, dtype=np.uint8)
            r = row.astype(np.int32)
            p = prev.astype(np.int32)
            c = cur  # alias
            for i in range(rowbytes):
                left = int(c[i - bpp]) if i >= bpp else 0
                c[i] = (r[i] + ((left + p[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            cur = np.empty(rowbytes, dtype=np.uint8)
            r = row.astype(np.int32)
            p = prev.astype(np.int32)
            c = cur
            for i in range(rowbytes):
                a = int(c[i - bpp]) if i >= bpp else 0
                b = int(p[i])
                cc = int(p[i - bpp]) if i >= bpp else 0
                pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                c[i] = (r[i] + pred) & 0xFF
        else:
            raise PngError(f"bad filter type {ft}")
        recon[y] = cur
        prev = cur
    return recon


def _rows_to_samples(
    recon: np.ndarray, width: int, channels: int, depth: int
) -> np.ndarray:
    """(h, rowbytes) recon bytes -> (h, width*channels) samples
    (uint8 for depth<=8 — sub-byte depths unpacked, NOT yet scaled —
    uint16 for depth 16)."""
    h = recon.shape[0]
    n = width * channels
    if depth == 8:
        return recon[:, :n]
    if depth == 16:
        return recon[:, : n * 2].reshape(h, n, 2).astype(np.uint16) @ np.array(
            [256, 1], dtype=np.uint16
        )
    # sub-byte: big-endian packing within each byte
    per_byte = 8 // depth
    shifts = np.arange(per_byte - 1, -1, -1, dtype=np.uint8) * depth
    mask = (1 << depth) - 1
    expanded = (recon[:, :, None] >> shifts[None, None, :]) & mask
    return expanded.reshape(h, -1)[:, :n]


def _decode_png_impl(data: bytes, check_crc: bool = True) -> np.ndarray:
    """PNG bytes -> ndarray: (H,W) gray, (H,W,2) gray+alpha, (H,W,3)
    RGB (incl. palette), (H,W,4) RGBA; uint8, or uint16 for 16-bit."""
    data = bytes(data)
    if not data.startswith(PNG_MAGIC):
        raise PngError("not a PNG payload")
    ihdr = None
    plte = None
    idat_parts = []
    for ctype, body in _chunks(data, check_crc):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat_parts.append(body)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise PngError("missing IHDR")
    width, height, depth, ctype_n, comp, filt, interlace = ihdr
    if width == 0 or height == 0:
        raise PngError("zero-dimension image")
    if comp != 0 or filt != 0:
        raise PngError("unknown compression/filter method")
    if ctype_n not in _CHANNELS or depth not in _ALLOWED_DEPTHS[ctype_n]:
        raise PngError(f"bad color-type/depth combination ({ctype_n}, {depth})")
    if interlace not in (0, 1):
        raise PngError(f"unknown interlace method {interlace}")
    channels = _CHANNELS[ctype_n]
    raw = zlib.decompress(b"".join(idat_parts))
    dtype = np.uint16 if depth == 16 else np.uint8
    bpp = max(1, channels * depth // 8)

    def rowbytes(w: int) -> int:
        return (w * channels * depth + 7) // 8

    if interlace == 0:
        samples = _rows_to_samples(
            _unfilter(raw, height, rowbytes(width), bpp), width, channels, depth
        )
        img = samples.reshape(height, width, channels).astype(dtype)
    else:  # Adam7: each pass is its own filtered sub-image
        img = np.zeros((height, width, channels), dtype=dtype)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            nbytes = ph * (rowbytes(pw) + 1)
            sub = _rows_to_samples(
                _unfilter(raw[pos : pos + nbytes], ph, rowbytes(pw), bpp),
                pw,
                channels,
                depth,
            ).reshape(ph, pw, channels)
            img[y0::dy, x0::dx] = sub
            pos += nbytes

    if ctype_n == 3:
        if plte is None:
            raise PngError("palette image without PLTE")
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise PngError("palette index out of range")
        return plte[idx]
    if depth < 8:  # gray: scale to full uint8 range (exact for 1/2/4)
        img = (img.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if channels == 1:
        return img[:, :, 0]
    return img


# ----------------------------------------------------------------- write
def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(image: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8 ndarray -> PNG bytes. (H,W) gray, (H,W,2) gray+alpha,
    (H,W,3) RGB, (H,W,4) RGBA; filter 0; deterministic."""
    img = np.ascontiguousarray(np.asarray(image, dtype=np.uint8))
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, 2, 3, 4):
        raise PngError(f"unsupported image shape {image.shape}")
    h, w, ch = img.shape
    ctype_n = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_n, 0, 0, 0)
    rows = img.reshape(h, w * ch)
    scan = np.zeros((h, w * ch + 1), dtype=np.uint8)
    scan[:, 1:] = rows
    idat = zlib.compress(scan.tobytes(), compress_level)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def to_gray_u8(img: np.ndarray) -> np.ndarray:
    """Any decode_png output -> (H,W) uint8 gray: 16-bit takes the high
    byte; alpha is dropped; color uses the integer ITU-R 601 luma
    ((299R + 587G + 114B + 500) // 1000) — all-integer, deterministic."""
    if img.dtype == np.uint16:
        img = (img >> 8).astype(np.uint8)
    if img.ndim == 2:
        return img
    if img.shape[2] == 2:  # gray + alpha
        return img[:, :, 0]
    rgb = img[:, :, :3].astype(np.uint32)
    return (
        (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2] + 500) // 1000
    ).astype(np.uint8)


def decode_png(data: bytes, check_crc: bool = True) -> np.ndarray:
    """See ``_decode_png_impl``. Malformed input of ANY shape raises
    PngError: low-level struct/index/zlib failures from truncated or
    spliced payloads are re-raised typed, so callers' degrade paths
    (except PngError/ValueError) always catch them."""
    try:
        return _decode_png_impl(data, check_crc)
    except (struct.error, zlib.error, IndexError) as exc:
        raise PngError(f"malformed payload: {exc}") from None
