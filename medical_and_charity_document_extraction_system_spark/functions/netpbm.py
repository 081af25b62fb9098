"""Minimal binary netpbm (PGM ``P5`` / PPM ``P6``) codec.

PIL/cv2 are not installed in this container, so image payloads travel
through the pipeline as binary netpbm — a real, public, trivially
parseable format — or one of the pure-Python compressed codecs
(functions/imageio.decode_auto sniffs and decodes them all); this
codec is the deterministic stand-in that keeps the Spark-side plumbing
(binary column -> ndarray -> binary column) fully real and testable.

Grayscale images round-trip as H×W uint8 arrays (P5); color as H×W×3
RGB (P6). maxval is fixed at 255.
"""

from __future__ import annotations

import numpy as np

_MAXVAL = 255


def encode(image: np.ndarray) -> bytes:
    """ndarray (H×W uint8 -> P5, H×W×3 uint8 -> P6) -> netpbm bytes."""
    img = np.ascontiguousarray(np.asarray(image, dtype=np.uint8))
    if img.ndim == 2:
        magic = b"P5"
    elif img.ndim == 3 and img.shape[2] == 3:
        magic = b"P6"
    else:
        raise ValueError(f"unsupported image shape {img.shape}")
    h, w = img.shape[:2]
    header = b"%s\n%d %d\n%d\n" % (magic, w, h, _MAXVAL)
    return header + img.tobytes()


def _read_token(data: bytes, pos: int) -> tuple[bytes, int]:
    # skip whitespace and '#' comments
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c == b"#":
            while pos < n and data[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < n and not data[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("truncated netpbm header")
    return data[start:pos], pos


def decode(data: bytes) -> np.ndarray:
    """netpbm bytes (binary P5/P6, maxval <=255) -> uint8 ndarray."""
    data = bytes(data)
    magic, pos = _read_token(data, 0)
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary netpbm payload (magic={magic!r})")
    w_tok, pos = _read_token(data, pos)
    h_tok, pos = _read_token(data, pos)
    maxval_tok, pos = _read_token(data, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(maxval_tok)
    if maxval > 255 or maxval <= 0:
        raise ValueError(f"unsupported maxval {maxval}")
    pos += 1  # exactly one whitespace byte after maxval
    channels = 1 if magic == b"P5" else 3
    count = w * h * channels
    raw = data[pos : pos + count]
    if len(raw) != count:
        raise ValueError("truncated netpbm pixel data")
    arr = np.frombuffer(raw, dtype=np.uint8)
    return arr.reshape((h, w) if channels == 1 else (h, w, 3)).copy()
