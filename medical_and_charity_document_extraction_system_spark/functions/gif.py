"""Pure-Python GIF codec (GIF87a/89a, LZW) — stdlib + numpy.

One of the image suffixes the reference accepts, decoded natively
next to PNG/JPEG/BMP/TIFF/WebP (``functions/imageio.decode_auto``
takes the first frame of an animated file). Public-spec code only
(GIF89a specification, CompuServe 1990).

Decoder: global/local color tables, multiple image descriptors
(animation frames), graphic-control extensions (transparency index,
disposal methods 0/1/2), interlaced images, full GIF-LZW with code
width growth and CLEAR handling. Frames are composited onto the
logical-screen canvas and returned as (H, W, 3) uint8 RGB arrays.

Encoder: one global color table built from the frames' palette
(<= 256 distinct colors — synthetic/document imagery; richer frames
should be quantized upstream), LZW-compressed, deterministic bytes,
optional multi-frame animation (disposal 1, no transparency).
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    pass


GIF_MAGIC = (b"GIF87a", b"GIF89a")


# ------------------------------------------------------------------- LZW
def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while pos < len(data) or nbits >= code_size:
        while nbits < code_size and pos < len(data):
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        if nbits < code_size:
            break
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise GifError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise GifError("LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        if len(out) >= n_pixels:
            break
    if len(out) < n_pixels:
        raise GifError("LZW stream ended before the frame filled")
    return bytes(out[:n_pixels])


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code == (1 << 12) + 1:  # table full: reset
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
    out = np.empty_like(rows)
    out[order] = rows
    return out


# ------------------------------------------------------------------ read
def _decode_gif_impl(data: bytes) -> list[np.ndarray]:
    """GIF bytes -> list of composited (H, W, 3) uint8 RGB frames."""
    data = bytes(data)
    if data[:6] not in GIF_MAGIC:
        raise GifError("not a GIF payload")
    w, h, flags, bg, _ = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 3), np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0
    prev_rect = None

    def read_subblocks(p: int) -> tuple[bytes, int]:
        chunks = []
        while True:
            if p >= len(data):
                raise GifError("truncated sub-blocks")
            n = data[p]
            p += 1
            if n == 0:
                return b"".join(chunks), p
            chunks.append(data[p : p + n])
            p += n

    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            body, pos = read_subblocks(pos + 2)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                packed, _delay = body[0], body[1:3]
                disposal = (packed >> 2) & 7
                transparent = body[3] if packed & 1 else None
            continue
        if b != 0x2C:
            raise GifError(f"unknown block {b:#x}")
        fx, fy, fw, fh, fflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
        pos += 10
        ct = gct
        if fflags & 0x80:  # local color table
            n = 2 << (fflags & 7)
            ct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise GifError("frame without a color table")
        min_code = data[pos]
        lzw, pos = read_subblocks(pos + 1)
        idx = np.frombuffer(
            _lzw_decode(lzw, min_code, fw * fh), np.uint8
        ).reshape(fh, fw)
        if fflags & 0x40:
            idx = _deinterlace(idx)
        if int(idx.max(initial=0)) >= len(ct):
            raise GifError("palette index out of range")
        region = canvas[fy : fy + fh, fx : fx + fw]
        px = ct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = px[mask]
        else:
            region[:] = px
        frames.append(canvas.copy())
        # prepare canvas for the NEXT frame per this frame's disposal
        if disposal == 2:  # restore background over this frame's rect
            # the background index addresses the GLOBAL table (spec
            # 18-19); a frame's local table must not be consulted
            bgcolor = gct[bg] if (gct is not None and bg < len(gct)) else 0
            canvas[fy : fy + fh, fx : fx + fw] = bgcolor
        prev_rect = (fx, fy, fw, fh)
        transparent = None
        disposal = 0
    if not frames:
        raise GifError("GIF has no image frames")
    return frames


# ----------------------------------------------------------------- write
def encode_gif(frames: list[np.ndarray], loop: bool = True) -> bytes:
    """(H, W, 3) uint8 frames (shared <=256-color palette) -> GIF89a
    bytes; multi-frame inputs become an animation. Frames may have
    DIFFERING sizes (real video decoders emit fixed frames; GIF's
    per-frame image descriptors carry each frame's own size): the
    logical screen is the max extent, every frame renders at (0, 0),
    and disposal 2 restores the background between frames, so each
    decoded canvas is frame pixels + background padding."""
    if not frames:
        raise GifError("no frames")
    arrs = [np.ascontiguousarray(np.asarray(f, np.uint8)) for f in frames]
    for a in arrs:
        if a.ndim != 3 or a.shape[2] != 3:
            raise GifError("frames must be RGB (H, W, 3)")
    h = max(a.shape[0] for a in arrs)
    w = max(a.shape[1] for a in arrs)
    flat = np.concatenate([a.reshape(-1, 3) for a in arrs])
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise GifError(f"{len(palette)} distinct colors; quantize to <=256 first")
    bits = max(1, int(len(palette) - 1).bit_length())
    table_n = 1 << bits
    pal = np.zeros((table_n, 3), np.uint8)
    pal[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes()
    if len(arrs) > 1 and loop:  # Netscape looping extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code = max(2, bits)
    pos = 0
    for a in arrs:
        fh, fw = a.shape[:2]
        idx = inverse[pos : pos + fh * fw].astype(np.uint8)
        pos += fh * fw
        if len(arrs) > 1:
            out += b"\x21\xf9\x04\x08\x0a\x00\x00\x00"  # GCE: disposal 2
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, fw, fh, 0)
        out.append(min_code)
        lzw = _lzw_encode(idx.tobytes(), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def decode_gif(data: bytes) -> list[np.ndarray]:
    """See ``_decode_gif_impl``. Malformed input of ANY shape raises
    GifError: low-level struct/index/zlib failures from truncated or
    spliced payloads are re-raised typed, so callers' degrade paths
    (except GifError/ValueError) always catch them."""
    try:
        return _decode_gif_impl(data)
    except (struct.error, IndexError) as exc:
        raise GifError(f"malformed payload: {exc}") from None
