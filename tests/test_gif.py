"""Pure-Python GIF codec tests (functions/gif.py)."""

import struct

import numpy as np
import pytest

from medical_and_charity_document_extraction_system_spark.functions.gif import (
    GifError,
    _deinterlace,
    decode_gif,
    encode_gif,
)


def _frames(n=4, h=20, w=30, seed=0):
    rng = np.random.RandomState(seed)
    base = (rng.randint(0, 6, (h, w)) * 40).astype(np.uint8)
    return [np.stack([np.roll(base, i, axis=1)] * 3, axis=2) for i in range(n)]


def test_multiframe_roundtrip_lossless_and_deterministic():
    frames = _frames()
    data = encode_gif(frames)
    assert data[:6] == b"GIF89a"
    out = decode_gif(data)
    assert len(out) == 4
    for a, b in zip(frames, out):
        assert (a == b).all()
    assert encode_gif(frames) == data


def test_single_frame_and_large_palette_rejected():
    one = decode_gif(encode_gif(_frames(1)))
    assert len(one) == 1
    rng = np.random.RandomState(2)
    noisy = rng.randint(0, 256, (30, 30, 3), dtype=np.uint8)
    with pytest.raises(GifError, match="quantize"):
        encode_gif([noisy])


def test_transparency_composites_over_previous_frame():
    """Hand-build a 2-frame GIF where frame 2 is transparent except
    one pixel: the composite must keep frame 1's pixels underneath."""
    f1 = _frames(1, 4, 4)[0]
    data = bytearray(encode_gif([f1]))
    assert data[-1] == 0x3B
    del data[-1]
    # palette size from header
    bits = (data[10] & 7) + 1
    table_n = 1 << bits
    # add a frame: GCE with transparency index 0, then a 4x4 image of
    # index 0 except top-left = 1
    data += b"\x21\xf9\x04\x05\x00\x00\x00\x00"  # disposal 1, transp idx 0
    data += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0)
    idx = bytes([1] + [0] * 15)
    from medical_and_charity_document_extraction_system_spark.functions.gif import _lzw_encode

    min_code = max(2, bits)
    lzw = _lzw_encode(idx, min_code)
    data.append(min_code)
    data.append(len(lzw))
    data += lzw
    data.append(0)
    data += b"\x3b"
    frames = decode_gif(bytes(data))
    assert len(frames) == 2
    # palette index 1 pixel replaced; everything else = frame 1
    assert (frames[1][1:, :] == frames[0][1:, :]).all()
    assert (frames[1][0, 1:] == frames[0][0, 1:]).all()


def test_interlaced_frame_decodes():
    """Reorder an image's rows into GIF interlace order and set the
    interlace flag — the decoder must undo it."""
    f = _frames(1, 8, 5)[0]
    data = bytearray(encode_gif([f]))
    # find the image descriptor (0x2C) and patch flags + reorder rows
    i = data.index(0x2C, 13)
    flags = data[i + 9]
    data[i + 9] = flags | 0x40
    # re-encode pixel data in interlaced row order
    bits = (data[10] & 7) + 1
    table_n = 1 << bits
    pal = np.frombuffer(bytes(data[13 : 13 + 3 * table_n]), np.uint8).reshape(-1, 3)
    lut = {tuple(c): j for j, c in enumerate(pal)}
    idx = np.array([[lut[tuple(px)] for px in row] for row in f], np.uint8)
    order = [y for s, st in ((0, 8), (4, 8), (2, 4), (1, 2)) for y in range(s, 8, st)]
    inter = idx[order]
    from medical_and_charity_document_extraction_system_spark.functions.gif import _lzw_encode

    min_code = max(2, bits)
    lzw = _lzw_encode(inter.tobytes(), min_code)
    body = bytearray()
    body.append(min_code)
    for k in range(0, len(lzw), 255):
        chunk = lzw[k : k + 255]
        body.append(len(chunk))
        body += chunk
    body.append(0)
    new = bytes(data[: i + 10]) + bytes(body) + b"\x3b"
    out = decode_gif(new)
    assert (out[0] == f).all()


def test_deinterlace_inverts_pass_order():
    rows = np.arange(10)[:, None] * np.ones((1, 3), int)
    order = [y for s, st in ((0, 8), (4, 8), (2, 4), (1, 2)) for y in range(s, 10, st)]
    assert (_deinterlace(rows[order]) == rows).all()


def test_garbage_rejected():
    with pytest.raises(GifError):
        decode_gif(b"not a gif")
    with pytest.raises(GifError):
        decode_gif(b"GIF89a" + b"\x00" * 7 + b"\x3b")  # no frames


def test_disposal2_background_uses_global_table_with_local_frames():
    """Review regression: a frame with a small LOCAL color table and
    disposal 2 must restore background from the GLOBAL table (a large
    bg index would crash or recolor if the local table were used)."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.functions.gif import (
        _lzw_encode, decode_gif,
    )

    # global table: 8 colors, background index 6 (beyond the local
    # table's 2 entries); logical screen 4x4
    gct = np.zeros((8, 3), np.uint8)
    gct[6] = [10, 20, 30]   # background color
    gct[1] = [200, 0, 0]
    data = bytearray(b"GIF89a")
    data += struct.pack("<HHBBB", 4, 4, 0x80 | 2, 6, 0)  # 8-entry GCT, bg=6
    data += gct.tobytes()
    lct = np.array([[0, 0, 255], [0, 255, 0]], np.uint8)

    def frame(idx_bytes, use_local, disposal):
        out = bytearray()
        out += bytes([0x21, 0xF9, 0x04, (disposal << 2), 0, 0, 0, 0])
        flags = (0x80 | 0) if use_local else 0  # 2-entry local table
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, flags)
        if use_local:
            out += lct.tobytes()
        mc = 2
        lzw = _lzw_encode(idx_bytes, mc)
        out.append(mc)
        out.append(len(lzw))
        out += lzw
        out.append(0)
        return out

    # frame 1: local table, all index 1 (green), disposal 2
    data += frame(bytes([1] * 16), use_local=True, disposal=2)
    # frame 2: global table, all index 1 (red), disposal 0
    data += frame(bytes([1] * 16), use_local=False, disposal=0)
    data += b"\x3b"
    frames = decode_gif(bytes(data))
    assert len(frames) == 2
    assert (frames[0] == [0, 255, 0]).all()   # local color
    assert (frames[1] == [200, 0, 0]).all()   # painted over restored bg
