"""BMP + uncompressed-TIFF codecs and their imageio routing.

The last reference-accepted still-image containers
(/root/reference/backend/app/utils/file_utils.py:271-273) the sniffer
couldn't read before round 4.
"""

import numpy as np
import pytest

from medical_and_charity_document_extraction_system_spark.functions import imageio
from medical_and_charity_document_extraction_system_spark.functions.bmp import (
    BmpError,
    decode_bmp,
    encode_bmp,
)
from medical_and_charity_document_extraction_system_spark.functions.tiff import (
    TiffError,
    decode_tiff,
    encode_tiff,
)


def _gray(h=13, w=29):
    return (np.arange(h * w, dtype=np.uint32) * 97 % 256).astype(np.uint8).reshape(h, w)


def _rgb(h=11, w=17):
    g = _gray(h, w)
    return np.stack([g, 255 - g, g // 2], axis=2)


class TestBmp:
    def test_gray_round_trip(self):
        img = _gray()
        out = decode_bmp(encode_bmp(img))
        assert out.shape == img.shape and (out == img).all()

    def test_rgb_round_trip(self):
        img = _rgb()
        out = decode_bmp(encode_bmp(img))
        assert out.shape == img.shape and (out == img).all()

    def test_deterministic_bytes(self):
        img = _rgb()
        assert encode_bmp(img) == encode_bmp(img.copy())

    def test_row_padding_exercised(self):
        # widths not divisible by 4 force nonzero padding both depths
        for w in (1, 2, 3, 5, 7):
            g = _gray(4, w)
            assert (decode_bmp(encode_bmp(g)) == g).all()
            r = _rgb(4, w)
            assert (decode_bmp(encode_bmp(r)) == r).all()

    def test_top_down_and_32bit_decode(self):
        # hand-build a 2x2 top-down 32-bit BMP (shape no encoder emits)
        import struct

        px = bytes(
            [1, 2, 3, 0, 4, 5, 6, 0,  # row 0: BGRA BGRA
             7, 8, 9, 0, 10, 11, 12, 0]
        )
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        hdr += struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(px), 0, 0, 0, 0)
        out = decode_bmp(hdr + px)
        assert out.shape == (2, 2, 3)
        assert out[0, 0].tolist() == [3, 2, 1]  # BGR -> RGB
        assert out[1, 1].tolist() == [12, 11, 10]

    def test_malformed_raises_typed(self):
        with pytest.raises(BmpError):
            decode_bmp(b"BM" + b"\x00" * 60)
        with pytest.raises(BmpError):
            decode_bmp(b"not a bmp")
        good = encode_bmp(_gray())
        with pytest.raises(BmpError):
            decode_bmp(good[:40])  # truncated header

    def test_compressed_rejected(self):
        raw = bytearray(encode_bmp(_gray()))
        raw[30] = 1  # biCompression = BI_RLE8
        with pytest.raises(BmpError, match="compressed"):
            decode_bmp(bytes(raw))


class TestTiff:
    def test_gray_round_trip(self):
        img = _gray()
        out = decode_tiff(encode_tiff(img))
        assert out.shape == img.shape and (out == img).all()

    def test_rgb_round_trip(self):
        img = _rgb()
        out = decode_tiff(encode_tiff(img))
        assert out.shape == img.shape and (out == img).all()

    def test_deterministic_bytes(self):
        img = _gray()
        assert encode_tiff(img) == encode_tiff(img.copy())

    def test_big_endian_decode(self):
        # hand-build a 2x3 big-endian gray TIFF, two strips
        import struct

        px = bytes(range(6))
        out = bytearray(b"MM\x00*" + struct.pack(">I", 8 + 6))
        out += px

        def ent(tag, ttype, count, value):
            return struct.pack(">HHI", tag, ttype, count) + struct.pack(">I", value)

        entries = [
            ent(256, 4, 1, 3),
            ent(257, 4, 1, 2),
            ent(258, 3, 1, 8 << 16),  # SHORT left-justified in the cell
            ent(259, 3, 1, 1 << 16),
            ent(262, 3, 1, 1 << 16),
            ent(273, 4, 1, 8),
            ent(277, 3, 1, 1 << 16),
            ent(279, 4, 1, 6),
        ]
        out += struct.pack(">H", len(entries))
        for e in entries:
            out += e
        out += struct.pack(">I", 0)
        img = decode_tiff(bytes(out))
        assert img.shape == (2, 3)
        assert img.ravel().tolist() == list(range(6))

    def test_min_is_white_inverted(self):
        raw = bytearray(encode_tiff(_gray()))
        # photometric tag (262) value lives in the IFD; flip 1 -> 0
        import struct

        ifd_off = struct.unpack_from("<I", raw, 4)[0]
        n = struct.unpack_from("<H", raw, ifd_off)[0]
        for i in range(n):
            ent = ifd_off + 2 + 12 * i
            if struct.unpack_from("<H", raw, ent)[0] == 262:
                struct.pack_into("<I", raw, ent + 8, 0)
        out = decode_tiff(bytes(raw))
        assert (out == 255 - _gray()).all()

    def test_malformed_raises_typed(self):
        with pytest.raises(TiffError):
            decode_tiff(b"II*\x00" + b"\xff" * 8)
        with pytest.raises(TiffError):
            decode_tiff(b"PK\x03\x04")
        good = encode_tiff(_gray())
        with pytest.raises(TiffError):
            decode_tiff(good[: len(good) // 2])


class TestImageioRouting:
    def test_sniff_and_round_trip_all_new_formats(self):
        img = _gray(16, 16)
        for fmt in ("bmp", "tiff", "gif"):
            payload = imageio.encode_as(img, fmt)
            assert imageio.sniff_format(payload) == fmt
            dec, got = imageio.decode_auto(payload)
            assert got == fmt
            if fmt == "gif":  # palette container comes back RGB
                assert dec.shape == (16, 16, 3)
                assert (dec[:, :, 0] == img).all()
            else:
                assert (dec == img).all()

    def test_unknown_still_rejected(self):
        with pytest.raises(ValueError):
            imageio.decode_auto(b"RIFF....WEBPVP8 ")  # WebP stays gated

    def test_decode_auto_non_square_bmp_tiff(self):
        img = _gray(8, 12)
        for fmt in ("bmp", "tiff"):
            assert (imageio.decode_auto(imageio.encode_as(img, fmt))[0] == img).all()


class TestTiffCompressed:
    """Deflate / PackBits strips + horizontal predictor (r4)."""

    @staticmethod
    def _build(px_bytes, w, h, spp, compression, predictor=1, counts=None):
        import struct
        import zlib

        if compression in (8, 32946):
            strips = [zlib.compress(px_bytes, 6)]
        elif compression == 32773:
            strips = [px_bytes]  # caller pre-packs
        else:
            strips = [px_bytes]
        body = b"".join(strips)
        entries = []

        def ent(tag, ttype, count, value):
            return struct.pack("<HHI", tag, ttype, count) + struct.pack("<I", value)

        ifd_off = 8 + len(body)
        entries = [
            ent(256, 4, 1, w), ent(257, 4, 1, h), ent(258, 3, 1, 8),
            ent(259, 3, 1, compression), ent(262, 3, 1, 1),
            ent(273, 4, 1, 8), ent(277, 3, 1, spp), ent(278, 4, 1, h),
            ent(279, 4, 1, len(body)), ent(284, 3, 1, 1),
            ent(317, 3, 1, predictor),
        ]
        out = b"II*\x00" + struct.pack("<I", ifd_off) + body
        out += struct.pack("<H", len(entries))
        out += b"".join(entries) + struct.pack("<I", 0)
        return out

    def test_deflate_strip(self):
        img = _gray(9, 11)
        for comp in (8, 32946):
            data = self._build(img.tobytes(), 11, 9, 1, comp)
            assert (decode_tiff(data) == img).all()

    def test_deflate_with_horizontal_predictor(self):
        img = _gray(5, 7)
        diff = img.astype(np.int16)
        diff[:, 1:] = (img[:, 1:].astype(np.int16) - img[:, :-1]) & 0xFF
        data = self._build(diff.astype(np.uint8).tobytes(), 7, 5, 1, 8, predictor=2)
        assert (decode_tiff(data) == img).all()

    def test_packbits_strip(self):
        # 4x4 image: rows of runs -> pack by hand
        img = np.array(
            [[7] * 4, [1, 2, 3, 4], [9] * 4, [5, 5, 6, 6]], np.uint8
        )
        packed = bytes(
            [0x100 - 3, 7,          # repeat 7 x4 (257-253=4)
             3, 1, 2, 3, 4,         # 4 literals
             0x100 - 3, 9,          # repeat 9 x4
             0x100 - 1, 5, 0x100 - 1, 6]  # 5x2, 6x2
        )
        data = self._build(packed, 4, 4, 1, 32773)
        assert (decode_tiff(data) == img).all()

    def test_lzw_still_rejected(self):
        img = _gray(3, 3)
        data = self._build(img.tobytes(), 3, 3, 1, 5)  # 5 = LZW
        with pytest.raises(TiffError, match="unsupported"):
            decode_tiff(data)
