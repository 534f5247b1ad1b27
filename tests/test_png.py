"""PNG codec (levsim/extras/png.py): lossless roundtrips across color
types and filter strategies, and spec-conformance rejections."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from levsim.extras import png


@pytest.mark.parametrize("shape", [(1, 1), (7, 3), (16, 16), (5, 31)])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_exact_all_color_types(shape, channels):
    rng = np.random.RandomState(shape[0] * 10 + channels)
    px = rng.randint(0, 256, size=(*shape, channels), dtype=np.uint8)
    dec = png.decode_png(png.encode_png(px))
    assert dec.shape == (*shape, channels)
    assert (dec == px).all()


def test_roundtrip_2d_gray_input():
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(9, 4), dtype=np.uint8)
    dec = png.decode_png(png.encode_png(px))
    assert dec.shape == (9, 4, 1)
    assert (dec[:, :, 0] == px).all()


@pytest.mark.parametrize("strategy", ["0", "1", "2", "3", "4"])
def test_roundtrip_exact_every_forced_filter(strategy):
    """Each filter type forced for ALL rows must still roundtrip exactly —
    this pins every encoder filter against its decoder unfilter."""
    rng = np.random.RandomState(int(strategy))
    px = rng.randint(0, 256, size=(12, 7, 3), dtype=np.uint8)
    enc = png.encode_png(px, filter_strategy=strategy)
    assert (png.decode_png(enc) == px).all()
    # the forced filter byte really is in the stream (first scanline)
    idat_off = enc.index(b"IDAT") + 4
    (ln,) = struct.unpack_from(">I", enc, idat_off - 8)
    raw = zlib.decompress(enc[idat_off: idat_off + ln])
    assert raw[0] == int(strategy)


def test_adaptive_strategy_mixes_filters_on_natural_image():
    """A smooth gradient + noise image should make the min-sum heuristic
    pick more than one filter type across rows (so natural roundtrips
    exercise multiple unfilter paths)."""
    rng = np.random.RandomState(11)
    y, x = np.mgrid[0:24, 0:24]
    px = np.clip(4 * y + 3 * x + rng.randint(0, 9, size=(24, 24)), 0, 255)
    px = np.stack([px, 255 - px, (px * 2) % 256], axis=2).astype(np.uint8)
    enc = png.encode_png(px)
    idat_off = enc.index(b"IDAT") + 4
    (ln,) = struct.unpack_from(">I", enc, idat_off - 8)
    raw = zlib.decompress(enc[idat_off: idat_off + ln])
    stride = 24 * 3 + 1
    ftypes = {raw[i * stride] for i in range(24)}
    assert len(ftypes) >= 2, ftypes
    assert (png.decode_png(enc) == px).all()


def test_multiple_idat_chunks_concatenate():
    """Spec §5.6: the zlib stream may span several IDAT chunks."""
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    enc = png.encode_png(px)
    # split the single IDAT into two
    off = enc.index(b"IDAT") - 4
    (ln,) = struct.unpack_from(">I", enc, off)
    body = enc[off + 8: off + 8 + ln]
    mid = ln // 2
    def chunk(tag, b):
        return (struct.pack(">I", len(b)) + tag + b
                + struct.pack(">I", zlib.crc32(tag + b) & 0xFFFFFFFF))
    rebuilt = (enc[:off] + chunk(b"IDAT", body[:mid]) + chunk(b"IDAT", body[mid:])
               + enc[off + 12 + ln:])
    assert (png.decode_png(rebuilt) == px).all()


def test_ancillary_chunk_skipped_critical_rejected():
    rng = np.random.RandomState(6)
    px = rng.randint(0, 256, size=(4, 4, 3), dtype=np.uint8)
    enc = png.encode_png(px)
    off = enc.index(b"IDAT") - 4
    def chunk(tag, b):
        return (struct.pack(">I", len(b)) + tag + b
                + struct.pack(">I", zlib.crc32(tag + b) & 0xFFFFFFFF))
    # tEXt (ancillary: lowercase first letter) must be skipped
    with_text = enc[:off] + chunk(b"tEXt", b"Comment\x00hi") + enc[off:]
    assert (png.decode_png(with_text) == px).all()
    # unknown CRITICAL chunk must be rejected
    with_crit = enc[:off] + chunk(b"QRST", b"x") + enc[off:]
    with pytest.raises(ValueError, match="critical"):
        png.decode_png(with_crit)


def test_crc_corruption_detected():
    px = np.zeros((3, 3, 3), dtype=np.uint8)
    enc = bytearray(png.encode_png(px))
    idat = enc.index(b"IDAT")
    enc[idat + 5] ^= 0xFF  # flip a byte inside the IDAT body
    with pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(enc))


def test_rejects_malformed():
    with pytest.raises(ValueError, match="not a PNG"):
        png.decode_png(b"\x89PNG\r\n\x1a")
    with pytest.raises(ValueError, match="not a PNG"):
        png.decode_png(b"BMxxxx")
    px = np.zeros((2, 2, 3), dtype=np.uint8)
    enc = png.encode_png(px)
    # interlace flag set (and CRC re-fixed) must be rejected loudly
    b = bytearray(enc)
    ihdr_body_off = b.index(b"IHDR") + 4
    b[ihdr_body_off + 12] = 1  # interlace byte
    body = bytes(b[ihdr_body_off: ihdr_body_off + 13])
    crc = zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF
    b[ihdr_body_off + 13: ihdr_body_off + 17] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="interlaced"):
        png.decode_png(bytes(b))
    with pytest.raises(ValueError):
        png.encode_png(np.zeros((0, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        png.encode_png(np.zeros((2, 2, 5), dtype=np.uint8))


def test_decode_png_rgb_contract():
    rng = np.random.RandomState(8)
    g = rng.randint(0, 256, size=(5, 6, 1), dtype=np.uint8)
    rgb = png.decode_png_rgb(png.encode_png(g))
    assert rgb.shape == (5, 6, 3)
    assert (rgb[:, :, 0] == g[:, :, 0]).all() and (rgb == rgb[:, :, :1]).all()
    rgba = rng.randint(0, 256, size=(5, 6, 4), dtype=np.uint8)
    out = png.decode_png_rgb(png.encode_png(rgba))
    assert (out == rgba[:, :, :3]).all()
    ga = rng.randint(0, 256, size=(5, 6, 2), dtype=np.uint8)
    out2 = png.decode_png_rgb(png.encode_png(ga))
    assert (out2 == np.repeat(ga[:, :, :1], 3, axis=2)).all()

