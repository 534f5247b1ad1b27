"""Pure-Python/NumPy PNG codec (W3C PNG spec, second edition — public).

DEFLATE lives in the Python stdlib (``zlib``) and everything else is
chunk framing plus the five scanline filters, so no external codec
library is needed.  Scope (a real working subset, loudly rejecting the
rest):

- bit depth 8 only; color types 0 (gray), 2 (RGB), 4 (gray+alpha) and
  6 (RGBA); no interlacing (Adam7 rejected, not silently mangled);
  palette (type 3), 16-bit and sub-byte depths rejected.
- all five scanline filters (None/Sub/Up/Average/Paeth) on both sides:
  the encoder picks per-row filters with the spec-recommended
  minimum-sum-of-absolute-differences heuristic, so round-tripping a
  natural image genuinely exercises every unfilter path.
- chunk CRCs are verified on decode (corrupt streams fail loudly, not
  with garbage pixels); ancillary chunks are skipped by name case as the
  spec directs.

Reference parity note: the reference library (rapidfuzz/Levenshtein) has
no media layer; nothing on the ER path or in ``__spark_entry__.py``
calls this module.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PaethPredictor (spec §9.4), vectorized over a row segment."""
    a = a.astype(np.int32)
    b = b.astype(np.int32)
    c = c.astype(np.int32)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(
        np.uint8
    )


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply filter ``ftype`` to a reconstructed row -> filtered bytes."""
    r = row.astype(np.int32)
    left = np.zeros_like(r)
    left[bpp:] = r[:-bpp]
    up = prev.astype(np.int32)
    ul = np.zeros_like(r)
    ul[bpp:] = up[:-bpp]
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - up
    elif ftype == 3:
        out = r - (left + up) // 2
    elif ftype == 4:
        out = r - _paeth(left.astype(np.uint8), prev, ul.astype(np.uint8))
    else:  # pragma: no cover - encoder only passes 0..4
        raise ValueError(f"bad filter type {ftype}")
    return (out % 256).astype(np.uint8)


def _unfilter_row(ftype: int, cur: bytearray, prev: bytes, bpp: int) -> None:
    """Reconstruct a scanline in place (spec §9.2 Recon functions).

    Up needs no left neighbor, so it vectorizes whole-row; Sub/Average/
    Paeth recur on the just-reconstructed left pixel, so they walk the row
    byte-wise — rows here are test-scale; the hot path at 100 TB is the
    mapInPandas batching around the codec, not the inner loop."""
    n = len(cur)
    if ftype == 0:
        return
    if ftype == 2:
        arr = (np.frombuffer(bytes(cur), dtype=np.uint8).astype(np.int32)
               + np.frombuffer(prev, dtype=np.uint8)) % 256
        cur[:] = arr.astype(np.uint8).tobytes()
        return
    if ftype == 1:
        for x in range(bpp, n):
            cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        return
    if ftype == 3:
        for x in range(n):
            a = cur[x - bpp] if x >= bpp else 0
            cur[x] = (cur[x] + (a + prev[x]) // 2) & 0xFF
        return
    if ftype == 4:
        for x in range(n):
            a = cur[x - bpp] if x >= bpp else 0
            c = prev[x - bpp] if x >= bpp else 0
            b = prev[x]
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            cur[x] = (cur[x] + pred) & 0xFF
        return
    raise ValueError(f"invalid PNG filter type {ftype}")


def encode_png(
    pixels: np.ndarray,
    filter_strategy: str = "adaptive",
    compress_level: int = 6,
) -> bytes:
    """uint8 pixel array -> PNG bytes.

    Shapes: (H, W) or (H, W, 1) -> grayscale (color type 0); (H, W, 2) ->
    gray+alpha (4); (H, W, 3) -> RGB (2); (H, W, 4) -> RGBA (6).

    ``filter_strategy``: 'adaptive' (default) picks the per-row filter
    minimizing the sum of absolute filtered values — the spec-recommended
    heuristic, which also makes encoded natural images carry a MIX of
    filter types so decode tests cover every unfilter path; '0'..'4'
    forces one type for all rows."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 2, 3, 4):
        raise ValueError("expected (H, W[, 1|2|3|4]) uint8 array")
    h, w, ch = px.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch
    flat = px.reshape(h, w * ch)
    prev = np.zeros(w * ch, dtype=np.uint8)
    out_rows = []
    for y in range(h):
        row = flat[y]
        if filter_strategy == "adaptive":
            best = None
            best_cost = None
            for f in range(5):
                cand = _filter_row(f, row, prev, bpp)
                # spec heuristic: minimize sum of |signed filtered bytes|
                cost = int(np.abs(cand.astype(np.int8).astype(np.int32)).sum())
                if best_cost is None or cost < best_cost:
                    best, best_cost, best_f = cand, cost, f
            out_rows.append(bytes([best_f]) + best.tobytes())
        else:
            f = int(filter_strategy)
            out_rows.append(bytes([f]) + _filter_row(f, row, prev, bpp).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(out_rows), compress_level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 with C = 1/2/3/4 per the color type.

    Verifies chunk CRCs; accepts multiple IDAT chunks (their concatenation
    is one zlib stream, spec §5.6); skips ancillary chunks; rejects
    interlaced, paletted, 16-bit and sub-byte-depth streams loudly."""
    if len(payload) < len(_SIG) + 12 or payload[: len(_SIG)] != _SIG:
        raise ValueError("not a PNG payload")
    pos = len(_SIG)
    ihdr = None
    idat = bytearray()
    seen_iend = False
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            seen_iend = True
            break
        elif tag == b"PLTE" or not (tag[0] & 0x20):
            # critical chunk we don't understand (bit 5 of first byte
            # clear == critical, spec §5.4); PLTE implies color type 3
            raise ValueError(f"unsupported critical PNG chunk {tag!r}")
        pos += 12 + length
    if ihdr is None or not seen_iend:
        raise ValueError("PNG missing IHDR/IEND")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"only 8-bit PNG supported (depth={depth})")
    if color_type not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace != 0:
        raise ValueError("interlaced (Adam7) PNG unsupported")
    if w == 0 or h == 0:
        raise ValueError("empty PNG image")
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = bytes(stride)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        cur = bytearray(raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)])
        _unfilter_row(ftype, cur, prev, ch)
        out[y] = np.frombuffer(bytes(cur), dtype=np.uint8)
        prev = bytes(cur)
    return out.reshape(h, w, ch)


def decode_png_rgb(payload: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, 3) uint8 RGB: gray replicated, alpha dropped."""
    px = decode_png(payload)
    ch = px.shape[2]
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    if ch == 2:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if ch == 4:
        return px[:, :, :3].copy()
    return px
