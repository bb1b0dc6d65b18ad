"""Pure-numpy PNG codec + the grayscale and resize maths image decode uses.

The reference decodes real page images through Pillow
(util/ocr_pdf.py:377-380 ``pdf2image``→PIL, api/util.py:8007-8051
PIL.Image over scanned pages). No image library is assumed here; PNG is
the one raster format whose spec (W3C/RFC 2083) needs nothing beyond
stdlib ``zlib`` and numpy, so ``operators.multimodal.decode_images`` and
``extract_qr`` call this codec directly:

- ``decode_png(blob) -> (ndarray HxWxC uint8, color_type)`` — full
  critical-chunk decode: signature, IHDR, PLTE, concatenated IDAT
  inflate, per-row unfilter (all five filter types), palette expansion.
  8-bit depth, non-interlaced (the overwhelmingly common case; Adam7 and
  16-bit raise ``ValueError`` loudly rather than mis-decode).
- ``encode_png(arr, filter_cycle=...)`` — the matching encoder; by
  default it CYCLES the row filter 0→4 so a single roundtrip test
  exercises every decoder unfilter path, not just filter 0.
- ``to_gray(px)`` (BT.601 luma) and ``box_resize(gray, w, h)``
  (area-average downsampling — deterministic and documented, not a
  PIL-bicubic emulation): the 8-px thumbnail behind ``decode_images``'
  embedding and the grayscale plane the QR detector scans.

Filter math follows the PNG spec exactly: Sub/Up/Average/Paeth operate
per byte lane at ``bpp`` offsets, mod 256. Sub is vectorized as a
uint8 cumulative sum per lane (wraparound IS the mod-256 the spec
wants); Up is one vector add; Average/Paeth depend on the left
neighbor's *reconstructed* value and are walked per pixel-column with
whole-lane numpy ops (rows of small page images — the decode unit here —
keep that loop negligible).
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color_type -> samples/px


def _chunks(blob: bytes):
    if blob[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    while pos + 8 <= len(blob):
        (length,), ctype = struct.unpack(">I", blob[pos:pos + 4]), blob[pos + 4:pos + 8]
        data = blob[pos + 8:pos + 8 + length]
        if len(data) != length or len(blob) < pos + 12 + length:
            raise ValueError("truncated PNG chunk")
        # verify the chunk CRC (spec: CRC-32 over type+data): bit rot in
        # uncompressed chunks (PLTE, IHDR) would otherwise decode to
        # silently wrong pixels — fail loudly instead
        (crc,) = struct.unpack(">I", blob[pos + 8 + length:pos + 12 + length])
        if crc != zlib.crc32(ctype + data) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        yield ctype, data
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return
    raise ValueError("truncated PNG: no IEND")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a lane (spec pseudocode, int16
    intermediates so p = a+b-c never wraps)."""
    a16, b16, c16 = a.astype(np.int16), b.astype(np.int16), c.astype(np.int16)
    p = a16 + b16 - c16
    pa, pb, pc = np.abs(p - a16), np.abs(p - b16), np.abs(p - c16)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _unfilter(raw: np.ndarray, height: int, stride: int, bpp: int) -> np.ndarray:
    """raw = height rows of (1 filter byte + stride data bytes) → HxS."""
    rows = raw.reshape(height, stride + 1)
    filters, data = rows[:, 0], rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f, row = int(filters[y]), data[y]
        if f == 0:                                   # None
            cur = row.copy()
        elif f == 1:                                 # Sub: per-lane cumsum mod 256
            cur = row.copy().reshape(-1, bpp)
            np.cumsum(cur, axis=0, dtype=np.uint8, out=cur)
            cur = cur.reshape(-1)
        elif f == 2:                                 # Up
            cur = row + prev
        elif f == 3:                                 # Average
            cur = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.uint8)
            for x in range(0, stride, bpp):
                up = prev[x:x + bpp]
                avg = ((left.astype(np.uint16) + up.astype(np.uint16)) // 2)
                left = (row[x:x + bpp] + avg.astype(np.uint8))
                cur[x:x + bpp] = left
        elif f == 4:                                 # Paeth
            cur = np.empty(stride, dtype=np.uint8)
            left = np.zeros(bpp, dtype=np.uint8)
            upleft = np.zeros(bpp, dtype=np.uint8)
            for x in range(0, stride, bpp):
                up = prev[x:x + bpp]
                left = row[x:x + bpp] + _paeth(left, up, upleft)
                cur[x:x + bpp] = left
                upleft = up
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out


def decode_png(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode a PNG → (HxWxC uint8 array, color_type). 8-bit,
    non-interlaced; palette (type 3) is expanded to RGB."""
    width = height = None
    color_type = bit_depth = None
    palette = None
    idat = []
    for ctype, data in _chunks(bytes(blob)):
        if ctype == b"IHDR":
            if len(data) != 13:
                # keep the uniform failure type: a CRC-valid but
                # wrong-length IHDR must not escape as struct.error
                raise ValueError(f"bad PNG IHDR length {len(data)}")
            width, height, bit_depth, color_type, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if bit_depth != 8:
                raise ValueError(f"unsupported PNG bit depth {bit_depth}")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace != 0:
                raise ValueError("Adam7 interlace not supported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        # ancillary chunks (tEXt, pHYs, ...) are skipped per spec
    if width is None:
        raise ValueError("PNG missing IHDR")
    channels = _CHANNELS[color_type]
    stride = width * channels
    try:
        inflated = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        # uniform failure type: every decode_png rejection is ValueError
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    raw = np.frombuffer(inflated, dtype=np.uint8)
    if raw.size != height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    flat = _unfilter(raw, height, stride, bpp=channels)
    img = flat.reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        if int(img.max()) >= len(palette):
            raise ValueError("PNG palette index out of range")
        img = palette[img[:, :, 0]]
    return img, color_type


def encode_png(arr: np.ndarray, filter_cycle: tuple[int, ...] = (0, 1, 2, 3, 4)
               ) -> bytes:
    """Encode HxW (gray) or HxWx{1,2,3,4} uint8 → PNG bytes. Rows use
    ``filter_cycle[y % len]`` so decode tests hit every unfilter path."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    height, width, channels = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels
    lines = []
    prev = np.zeros(width * channels, dtype=np.uint8)
    for y in range(height):
        row = arr[y].reshape(-1)
        f = filter_cycle[y % len(filter_cycle)]
        if f == 0:
            filt = row
        elif f == 1:
            left = np.zeros_like(row)
            left[bpp:] = row[:-bpp]
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            left = np.zeros_like(row)
            left[bpp:] = row[:-bpp]
            filt = row - ((left.astype(np.uint16) + prev.astype(np.uint16)) // 2
                          ).astype(np.uint8)
        elif f == 4:
            left = np.zeros_like(row)
            left[bpp:] = row[:-bpp]
            upleft = np.zeros_like(prev)
            upleft[bpp:] = prev[:-bpp]
            filt = row - _paeth(left, prev, upleft)
        else:
            raise ValueError(f"bad filter {f}")
        lines.append(bytes([f]) + filt.tobytes())
        prev = row
    body = zlib.compress(b"".join(lines), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", body)
            + chunk(b"IEND", b""))


# BT.601 luma, the weights Pillow's convert('L') documents.
_LUMA = np.array([0.299, 0.587, 0.114])


def to_gray(px: np.ndarray) -> np.ndarray:
    """HxWxC uint8 pixels (``decode_png`` output) → HxW uint8 grayscale:
    gray and gray+alpha keep channel 0, RGB/RGBA take BT.601 luma."""
    if px.shape[2] <= 2:
        return px[:, :, 0]
    return (px[:, :, :3].astype(np.float64) @ _LUMA
            ).round().clip(0, 255).astype(np.uint8)


def box_resize(gray: np.ndarray, width: int, height: int) -> np.ndarray:
    """Area-average (box) resample of a 2-D uint8 image to height x width
    via bin-membership matmul — exact for any size ratio, deterministic,
    no resampling kernel."""
    h, w = gray.shape

    def box(n_src: int, n_dst: int) -> np.ndarray:
        # weight[i, j] = overlap of dst bin i with src cell j
        edges = np.linspace(0.0, n_src, n_dst + 1)
        wts = np.zeros((n_dst, n_src))
        for i in range(n_dst):
            lo, hi = edges[i], edges[i + 1]
            j0, j1 = int(np.floor(lo)), int(np.ceil(hi))
            for j in range(j0, min(j1, n_src)):
                wts[i, j] = min(hi, j + 1) - max(lo, j)
        return wts / wts.sum(axis=1, keepdims=True)

    out = np.einsum("ij,jk,lk->il", box(h, height), gray.astype(np.float64),
                    box(w, width))
    return out.round().clip(0, 255).astype(np.uint8)
