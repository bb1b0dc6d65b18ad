"""Glyph-grid codec: the deterministic stand-in for rendered page images.

A real deployment renders PDF pages to images (reference ocr_read.py:133-147,
util/ocr_pdf.py:511-539) and runs Tesseract `image_to_data`
(util/ocr_pdf.py:377-380) to get word boxes. Image libs aren't in this
sandbox, so a page is encoded as a binary "glyph grid" the OCR stage
decodes *exactly*. The decode is intentionally shaped like `image_to_data`
output (D3 in SURVEY §1): parallel word records with
(block, par, line, word_idx, text, conf, x, y, w, h).

Format GG02 (columnar, little-endian) — decodes with ONE `np.frombuffer`
per page instead of per-word struct unpacking, which matters when the OCR
stage chews through millions of words per Arrow batch:

    b"GG02"
    uint16  word count n
    n × packed 16-byte records:
        uint16 x, y, w, h; uint8 conf, block, par, line;
        uint16 word_idx; uint16 text byte-length
    concatenated utf-8 word texts
"""

from __future__ import annotations

import struct
from contextlib import contextmanager

import numpy as np

MAGIC = b"GG02"
_HDR = struct.Struct("<4sH")

HEADER_DTYPE = np.dtype(
    [
        ("x", "<u2"), ("y", "<u2"), ("w", "<u2"), ("h", "<u2"),
        ("conf", "u1"), ("block", "u1"), ("par", "u1"), ("line", "u1"),
        ("word_idx", "<u2"), ("tlen", "<u2"),
    ]
)

_FIELDS = ("x", "y", "w", "h", "conf", "block", "par", "line", "word_idx")


MAX_WORDS_PER_PAGE = 65535  # uint16 count — split denser pages upstream
MAX_WORD_BYTES = 65535      # uint16 text length

# Tesseract emits conf=-1 for non-word rows (block/par/line separators,
# util/ocr_pdf.py:231 drops them). GG02's conf slot is unsigned, so -1 is
# encoded as the reserved value 255; `conf_signed` maps it back on decode.
# Real confidences are 0..100; anything else is a producer bug and raises
# here instead of wrapping silently in the numpy uint8 assignment.
CONF_NOWORD = 255

_U16_FIELDS = ("x", "y", "w", "h", "word_idx")
_U8_FIELDS = ("block", "par", "line")


def conf_signed(conf: np.ndarray) -> np.ndarray:
    """Decoded uint8 conf column → int32 with the -1 sentinel restored."""
    c = conf.astype(np.int32)
    c[c == CONF_NOWORD] = -1
    return c


def encode_page(words: list[dict]) -> bytes:
    """words: dicts with x,y,w,h,conf,block,par,line,word_idx,text.

    GG02 uses uint16/uint8 slots; every field is range-checked so a
    producer bug raises a clear ValueError instead of a numpy wraparound
    deep in an executor (conf=-1 silently became 255 — a "readable" word —
    before this check). A producer feeding real OCR output must split
    over-limit pages (or the format moves to u4 counts)."""
    n = len(words)
    if n > MAX_WORDS_PER_PAGE:
        raise ValueError(
            f"GG02 page limit: {n} words > {MAX_WORDS_PER_PAGE}; split the page")
    arr = np.empty(n, dtype=HEADER_DTYPE)
    texts = []
    for i, wd in enumerate(words):
        tb = wd["text"].encode("utf-8")
        if len(tb) > MAX_WORD_BYTES:
            raise ValueError(
                f"GG02 word limit: {len(tb)} bytes > {MAX_WORD_BYTES}")
        for f in _U16_FIELDS:
            v = int(wd[f])
            if not 0 <= v <= 65535:
                raise ValueError(f"GG02 field {f}={v} outside uint16 range")
        for f in _U8_FIELDS:
            v = int(wd[f])
            if not 0 <= v <= 255:
                raise ValueError(f"GG02 field {f}={v} outside uint8 range")
        conf = int(wd["conf"])
        if conf == -1:
            conf = CONF_NOWORD
        elif not 0 <= conf <= 100:  # Tesseract confidence range
            raise ValueError(
                f"GG02 conf={conf} not in -1..100 (255 reserved for -1)")
        texts.append(tb)
        arr[i] = (wd["x"], wd["y"], wd["w"], wd["h"], conf,
                  wd["block"], wd["par"], wd["line"], wd["word_idx"], len(tb))
    return _HDR.pack(MAGIC, n) + arr.tobytes() + b"".join(texts)


def decode_page_columns(blob: bytes) -> tuple[np.ndarray, list[str]]:
    """One page → (structured header array, word texts): the test oracle
    for ``decode_batch_columns`` and the body of ``decode_page``."""
    magic, n = _HDR.unpack_from(blob, 0)
    if magic != MAGIC:
        raise ValueError("not a glyph grid")
    hdr = np.frombuffer(blob, dtype=HEADER_DTYPE, count=n, offset=_HDR.size)
    start = _HDR.size + n * HEADER_DTYPE.itemsize
    ends = start + np.cumsum(hdr["tlen"].astype(np.int64))
    starts = ends - hdr["tlen"]
    if n and int(ends[-1]) > len(blob):  # slices would silently shorten
        raise ValueError("GG02 blob truncated in text region")
    texts = [blob[s:e].decode("utf-8") for s, e in zip(starts, ends)]
    return hdr, texts


def _reject_first(bad: np.ndarray, reason: str) -> None:
    """Raise ValueError for the first page flagged in ``bad``; its index
    into the batch rides on the exception as ``page_index`` so the caller
    can name the page (``naming_bad_page``)."""
    if bad.any():
        i = int(np.argmax(bad))
        err = ValueError(f"batch page {i}: {reason}")
        err.page_index = i
        raise err


@contextmanager
def naming_bad_page(media_refs, page_nos):
    """Re-raise a ``_reject_first`` error from the enclosed decode with the
    bad page named by its ``media_ref`` and ``page_no`` (the batch's
    columns, in ``blobs`` order). Every glyph stage decodes under this."""
    try:
        yield
    except ValueError as e:
        i = getattr(e, "page_index", None)
        if i is None:
            raise
        raise ValueError(
            f"bad glyph page media_ref={list(media_refs)[i]!r} "
            f"page_no={int(list(page_nos)[i])}: {e}") from e


def decode_batch_columns(blobs) -> tuple:
    """Vectorized GG02 decode of MANY pages at once — the one decoder of
    every glyph stage (``ocr.ocr_words``, ``ocr.ocr_lines``,
    ``multimodal.annotate_pages``). Amortizes numpy call overhead over the
    whole Arrow batch: per-page decode costs ~75 µs in tiny-array numpy
    calls; this path does ONE fancy-gather + ONE segmented cumsum for the
    batch.

    ``blobs``: sequence of P page blobs (bytes). ALL must be well-formed
    GG02: a bad magic or a truncated header or text region raises
    ValueError naming the first bad page, with its index in
    ``page_index``.

    Returns ``(word_page, hdr, tstart, tend, joined, rel_end)``:
      * ``word_page`` int64[W] — index into ``blobs`` for each word
      * ``hdr``       HEADER_DTYPE[W] — all pages' word records
      * ``tstart``/``tend`` int64[W] — word-text byte ranges in ``joined``
      * ``joined``    bytes — the concatenated blobs
      * ``rel_end``   int64[P] — per-page payload end offset (relative to
        the page start), i.e. ``payload_end``; trailing bytes beyond it
        are page extras (QR container, ``multimodal.embed_qr``)
    """
    P = len(blobs)
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=P)
    if P == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, np.empty(0, dtype=HEADER_DTYPE), z, z, b"", z
    joined = b"".join(blobs)
    big = np.frombuffer(joined, dtype=np.uint8)
    off = np.zeros(P, dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    # a blob shorter than the header is bad on length alone; reading its
    # magic would run into the next page (or off the end)
    bad = lens < _HDR.size
    head = off[~bad, None] + np.arange(len(MAGIC), dtype=np.int64)
    bad[~bad] = (big[head] != np.frombuffer(MAGIC, np.uint8)).any(axis=1)
    _reject_first(bad, "not a GG02 glyph grid")
    counts = big[off + 4].astype(np.int64) | (big[off + 5].astype(np.int64) << 8)
    # A count-corrupted blob whose declared header region runs past its own
    # length would otherwise fancy-gather bytes from the FOLLOWING page
    # (silent garbage words) — or IndexError off the end if it is the last
    # page. Validate before the gather so malformed input fails loudly.
    _reject_first((_HDR.size + HEADER_DTYPE.itemsize * counts) > lens,
                  "GG02 blob truncated in header region")
    W = int(counts.sum())
    first = np.zeros(P, dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    word_page = np.repeat(np.arange(P, dtype=np.int64), counts)
    within = np.arange(W, dtype=np.int64) - first[word_page]
    hdr_start = off + _HDR.size
    rec_start = hdr_start[word_page] + HEADER_DTYPE.itemsize * within
    # (W, 16) fancy-gather → contiguous → reinterpret as header records
    hdr = big[rec_start[:, None]
              + np.arange(HEADER_DTYPE.itemsize, dtype=np.int64)].ravel() \
        .view(HEADER_DTYPE)
    tlen = hdr["tlen"].astype(np.int64)
    gcum = np.concatenate(([0], np.cumsum(tlen)))      # global prefix sums
    text_base = hdr_start + HEADER_DTYPE.itemsize * counts
    # segmented (per-page) prefix of tlen = global prefix − page's base
    tstart = text_base[word_page] + (gcum[:-1] - gcum[first[word_page]])
    tend = tstart + tlen
    page_tbytes = gcum[first + counts] - gcum[first]
    rel_end = _HDR.size + HEADER_DTYPE.itemsize * counts + page_tbytes
    # Text region truncated: the word-text slices (tstart/tend) would
    # silently gather bytes from the next page. Fail loudly.
    _reject_first(rel_end > lens, "GG02 blob truncated in text region")
    return word_page, hdr, tstart, tend, joined, rel_end


def payload_end(blob: bytes) -> int:
    """Exact end offset of the glyph-grid content (GG02 only). Trailing
    bytes after this offset are not part of the word grid — the page
    container uses that region for embedded extras (e.g. the QR payload,
    ``multimodal.embed_qr``), mirroring a page image that contains both
    text and a QR code in one binary."""
    magic, n = _HDR.unpack_from(blob, 0)
    if magic != MAGIC:
        raise ValueError("payload_end requires GG02")
    hdr = np.frombuffer(blob, dtype=HEADER_DTYPE, count=n, offset=_HDR.size)
    return _HDR.size + n * HEADER_DTYPE.itemsize + int(hdr["tlen"].sum())


def decode_page(blob: bytes) -> list[dict]:
    """Row-oriented decode (unit tests / debugging); conf sentinel restored."""
    hdr, texts = decode_page_columns(blob)
    conf = conf_signed(hdr["conf"])
    return [
        {**{f: int(hdr[f][i]) for f in _FIELDS if f != "conf"},
         "conf": int(conf[i]), "text": texts[i]}
        for i in range(len(texts))
    ]
