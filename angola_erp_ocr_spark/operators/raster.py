"""I1–I4: REAL raster preprocessing as batch numpy inside mapInPandas.

The reference preprocesses rendered page images with OpenCV before OCR:
grayscale/invert/Otsu threshold (util/ocr_pdf.py:97-107, 147-163),
denoise/dilate/erode/opening (101-126), min-area-rect deskew (129-141) and
Hough-median orientation correction
(util/roi_selection_with_orientation_and_ocr.py:33-53). OpenCV is not in
this container, but numpy is — so these are faithful numpy
implementations over a simple grayscale raster codec, not stubs: Otsu is
the real inter-class-variance maximization, morphology is real binary
min/max filtering, deskew estimates the ink principal axis from image
moments and inverse-rotates. The Spark-side shape is the production one:
pages arrive as Arrow batches of binary blobs, all math is vectorized
numpy per page, features leave as narrow typed columns.

Raster codec RP01 (little-endian):
    b"RP01" + uint16 width + uint16 height + width*height uint8 pixels
    (grayscale; 255 = paper, 0 = ink)
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

RASTER_MAGIC = b"RP01"
_RHDR = struct.Struct("<4sHH")


def encode_raster(img: np.ndarray) -> bytes:
    h, w = img.shape
    return _RHDR.pack(RASTER_MAGIC, w, h) + img.astype(np.uint8).tobytes()


def decode_raster(blob: bytes) -> np.ndarray:
    magic, w, h = _RHDR.unpack_from(blob, 0)
    if magic != RASTER_MAGIC:
        raise ValueError("not an RP01 raster")
    return np.frombuffer(blob, dtype=np.uint8, count=w * h,
                         offset=_RHDR.size).reshape(h, w)


# ---------------------------------------------------------------------------
# I1 — Otsu threshold (util/ocr_pdf.py:97-107: cvtColor → bitwise_not →
# cv2.threshold(..., THRESH_OTSU)). Real Otsu: pick t maximizing the
# inter-class variance of the grayscale histogram.
# ---------------------------------------------------------------------------

def otsu_threshold(img: np.ndarray) -> tuple[np.ndarray, int]:
    """→ (ink mask [True = ink], chosen threshold)."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    w0 = np.cumsum(hist)
    w1 = total - w0
    cum_mean = np.cumsum(hist * np.arange(256))
    mean_total = cum_mean[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = cum_mean / w0
        mu1 = (mean_total - cum_mean) / w1
        var_between = w0 * w1 * (mu0 - mu1) ** 2
    var_between[~np.isfinite(var_between)] = -1.0
    t = int(np.argmax(var_between))
    return img <= t, t


# ---------------------------------------------------------------------------
# I2 — binary morphology (util/ocr_pdf.py:101-126: 5×5 kernel erode/
# dilate/opening). dilate = any over the k×k window, erode = all.
# ---------------------------------------------------------------------------

def dilate(mask: np.ndarray, k: int = 3) -> np.ndarray:
    """max filter (OR over the k×k window); border padded False so
    dilation cannot invent ink outside the page."""
    from numpy.lib.stride_tricks import sliding_window_view

    pad = k // 2
    padded = np.pad(mask, pad, constant_values=False)
    return sliding_window_view(padded, (k, k)).any(axis=(2, 3))


def erode(mask: np.ndarray, k: int = 3) -> np.ndarray:
    pad = k // 2
    padded = np.pad(mask, pad, constant_values=True)
    from numpy.lib.stride_tricks import sliding_window_view

    return sliding_window_view(padded, (k, k)).all(axis=(2, 3))


def opening(mask: np.ndarray, k: int = 3) -> np.ndarray:
    """erode → dilate: removes salt noise smaller than the kernel."""
    return dilate(erode(mask, k), k)


def closing(mask: np.ndarray, k: int = 3) -> np.ndarray:
    return erode(dilate(mask, k), k)


# ---------------------------------------------------------------------------
# I3/I4 — skew estimation + rotation (util/ocr_pdf.py:129-141 min-area-rect
# angle; roi_selection...py:33-53 Hough median angle). Estimator: the
# classic projection-profile search — text lines collapse into sharp
# row-profile peaks exactly at the deskew angle, so the variance of the
# sheared row histogram is maximized there. Vectorized over the ink
# coordinates; ~50 candidate angles × |ink| adds.
# ---------------------------------------------------------------------------

def estimate_skew_points(ys: np.ndarray, xs: np.ndarray,
                         max_deg: float = 6.0, step: float = 0.25,
                         min_points: int = 16) -> float:
    """Projection-profile skew estimate over POINT COORDINATES, the ink
    pixels of the raster path (``estimate_skew_deg``): text lines
    collapse into sharp row-profile peaks exactly at the deskew angle.
    The flagship decode path deskews word boxes with
    ``estimate_skew_boxes`` instead."""
    if len(xs) < min_points:
        return 0.0
    ys = ys.astype(np.float64)
    xs = xs.astype(np.float64)
    best, best_var = 0.0, -1.0
    for deg in np.arange(-max_deg, max_deg + step / 2, step):
        t = np.tan(np.deg2rad(deg))
        rows = np.rint(ys - xs * t).astype(np.int64)
        rows -= rows.min()
        var = np.bincount(rows).var()
        if var > best_var:
            best_var, best = var, float(deg)
    return best


def estimate_skew_deg(mask: np.ndarray, max_deg: float = 6.0,
                      step: float = 0.25) -> float:
    """Angle of the text lines in degrees (positive = lines rising with x
    in image coordinates); 0.0 when there is too little ink to tell."""
    ys, xs = np.nonzero(mask)
    return estimate_skew_points(ys, xs, max_deg, step)


def estimate_skew_boxes(ys: np.ndarray, xs: np.ndarray,
                        line_starts: np.ndarray, max_deg: float = 6.0,
                        min_points: int = 16) -> float:
    """Skew from OCR WORD BOXES: pooled within-line regression slope.

    Unlike ink pixels, word boxes carry their line membership (Tesseract's
    block/par/line ids), so the skew is simply the common slope of
    y-vs-x WITHIN each line: t̂ = Σ_l Σ (x−x̄_l)(y−ȳ_l) / Σ_l Σ (x−x̄_l)²,
    θ = atan(t̂). Exact up to coordinate rounding — no angle grid, which
    matters at ~20 boxes/page where the projection-profile search's 0.25°
    quantization error (≥1.7 px across a 400 px page) can flip the order
    of closely-spaced lines. ``line_starts``: start offsets of each line's
    words in the (line-sorted) arrays. 0.0 when there is too little data
    or the fitted angle exceeds ``max_deg`` (not plausible page skew)."""
    n = len(xs)
    if n < min_points:
        return 0.0
    xs = xs.astype(np.float64)
    ys = ys.astype(np.float64)
    counts = np.diff(np.concatenate((line_starts, [n])))
    lid = np.repeat(np.arange(len(line_starts)), counts)
    xm = np.add.reduceat(xs, line_starts) / counts
    ym = np.add.reduceat(ys, line_starts) / counts
    xc = xs - xm[lid]
    yc = ys - ym[lid]
    denom = float(np.dot(xc, xc))
    if denom < 1e-9:
        return 0.0
    ang = float(np.degrees(np.arctan(np.dot(xc, yc) / denom)))
    return ang if abs(ang) <= max_deg else 0.0


def rotate(img: np.ndarray, deg: float, bg: int = 255) -> np.ndarray:
    """Nearest-neighbour rotation about the centre (inverse mapping)."""
    t = np.deg2rad(deg)
    c, s = np.cos(t), np.sin(t)
    h, w = img.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    xs = c * (xx - cx) + s * (yy - cy) + cx
    ys = -s * (xx - cx) + c * (yy - cy) + cy
    xi = np.rint(xs).astype(np.int64)
    yi = np.rint(ys).astype(np.int64)
    ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
    out = np.full_like(img, bg)
    out[ok] = img[yi[ok], xi[ok]]
    return out


def deskew(img: np.ndarray, mask: np.ndarray) -> tuple[np.ndarray, float]:
    """→ (deskewed grayscale page, detected angle in degrees).

    ``estimate_skew_deg`` returns exactly the angle that was applied via
    ``rotate``; undoing it is ``rotate(img, -angle)`` (validated by the
    residual-≈-0 re-detection test)."""
    ang = estimate_skew_deg(mask)
    return rotate(img, -ang), ang


def correct_orientation(mask: np.ndarray) -> int:
    """I4: 0 if text lines run horizontally (x-variance dominates),
    else 90 (page is sideways; caller rot90s)."""
    ys, xs = np.nonzero(mask)
    if len(xs) < 16:
        return 0
    return 0 if xs.var() >= ys.var() else 90


# ---------------------------------------------------------------------------
# deterministic synthetic page renderer (the test/bench fixture): horizontal
# "text lines" of word-shaped ink rectangles, optional skew + salt noise.
# ---------------------------------------------------------------------------

def render_page(n_lines: int = 8, width: int = 360, height: int = 260,
                skew_deg: float = 0.0, noise: int = 0,
                seed: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    img = np.full((height, width), 255, dtype=np.uint8)
    for i in range(n_lines):
        y = 28 + i * 26
        x = 24
        while x < width - 60:
            wlen = int(rng.integers(18, 46))
            img[y:y + 9, x:x + wlen] = 0
            x += wlen + 12
    if skew_deg:
        img = rotate(img, skew_deg)  # forward skew; deskew must undo it
    for _ in range(noise):
        yy = int(rng.integers(0, height))
        xx = int(rng.integers(0, width))
        img[yy, xx] = 0
    return encode_raster(img)


# ---------------------------------------------------------------------------
# the Spark stage: Arrow batches of page blobs → preprocessing features
# ---------------------------------------------------------------------------

PREPROCESS_OUT = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("otsu_t", T.IntegerType(), False),
    T.StructField("ink_ratio", T.DoubleType(), False),
    T.StructField("orientation", T.IntegerType(), False),
    T.StructField("skew_deg", T.DoubleType(), False),
])


def preprocess_pages(df: DataFrame) -> DataFrame:
    """I1→I2→I4→I3 over (media_ref, payload) raster pages, one row of
    features per page."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["payload"]):
                img = decode_raster(bytes(blob))
                mask, t = otsu_threshold(img)              # I1
                mask = opening(mask, 3)                    # I2 denoise
                orient = correct_orientation(mask)         # I4
                if orient == 90:
                    img = np.rot90(img)
                    mask = np.rot90(mask)
                _, ang = deskew(img, mask)                 # I3
                rows.append(dict(
                    media_ref=ref, width=img.shape[1], height=img.shape[0],
                    otsu_t=t, ink_ratio=round(float(mask.mean()), 6),
                    orientation=orient, skew_deg=round(ang, 3)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PREPROCESS_OUT.fields])

    return df.select("media_ref", "payload").mapInPandas(
        run, schema=PREPROCESS_OUT)
