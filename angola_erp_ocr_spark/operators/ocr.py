"""I1–I10: the OCR stage as one Arrow-batched ``mapInPandas`` transform.

The reference renders PDF pages and calls Tesseract per page
(ocr_read.py:133-162; util/ocr_pdf.py:242-455 ``ocr_img`` with its
preprocessing ladder I1–I4). Here the rendered page is a glyph-grid binary
(see ``glyph.py``) and "OCR" is its exact decode — the Spark-side shape is
the real thing: media pages arrive as Arrow batches, the stage emits the
word/box stream D3 (media_ref, page_no, block, par, line, word_idx, text,
conf, x, y, w, h) with zero per-row Python at the DataFrame level.

Image preprocessing (grayscale/threshold/deskew, I1–I4) and real decoders
would slot into ``ocr_lines``' ``run_batch`` unchanged; they are pure batch
functions of the binary column. Real image/audio libs are optional — see
``operators/multimodal.py`` for the gated stubs.

Quality gates mirror the reference: words kept at conf > 30
(util/ocr_pdf.py:390-392); pages with no readable words are surfaced via
``page_confidence`` (ERRO_QUALIDADE, util/ocr_pdf.py:237-239, 382-383).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import numpy as np

from ..glyph import conf_signed, decode_batch_columns, naming_bad_page
from ..schema import WORD_BOX

CONF_THRESHOLD = 30  # util/ocr_pdf.py:390-392

# Resolution model for the retry ladder's DPI rungs (reference `resolucao`
# render parameter, 150..300 DPI: api/util.py:876, 1843, 3707; ocr_read.py:88).
# Tesseract's accuracy collapses below ~8 px glyph height (public Tesseract
# guidance: capital height ≳ 8-10 px / ~300 DPI for small print), so a word
# whose box height h (in 1/72-inch points) renders below MIN_GLYPH_PX at the
# chosen DPI is unresolvable at that rung: readable iff h·dpi/72 ≥ MIN_GLYPH_PX,
# i.e. h·dpi ≥ MIN_GLYPH_PX·72. ``dpi=None`` (the default everywhere outside
# the ladder) disables the model — the exact decoder reads every glyph.
MIN_GLYPH_PX = 8
_GLYPH_GATE = MIN_GLYPH_PX * 72

# Lexicon rescue floor (r5): a sub-gate word can be dictionary-validated
# (Tesseract dawg word-list boost; reference lang sweep
# util/ocr_pdf.py:1170-1183) only if its raw confidence is at least this —
# near-zero recognitions are glyph garbage no dictionary should bless.
LEXICON_RESCUE_MIN_CONF = 3

# Page-segmentation modes that DISCARD the page's embedded
# (block, par, line) structure and re-segment geometrically (words
# sharing a y row form a line, x-ordered) — the decoder behavior behind
# the reference ladder's psm 4 (column-aware) and psm 12 (sparse) rungs
# (util/ocr_pdf.py:1170-1183, api/util.py:3725). psm 6 (the default
# everywhere outside the ladder) trusts the embedded segmentation.
RESEGMENT_PSMS = frozenset({4, 12})

# Skew detection for the fused decode stage (I3 inside the flagship
# path): on an upright page every word of a physical line shares its y
# anchor (small OCR jitter aside); under a rotation θ the words of one
# line spread vertically by Δx·tanθ. A page is skew-SUSPECT iff any of
# its lines has y-spread ≥ SKEW_SPREAD_PX AND spread/Δx ≥ SKEW_MIN_SLOPE
# (≈ tan 0.6°) — the slope term makes detection length-invariant (a 2°
# skew on a 40 px line spreads only ~1.4 px; a plain pixel floor misses
# it), while the pixel floor rejects single-pixel rounding jitter. Only
# suspect pages pay the per-page angle search; the vectorized spread/Δx
# check is two extra reduceats over data the stage already groups.
SKEW_SPREAD_PX = 2
SKEW_MIN_SLOPE = 0.01


def ocr_words(media_pages: DataFrame) -> DataFrame:
    """media_pages(media_ref, page_no, glyph_grid, ...) → word table (D3).

    One ``decode_batch_columns`` call per Arrow batch; the word texts are
    strict UTF-8 and conf=-1 (glyph.CONF_NOWORD) comes back as -1."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            with naming_bad_page(pdf["media_ref"], pdf["page_no"]):
                word_page, hdr, tstart, tend, joined, _ = \
                    decode_batch_columns([bytes(b) for b in pdf["glyph_grid"]])
            page_no = pdf["page_no"].to_numpy().astype(np.int32)
            out = {"media_ref": pdf["media_ref"].to_numpy()[word_page],
                   "page_no": page_no[word_page]}
            for k in ("block", "par", "line", "word_idx"):
                out[k] = hdr[k].astype(np.int32)
            out["text"] = [joined[s:e].decode("utf-8")
                           for s, e in zip(tstart.tolist(), tend.tolist())]
            out["conf"] = conf_signed(hdr["conf"])
            for k in ("x", "y", "w", "h"):
                out[k] = hdr[k].astype(np.int32)
            yield pd.DataFrame(out)

    return media_pages.select("media_ref", "page_no", "glyph_grid").mapInPandas(
        run, schema=WORD_BOX
    )


def readable_words(words: DataFrame) -> DataFrame:
    """Quality gate: keep words with conf > threshold."""
    return words.where(F.col("conf") > CONF_THRESHOLD)


def page_confidence(words: DataFrame) -> DataFrame:
    """I7/A1 (util/ocr_pdf.py:222-240): per-page mean confidence, excluding
    tesseract's -1 sentinel rows; pages failing the gate flagged."""
    return (
        words.where(F.col("conf") != -1)
        .groupBy("media_ref", "page_no")
        .agg(
            F.avg("conf").alias("mean_conf"),
            F.count(F.when(F.col("conf") > CONF_THRESHOLD, 1)).alias("readable_words"),
        )
        .withColumn("quality_ok", F.col("readable_words") > 0)
    )


def _joined_text(*keys: str) -> Column:
    """Group aggregate: the group's word texts joined by spaces, ordered
    by ``keys`` (a hash aggregation — no windows, no Python)."""
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(F.struct(*keys, "text"))),
                    lambda s: s["text"]),
        " ",
    ).alias("text")


def assemble_lines(words: DataFrame) -> DataFrame:
    """L6 (util/ocr_pdf.py:177-194): word stream → line table.

    Words group on (media_ref, page_no, block, par, line); text joins in
    word_idx order; the line's (x, y) anchor is the min word box. A single
    hash aggregation — no windows, no Python.
    """
    return (
        words.groupBy("media_ref", "page_no", "block", "par", "line")
        .agg(
            _joined_text("word_idx"),
            F.min("x").alias("x"),
            F.min("y").alias("y"),
        )
    )


def roi_ocr(media_pages: DataFrame, rois: DataFrame,
            conf_threshold: int = CONF_THRESHOLD) -> DataFrame:
    """I11 (util/roi_selection_with_orientation_and_ocr.py:63-120):
    ROI-crop OCR as a named operator.

    The reference crops a user-selected rectangle out of the page image
    and runs ``pytesseract.image_to_string`` on the crop. Here the page
    decodes ONCE into the word/box stream (I5/I6) and each ROI selects
    the words whose boxes overlap its rectangle — the same geometric
    predicate as the L12 bbox-template join (util/pdf_scrape.py:165-328).
    For an exact decoder crop-then-decode ≡ decode-then-filter, and at
    scale it means one decode per page regardless of how many ROIs ask
    about it, with the tiny ROI table broadcast.

    ``rois``: (roi_id, media_ref, x0, y0, x1, y1). Returns one row per
    (media_ref, page_no, roi_id) with the crop's text in reading order,
    its readable word count and mean confidence (the reference shows the
    crop text + per-crop confidence interactively).
    """
    words = ocr_words(media_pages).where(F.col("conf") > conf_threshold)
    r = F.broadcast(rois.select(
        "roi_id", F.col("media_ref").alias("r_ref"),
        "x0", "y0", "x1", "y1"))
    overlap = (
        (F.col("x") < F.col("x1")) & (F.col("x") + F.col("w") > F.col("x0"))
        & (F.col("y") < F.col("y1")) & (F.col("y") + F.col("h") > F.col("y0"))
    )
    j = words.join(r, (F.col("media_ref") == F.col("r_ref")) & overlap)
    return (
        j.groupBy("media_ref", "page_no", "roi_id")
        .agg(
            _joined_text("block", "par", "line", "word_idx"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.avg("conf").alias("mean_conf"),
        )
    )


QR_Y = 999999     # decoded QR sorts after every real line of its page
QR_BLOCK = 9999


def segment_blocks(words: DataFrame) -> DataFrame:
    """I9 (api/util.py:8699-8829): text-block segmentation — one row per
    (media_ref, page_no, block): the block's full text in
    (par, line, word_idx) reading order plus its top-left anchor.
    A single hash aggregation; blocks become spans with bboxes feeding
    L3 reading order."""
    return (
        words.groupBy("media_ref", "page_no", "block")
        .agg(
            _joined_text("par", "line", "word_idx"),
            F.min("x").alias("x"),
            F.min("y").alias("y"),
        )
    )


def ocr_lines(media_pages: DataFrame, passthrough: tuple[str, ...] = (),
              conf_threshold: int = CONF_THRESHOLD,
              emit_qr: bool = False, dpi: int | None = None,
              lexicon: frozenset[str] | None = None,
              psm: int = 6) -> DataFrame:
    """Fused decode→conf-gate→line-assembly in ONE mapInPandas stage.

    ``psm`` (default 6) is the segmentation dimension (r5): Tesseract's
    page-segmentation mode decides how words group into lines, and the
    reference's retry ladder sweeps it (psm 6 → 4 → 12,
    util/ocr_pdf.py:1170-1183, aprender_OCR api/util.py:3725). This
    decoder maps the sweep onto its two honest behaviors: psm 6 TRUSTS
    the page's embedded (block, par, line) segmentation; psm 4 and 12
    (RESEGMENT_PSMS) DISCARD it and re-segment geometrically — words
    sharing a y row form a line, ordered by x, lines numbered top-down
    per page with block=par=0. The two agree wherever embedded ids are
    consistent with geometry; on a scan whose segmentation is corrupted
    (keyword and amount split across interleaved line ids) only the
    re-segmenting rung reunites the line — which is exactly why the
    reference retries under a different psm. The column-aware(4) vs
    sparse(12) sub-distinction stays provenance: this decoder has no
    further segmentation signal to differ on. Geometric groups share one
    y by construction, so the deskew suspect rule (y-spread) never fires
    under re-segmentation — deskew remains a psm-6 behavior, like the
    reference, which deskews before the primary pass only.

    ``lexicon`` (default None = off) is the language dimension (r5): a
    word BELOW the confidence gate (but ≥ LEXICON_RESCUE_MIN_CONF, and
    still resolvable under the ``dpi`` model) is kept iff its uppercased
    text is in the active language lexicon — the deterministic stand-in
    for Tesseract's dictionary validation, which is why the reference
    sweeps languages at all (util/ocr_pdf.py:1170-1183). Build the set
    with ``functions.languages.lexicon_for("por+eng")``.

    Deskew (I3) runs inside the decode stage: a scanned page's physical
    skew surfaces as ROTATED word-box coordinates
    (reference deskews the image before Tesseract, util/ocr_pdf.py:129-141;
    with the decoder downstream the observable equivalent is rotated
    boxes). Suspect pages — any assembled line whose words spread >
    ``SKEW_SPREAD_PX`` vertically — get the pooled within-line slope of
    their word boxes (raster.estimate_skew_boxes; the standalone raster
    path's projection-profile search would quantize the angle too coarsely
    for ~20 boxes per page) and their line anchors recomputed from
    inverse-rotated word coordinates, restoring upright reading order.
    Upright pages never trigger, so the hot path stays one reduceat
    heavier and nothing else.

    ``dpi`` (default None = off) applies the resolution model: words whose
    rendered glyph height h·dpi/72 falls below ``MIN_GLYPH_PX`` are
    unresolvable at this render resolution and are dropped like
    sub-confidence words — the decode-side behavior that makes the retry
    ladder's DPI rungs (plans/cascade.RETRY_LADDER; reference `resolucao`
    sweep, api/util.py:876,1843,3725) real passes rather than metadata.

    ``emit_qr=True`` additionally decodes the page's embedded QR payload
    (I10, reference api/util.py:8007-8086) and emits it as a synthetic
    line (block=QR_BLOCK, y=QR_Y → sorts after the page's real lines) —
    in the SAME pass, so the page blobs cross the Arrow boundary once,
    not twice.

    Equivalent to ``assemble_lines(readable_words(ocr_words(pages)))`` but
    words never leave the UDF: no word-level Arrow transfer and no
    (media_ref, page, block, par, line) shuffle — at 10^12 docs that
    shuffle is ~4× the row count of the line table and pure overhead,
    since words of a line are already adjacent within their page blob.
    Numeric per-line reductions are `np.minimum.reduceat` over the sorted
    word arrays; Python touches line texts only.

    ``passthrough`` columns (e.g. doc_id/seg pre-joined onto the page
    table) are replicated onto every emitted line, so callers can avoid a
    line-level join back to page metadata.
    """
    from pyspark.sql import types as T

    from .multimodal import extract_qr_at
    from .raster import estimate_skew_boxes

    def _deskewed_anchors(h, starts_rel):
        """Per-line (x, y) anchors from inverse-rotated word coords of ONE
        suspect page; None when the estimator finds no angle."""
        ang = estimate_skew_boxes(h["y"], h["x"], starts_rel)
        if abs(ang) < 0.1:
            return None
        t = np.deg2rad(ang)
        c, s = np.cos(t), np.sin(t)
        px = h["x"].astype(np.float64)
        py = h["y"].astype(np.float64)
        rx = c * px + s * py    # R(−θ): x = c·x' + s·y'
        ry = -s * px + c * py   #         y = −s·x' + c·y'
        return (np.rint(np.minimum.reduceat(rx, starts_rel)).astype(np.int32),
                np.rint(np.minimum.reduceat(ry, starts_rel)).astype(np.int32))

    base = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("block", T.IntegerType(), False),
        T.StructField("par", T.IntegerType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("x", T.IntegerType(), True),
        T.StructField("y", T.IntegerType(), True),
    ])
    in_schema = media_pages.schema
    schema = T.StructType(base.fields + [in_schema[c] for c in passthrough])
    cols = ["media_ref", "page_no", "glyph_grid", *passthrough]
    empty_pdf = pd.DataFrame({f.name: [] for f in schema.fields})

    def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """Whole-batch vectorized path (GG02 only): ONE gather-decode and
        ONE stable argsort over the batch's every word, instead of ~15
        tiny-array numpy calls per page — measured 75 µs/page → <15 µs/page
        on the bench corpus (pages average ~20 words)."""
        blobs = [bytes(b) for b in pdf["glyph_grid"]]
        with naming_bad_page(pdf["media_ref"], pdf["page_no"]):
            word_page, hdr, tstart, tend, joined, rel_end = \
                decode_batch_columns(blobs)
        # conf gate (255-encoded conf=-1 must not pass; two uint8 compares)
        keepm = (hdr["conf"] > conf_threshold) & (hdr["conf"] != 255)
        if dpi is not None:  # resolution model (see MIN_GLYPH_PX)
            keepm &= hdr["h"].astype(np.int64) * dpi >= _GLYPH_GATE
        if lexicon:
            # dictionary validation: sub-gate words rescued iff in the
            # active lexicon; never below the conf floor, and a glyph the
            # resolution model cannot resolve stays unreadable
            resc = ((~keepm) & (hdr["conf"] != 255)
                    & (hdr["conf"] >= LEXICON_RESCUE_MIN_CONF))
            if dpi is not None:
                resc &= hdr["h"].astype(np.int64) * dpi >= _GLYPH_GATE
            cand = np.nonzero(resc)[0]
            if len(cand):
                hit = np.fromiter(
                    (joined[tstart[i]:tend[i]].decode("utf-8", "replace")
                     .upper() in lexicon for i in cand.tolist()),
                    bool, count=len(cand))
                keepm[cand[hit]] = True
        wp = word_page[keepm]
        h = hdr[keepm]
        if psm in RESEGMENT_PSMS:
            # geometric re-segmentation: line = (page, y row), words
            # ordered by x (word_idx tiebreak); embedded ids discarded
            gk = (wp << 32) | h["y"].astype(np.int64)
            order = np.lexsort((h["word_idx"], h["x"], gk))
            gkey_all = gk[order]
        else:
            # (page, block, par, line, word_idx) in one int64 key; page
            # index (< Arrow batch size « 2^23) in MSBs keeps batch order
            key = ((wp << 40)
                   | (h["block"].astype(np.int64) << 32)
                   | (h["par"].astype(np.int64) << 24)
                   | (h["line"].astype(np.int64) << 16)
                   | h["word_idx"].astype(np.int64))
            order = np.argsort(key, kind="stable")
            gkey_all = key[order] >> 16           # line id sans word_idx
        h2 = h[order]
        if len(gkey_all):
            bounds = np.nonzero(np.diff(gkey_all))[0] + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(gkey_all)]))
            line_page = wp[order][starts]
            if psm in RESEGMENT_PSMS:
                blk = np.zeros(len(starts), np.int32)
                par = np.zeros(len(starts), np.int32)
                # per-page top-down line numbering (groups are already
                # sorted by (page, y))
                lin = (np.arange(len(starts))
                       - np.searchsorted(line_page, line_page)).astype(
                           np.int32)
            else:
                blk = h2["block"][starts].astype(np.int32)
                par = h2["par"][starts].astype(np.int32)
                lin = h2["line"][starts].astype(np.int32)
            lx = np.minimum.reduceat(h2["x"], starts).astype(np.int32)
            ly = np.minimum.reduceat(h2["y"], starts).astype(np.int32)
            # suspect pages only (see SKEW_SPREAD_PX/SKEW_MIN_SLOPE);
            # words and lines are page-contiguous after the stable sort
            spread = (np.maximum.reduceat(h2["y"], starts).astype(np.int64)
                      - ly)
            dx = np.maximum.reduceat(h2["x"], starts).astype(np.int64) - lx
            sus = ((spread >= SKEW_SPREAD_PX)
                   & (spread >= SKEW_MIN_SLOPE * dx))
            if sus.any():
                wp_sorted = wp[order]
                for p in np.unique(line_page[sus]).tolist():
                    w0 = np.searchsorted(wp_sorted, p, "left")
                    w1 = np.searchsorted(wp_sorted, p, "right")
                    l0 = np.searchsorted(line_page, p, "left")
                    l1 = np.searchsorted(line_page, p, "right")
                    got = _deskewed_anchors(h2[w0:w1], starts[l0:l1] - w0)
                    if got is not None:
                        lx[l0:l1], ly[l0:l1] = got
            ws = tstart[keepm][order].tolist()
            we = tend[keepm][order].tolist()
            wb = [joined[s:e] for s, e in zip(ws, we)]
            texts = [b" ".join(wb[s:e]).decode("utf-8")
                     for s, e in zip(starts.tolist(), ends.tolist())]
        else:
            line_page = np.zeros(0, dtype=np.int64)
            blk = par = lin = lx = ly = np.zeros(0, dtype=np.int32)
            texts = []
        if emit_qr:
            lens = np.fromiter((len(b) for b in blobs), np.int64,
                               count=len(blobs))
            qi, qtext = [], []
            for i in np.nonzero(lens > rel_end)[0].tolist():
                qr = extract_qr_at(blobs[i], int(rel_end[i]))
                if qr is not None:
                    qi.append(i)
                    qtext.append(qr)
            if qi:
                nq = len(qi)
                line_page = np.concatenate((line_page,
                                            np.asarray(qi, dtype=np.int64)))
                blk = np.concatenate((blk, np.full(nq, QR_BLOCK, np.int32)))
                par = np.concatenate((par, np.zeros(nq, np.int32)))
                lin = np.concatenate((lin, np.zeros(nq, np.int32)))
                lx = np.concatenate((lx, np.zeros(nq, np.int32)))
                ly = np.concatenate((ly, np.full(nq, QR_Y, np.int32)))
                texts = texts + qtext
        if not len(line_page):
            return empty_pdf
        out = {
            "media_ref": pdf["media_ref"].to_numpy()[line_page],
            "page_no": pdf["page_no"].to_numpy().astype(np.int32)[line_page],
            "block": blk, "par": par, "line": lin,
            "text": texts, "x": lx, "y": ly,
        }
        for c in passthrough:
            out[c] = pdf[c].to_numpy()[line_page]
        return pd.DataFrame(out)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return map(run_batch, batches)

    return media_pages.select(*cols).mapInPandas(run, schema=schema)
