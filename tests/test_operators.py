"""Single-operator unit tests against hand-computed outputs (SURVEY §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from angola_erp_ocr_spark.functions.normalize import (
    CASH_RE,
    DATE_RE,
    iban_regroup_col,
    normalize_col,
    normalize_py,
    tokenize_col,
)
from angola_erp_ocr_spark.glyph import decode_page, encode_page
from angola_erp_ocr_spark.operators import layout
from angola_erp_ocr_spark.operators.ocr import assemble_lines, ocr_words, readable_words


def test_normalize_parity_python_vs_spark(spark):
    samples = [
        "IBAN AOOE.0040.0000",
        "TOTAL 1.2q4,56 AKRZ",
        "DATA 2O23/05/17",
        "REF 3s8 1l1",
        "15 DE MAIO DE 2023",
        "plain text stays",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    got = [r[0] for r in df.select(normalize_col(F.col("t"))).collect()]
    assert got == [normalize_py(s) for s in samples]


def test_normalize_repairs():
    assert normalize_py("AOOE.0040") == "AO06.0040"
    assert normalize_py("2q22") == "2022"
    assert normalize_py("1O0") == "100"
    assert normalize_py("4 ,5") == "4,5"


def test_iban_regroup(spark):
    # api/util.py:1746-1757: pad 2-3 digit groups to 4
    df = spark.createDataFrame([("AO06.40.0000.123.4567.8901.2",)], ["i"])
    out = df.select(iban_regroup_col(F.col("i")).alias("o")).first()["o"]
    assert out == "AO06.0040.0000.0123.4567.8901.0002"


def test_cash_and_date_predicates(spark):
    rows = [("total 1.234,56 akz", True), ("total 1,234.56 usd", True),
            ("no amounts here", False)]
    df = spark.createDataFrame(rows, ["t", "want"])
    got = df.select((F.col("t").rlike(CASH_RE)).alias("g"), "want").collect()
    assert all(r["g"] == r["want"] for r in got)
    dates = [("2023/05/17", True), ("17-05-2023", True), ("23-5-17", False)]
    df2 = spark.createDataFrame(dates, ["t", "want"])
    got2 = df2.select((F.col("t").rlike(DATE_RE)).alias("g"), "want").collect()
    assert all(r["g"] == r["want"] for r in got2)


def test_tokenize(spark):
    df = spark.createDataFrame([("a,b;; c--d",)], ["t"])
    assert df.select(tokenize_col(F.col("t")).alias("w")).first()["w"] == [
        "a", "b", "c", "d"]


def test_glyph_roundtrip():
    words = [dict(x=10, y=20, w=40, h=12, conf=88, block=0, par=0, line=3,
                  word_idx=k, text=t) for k, t in enumerate(["olá", "mundo"])]
    assert decode_page(encode_page(words)) == words


def test_ocr_words_and_line_assembly(spark):
    words = [dict(x=10 + 30 * k, y=50, w=24, h=12, conf=90, block=0, par=0,
                  line=0, word_idx=k, text=t)
             for k, t in enumerate(["TOTAL", "1.234,56", "AKZ"])]
    words.append(dict(x=200, y=50, w=10, h=12, conf=5, block=0, par=0, line=0,
                      word_idx=3, text="zz"))
    pages = spark.createDataFrame(
        [("page://d/0", 0, bytearray(encode_page(words)), 150)],
        "media_ref string, page_no int, glyph_grid binary, dpi int")
    lines = assemble_lines(readable_words(ocr_words(pages))).collect()
    assert len(lines) == 1
    assert lines[0]["text"] == "TOTAL 1.234,56 AKZ"  # conf-5 word gated out
    assert (lines[0]["x"], lines[0]["y"]) == (10, 50)


def test_reading_order(spark):
    rows = [("d", 30, 5, "third"), ("d", 10, 9, "first"),
            ("d", 10, 50, "second")]
    df = spark.createDataFrame(rows, ["doc_id", "y", "x", "text"])
    got = [r["text"] for r in layout.reading_order(df, ["doc_id"])
           .orderBy("line_no").collect()]
    assert got == ["first", "second", "third"]


def test_reading_order_boxes_flow(spark):
    """pdfminer boxes_flow weighting (api/pdf2txt.py:249-261): a 2×2
    two-column page. flow=-1 ignores y (column-major: whole left column
    first); flow=+1 ignores x (pure top-down: row-major); flow=None keeps
    the exact (y, x) order."""
    import pytest as _pytest

    rows = [("d", 0, 40, "L1"), ("d", 0, 400, "R1"),
            ("d", 12, 40, "L2"), ("d", 12, 400, "R2")]
    df = spark.createDataFrame(rows, ["doc_id", "y", "x", "text"])

    def order(**kw):
        return [r["text"] for r in layout.reading_order(df, ["doc_id"], **kw)
                .orderBy("line_no").collect()]

    assert order(boxes_flow=-1.0) == ["L1", "L2", "R1", "R2"]
    assert order(boxes_flow=1.0) == ["L1", "R1", "L2", "R2"]
    assert order() == ["L1", "R1", "L2", "R2"]
    with _pytest.raises(ValueError):
        layout.reading_order(df, ["doc_id"], boxes_flow=1.5)


def test_cluster_rows_by_gap(spark):
    # y values 10,14,18 | 60,63 | 200 → three rows (gap > 20)
    rows = [("d", y) for y in [10, 14, 18, 60, 63, 200]]
    df = spark.createDataFrame(rows, ["doc_id", "y"])
    got = layout.cluster_rows_by_gap(df, ["doc_id"], "y", 20.0)
    ids = [r["row_id"] for r in got.orderBy("y").collect()]
    assert ids == [0, 0, 0, 1, 1, 2]


def test_bucket_columns_fixed(spark):
    # api/util.py:2400-2445 template ranges
    ranges = [("ITEM", 40, 50), ("DESC", 65, 80), ("QTY", 320, 350)]
    df = spark.createDataFrame([(45,), (70,), (330,), (500,)], ["x"])
    got = [r["col_id"] for r in layout.bucket_columns_fixed(df, ranges)
           .orderBy("x").collect()]
    assert got == ["ITEM", "DESC", "QTY", None]


def test_items_region_detection(spark):
    lines = [
        (0, "SUPPLIER XYZ"),
        (1, "ITEM DESCRIPTION QTY RATE TOTAL IVA"),
        (2, "1 WIDGET 2 10.00 20.00 14%"),
        (3, "2 GADGET 1 5.00 5.00 14%"),
        (4, "TAXABLE AMT 25.00"),
        (5, "AFTER STOP"),
    ]
    df = spark.createDataFrame([("d", n, t) for n, t in lines],
                               ["doc_id", "line_no", "text"])
    got = layout.mark_items_region(df, ["doc_id"]).orderBy("line_no").collect()
    assert [r["in_items"] for r in got] == [False, False, True, True, False, False]


def test_extract_strips_boilerplate_repeats_and_avoid(spark):
    """extract() drops AVOID_RE furniture and a line repeated ≥ 3 times
    in one doc (P9 + repeated-block)."""
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW

    lines = ["PÁGINA 1", "body line a", "REPEAT ME", "REPEAT ME",
             "REPEAT ME", "body line b"]
    spans = [("text", f"10,{10 * (i + 1)}|{t}", None, i)
             for i, t in enumerate(lines)]
    docs = spark.createDataFrame([("d", None, spans)],
                                 DOCUMENTS_RAW).select("doc_id", "spans")
    (row,) = extract(docs, None).collect()
    assert [s["text"] for s in row["spans"]] == ["body line a", "body line b"]


def test_k4_annotate_pages_roundtrip(spark):
    """K4 (util/ocr_pdf.py:575-599): low-conf word boxes become highlight
    rects, zero-conf boxes redact rects, appended as an AN01 container
    that coexists with the QR container and leaves the word grid (and QR
    decode) byte-identical; a page with no low-conf word is unchanged."""
    from angola_erp_ocr_spark.glyph import decode_page_columns, encode_page
    from angola_erp_ocr_spark.operators import multimodal

    words = [
        dict(x=10, y=20, w=30, h=12, conf=80, block=0, par=0, line=0,
             word_idx=0, text="BOM"),
        dict(x=50, y=20, w=30, h=12, conf=25, block=0, par=0, line=0,
             word_idx=1, text="FRACO"),
        dict(x=90, y=20, w=30, h=12, conf=0, block=0, par=0, line=0,
             word_idx=2, text="SECRETO"),
        dict(x=0, y=0, w=0, h=0, conf=-1, block=0, par=0, line=0,
             word_idx=3, text=""),  # sentinel row: never annotated
    ]
    blob = multimodal.embed_qr(encode_page(words), "https://agt.example/q")
    # one Arrow batch: a page with no rect between two annotated pages
    clean = encode_page([{**words[0], "conf": 90}])
    low = encode_page([{**words[1], "x": 7, "conf": 10}])
    pages = spark.createDataFrame(
        [("page://a/0", 0, bytearray(blob)),
         ("page://a/1", 1, bytearray(clean)),
         ("page://a/2", 2, bytearray(low))],
        "media_ref string, page_no int, glyph_grid binary").coalesce(1)
    rows = multimodal.annotate_pages(pages).collect()
    out, out_clean, out_low = sorted(rows, key=lambda r: r["media_ref"])
    assert out_clean["n_annotations"] == 0
    assert bytes(out_clean["annotated"]) == clean
    assert out_low["n_annotations"] == 1
    assert multimodal.walk_page_extras(bytes(out_low["annotated"]))[
        "annotations"] == [dict(x=7, y=20, w=30, h=12,
                                kind=multimodal.ANNOT_HIGHLIGHT)]
    assert out["n_annotations"] == 2
    ann_blob = bytes(out["annotated"])
    extras = multimodal.walk_page_extras(ann_blob)
    assert extras["qr"] == "https://agt.example/q"
    kinds = {(a["x"], a["kind"]) for a in extras["annotations"]}
    assert kinds == {(50, multimodal.ANNOT_HIGHLIGHT),
                     (90, multimodal.ANNOT_REDACT)}
    # word grid unchanged under the appended container
    hdr, texts = decode_page_columns(ann_blob)
    assert texts == ["BOM", "FRACO", "SECRETO", ""]


def test_corpus_boilerplate_detect_and_strip(spark):
    """Cross-doc boilerplate: a line recurring in ≥ min_docs distinct docs
    is flagged (case/whitespace-normalized); stripping removes exactly
    those lines and keeps unique content."""
    rows = []
    for d in range(6):
        rows.append((f"d{d}", "Footer Legal LDA"))
        rows.append((f"d{d}", "  FOOTER LEGAL LDA "))  # same normalized
        rows.append((f"d{d}", f"content {d}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bl = layout.corpus_boilerplate(df, min_docs=5)
    got = {r["line_norm"]: (r["n_docs"], r["n_occurrences"])
           for r in bl.collect()}
    assert got == {"FOOTER LEGAL LDA": (6, 12)}
    kept = layout.strip_corpus_boilerplate(df, bl)
    assert sorted(r["text"] for r in kept.collect()) == [
        f"content {d}" for d in range(6)]


def test_with_next_line_lookahead(spark):
    rows = [("d", 0, "VALOR PAGO"), ("d", 1, "1.500,00 AKZ"), ("d", 2, "x")]
    df = spark.createDataFrame(rows, ["doc_id", "line_no", "text"])
    got = layout.with_next_line(df, ["doc_id"]).where(
        F.col("text") == "VALOR PAGO").first()
    assert got["next_text"] == "1.500,00 AKZ"


def test_glyph_conf_sentinel_roundtrip():
    """conf=-1 (Tesseract non-word sentinel) must survive the uint8 slot
    and must NOT pass the readable gate; out-of-range fields raise."""
    import pytest

    from angola_erp_ocr_spark.glyph import decode_page, encode_page

    words = [
        dict(x=1, y=2, w=3, h=4, conf=-1, block=0, par=0, line=0,
             word_idx=0, text="sep"),
        dict(x=5, y=6, w=7, h=8, conf=90, block=0, par=0, line=0,
             word_idx=1, text="real"),
    ]
    got = decode_page(encode_page(words))
    assert got[0]["conf"] == -1
    assert got[1]["conf"] == 90
    with pytest.raises(ValueError):
        encode_page([dict(words[1], conf=200)])     # not a Tesseract conf
    with pytest.raises(ValueError):
        encode_page([dict(words[1], x=-5)])         # would wrap in uint16
    with pytest.raises(ValueError):
        encode_page([dict(words[1], block=300)])    # would wrap in uint8


def test_conf_sentinel_excluded_from_ocr(spark):
    """A conf=-1 row reaches neither readable_words nor page_confidence's
    mean (it used to wrap to 255 and pass the conf>30 gate)."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.operators.ocr import (
        ocr_words, page_confidence, readable_words)
    from angola_erp_ocr_spark.schema import MEDIA_PAGE

    blob = bytearray(encode_page([
        dict(x=1, y=2, w=3, h=4, conf=-1, block=0, par=0, line=0,
             word_idx=0, text="sep"),
        dict(x=5, y=2, w=3, h=4, conf=40, block=0, par=0, line=0,
             word_idx=1, text="ok"),
    ]))
    pages = spark.createDataFrame([("m1", 0, blob, 150)], MEDIA_PAGE)
    words = ocr_words(pages)
    assert [r["text"] for r in readable_words(words).collect()] == ["ok"]
    pc = page_confidence(words).first()
    assert pc["mean_conf"] == 40.0      # the -1 row is excluded, not 255
    assert pc["readable_words"] == 1


def test_qr_codec_roundtrip_and_gates(spark):
    """I10: embedded QR decodes exactly; corrupt checksum and QR-less
    pages yield nothing; a PNG page image decodes through the numpy
    detector with no arguments; non-PNG, non-glyph bytes raise."""
    import numpy as np
    import pytest

    from angola_erp_ocr_spark.functions.png import encode_png
    from angola_erp_ocr_spark.functions.qr import render_qr_png
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.operators.multimodal import (
        decode_qr_media, embed_qr, extract_qr)

    page = encode_page([dict(x=1, y=2, w=3, h=4, conf=80, block=0, par=0,
                             line=0, word_idx=0, text="FACTURA")])
    url = "https://portal.agt.minfin.gov.ao/invoice/doc42"
    blob = embed_qr(page, url)
    assert extract_qr(blob) == url
    assert extract_qr(page) is None                  # no QR on the page
    corrupt = blob[:-1] + bytes([blob[-1] ^ 0xFF])   # checksum broken
    assert extract_qr(corrupt) is None
    payload = "https://portaldocontribuinte.minfin.gov.ao/x"
    assert extract_qr(render_qr_png(payload.encode())) == payload
    # a readable PNG with no symbol on it → None, not a crash
    assert extract_qr(encode_png(np.zeros((12, 12), np.uint8))) is None
    with pytest.raises(ValueError, match="not a PNG"):
        extract_qr(b"\x89PNG not a glyph grid")

    pages = spark.createDataFrame(
        [("m1", bytearray(blob)), ("m2", bytearray(page))],
        "media_ref string, payload binary")
    got = decode_qr_media(pages).collect()
    assert [(r["media_ref"], r["qr_text"]) for r in got] == [("m1", url)]


def test_qr_becomes_trailing_text_span(spark):
    """Pipeline integration: the decoded QR URL surfaces as the LAST text
    span of its page segment (reference: decoded URL feeds the portal
    lookup as a text line, api/util.py:8087-8174)."""
    from pyspark.sql import functions as F

    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.operators.multimodal import embed_qr
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    page = encode_page([
        dict(x=40, y=10, w=50, h=12, conf=80, block=0, par=0, line=0,
             word_idx=0, text="MODELO"),
        dict(x=100, y=10, w=50, h=12, conf=80, block=0, par=0, line=0,
             word_idx=1, text="FACTURA"),
    ])
    url = "https://portal.agt.minfin.gov.ao/invoice/q1"
    docs = spark.createDataFrame(
        [("q1", None, [("media", "", "page://q1/0", 0)])],
        DOCUMENTS_RAW).select("doc_id", "spans")
    media = spark.createDataFrame(
        [("page://q1/0", 0, bytearray(embed_qr(page, url)), 150)], MEDIA_PAGE)
    spans = extract(docs, media).first()["spans"]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    assert texts == ["MODELO FACTURA", url]


def test_segment_blocks(spark):
    """I9: block text assembles in (par, line, word_idx) order with the
    min-box anchor."""
    from angola_erp_ocr_spark.operators.ocr import segment_blocks

    rows = [
        # (media_ref, page_no, block, par, line, word_idx, text, conf, x, y, w, h)
        ("m", 0, 0, 1, 0, 0, "tail", 90, 10, 50, 5, 5),
        ("m", 0, 0, 0, 0, 1, "world", 90, 60, 10, 5, 5),
        ("m", 0, 0, 0, 0, 0, "hello", 90, 20, 10, 5, 5),
        ("m", 0, 1, 0, 0, 0, "other", 90, 5, 80, 5, 5),
    ]
    cols = ["media_ref", "page_no", "block", "par", "line", "word_idx",
            "text", "conf", "x", "y", "w", "h"]
    got = {r["block"]: r for r in
           segment_blocks(spark.createDataFrame(rows, cols)).collect()}
    assert got[0]["text"] == "hello world tail"
    assert (got[0]["x"], got[0]["y"]) == (10, 10)
    assert got[1]["text"] == "other"


def test_length_class_heuristics(spark):
    from angola_erp_ocr_spark.functions.normalize import length_class_col
    from pyspark.sql import functions as F

    rows = [("5412345678",), ("12345678901234",), ("123456789",),
            ("REG123456789012",), ("ABC-7",), ("123456789012345",)]
    df = spark.createDataFrame(rows, ["t"])
    got = [r["c"] for r in
           df.select(length_class_col(F.col("t")).alias("c")).collect()]
    assert got == ["nif", "account", "operation", "declaration", "other",
                   "account"]


def test_csv_debug_sink_roundtrip(spark, tmp_path):
    """K3: the debug CSV sink writes readable, header-carrying output."""
    from angola_erp_ocr_spark.sources.tables import write_csv_debug

    df = spark.createDataFrame([("d1", 1, "ola"), ("d2", 2, "mundo")],
                               ["doc_id", "n", "text"])
    out = str(tmp_path / "debug_csv")
    write_csv_debug(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) == [
        ("d1", "ola"), ("d2", "mundo")]


def test_raster_preprocessing_ops(spark):
    """I1–I4 real numpy ops: Otsu separates ink, opening removes salt,
    skew is detected within 0.25° and deskew flattens it, 90°-rotation
    is recognized; the Spark stage emits the same numbers."""
    import numpy as np

    from angola_erp_ocr_spark.operators import raster as R

    blob = R.render_page(skew_deg=2.5, noise=60, seed=9)
    img = R.decode_raster(blob)
    mask, t = R.otsu_threshold(img)
    assert 0 <= t < 128 and 0.05 < mask.mean() < 0.5   # I1
    cleaned = R.opening(mask, 3)
    assert cleaned.sum() < mask.sum()                   # I2 removed salt
    fixed, ang = R.deskew(img, cleaned)                 # I3
    assert abs(ang - 2.5) <= 0.25
    refixed_mask, _ = R.otsu_threshold(fixed)
    assert abs(R.estimate_skew_deg(R.opening(refixed_mask, 3))) <= 0.25
    assert R.correct_orientation(cleaned) == 0          # I4
    assert R.correct_orientation(np.rot90(cleaned)) == 90

    pages = spark.createDataFrame(
        [("p1", bytearray(blob)),
         ("p2", bytearray(R.encode_raster(
             np.ascontiguousarray(np.rot90(R.decode_raster(blob), -1)))))],
        "media_ref string, payload binary")
    got = {r["media_ref"]: r for r in R.preprocess_pages(pages).collect()}
    assert abs(got["p1"]["skew_deg"] - 2.5) <= 0.25
    assert got["p1"]["orientation"] == 0
    assert got["p2"]["orientation"] == 90
    assert abs(got["p2"]["skew_deg"] - 2.5) <= 0.25     # recovered after rot


def test_driver_window_matches_committed_file():
    """The driver validates list(queries())[:50]; DRIVER_WINDOW.md is the
    committed record of that set (ADVICE r4: window composition must be a
    reviewable diff, not a dict-ordering side effect). Regenerate with
    `python tools/write_window.py` after changing the registry."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    import write_window

    with open(os.path.join(repo, "DRIVER_WINDOW.md")) as f:
        committed = f.read()
    assert committed == write_window.render(), (
        "DRIVER_WINDOW.md is stale — run `python tools/write_window.py` "
        "and review the diff")


def test_resolve_languages_keeps_null_and_empty_requests(spark):
    """split(null) explodes to zero rows, which used to DROP the document
    from the output (ADVICE r4). Null/empty requests must survive with
    the same safe-pack fallback a missing component gets."""
    from angola_erp_ocr_spark.functions.languages import (
        FALLBACK_LANG, language_registry, resolve_languages)

    reqs = spark.createDataFrame(
        [("d1", "por"), ("d2", None), ("d3", ""), ("d4", "por+xxx")],
        "doc_id string, requested_lang string")
    out = {r["doc_id"]: r for r in
           resolve_languages(reqs, language_registry(spark)).collect()}
    assert set(out) == {"d1", "d2", "d3", "d4"}  # every doc kept
    assert out["d1"]["lang_ok"] and out["d1"]["resolved_lang"] == "por"
    for d in ("d2", "d3", "d4"):
        assert out[d]["lang_ok"] is False
        assert out[d]["resolved_lang"] == FALLBACK_LANG


def test_lexicon_rescue_in_ocr_lines(spark):
    """r5 lang dimension: a sub-gate word is rescued iff it is in the
    active lexicon — never numerics, never below the conf floor, and
    never a glyph the DPI resolution model cannot resolve."""
    from angola_erp_ocr_spark.functions.languages import lexicon_for
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.operators.ocr import ocr_lines
    from angola_erp_ocr_spark.schema import MEDIA_PAGE

    words = [
        # conf 80: always kept
        dict(x=0, y=0, w=8, h=12, conf=80, block=0, par=0, line=0,
             word_idx=0, text="CLEAN"),
        # conf 5 eng-lexicon word: rescued only when eng pack active
        dict(x=60, y=0, w=8, h=12, conf=5, block=0, par=0, line=0,
             word_idx=1, text="TAXABLE"),
        # conf 5 numeric: no lexicon contains it, never rescued
        dict(x=130, y=0, w=8, h=12, conf=5, block=0, par=0, line=0,
             word_idx=2, text="104,00"),
        # conf 2 lexicon word: below the rescue floor (3), never rescued
        dict(x=200, y=0, w=8, h=12, conf=2, block=0, par=0, line=0,
             word_idx=3, text="INVOICE"),
        # conf 5 lexicon word but 2-pt glyph: unresolvable at 250 DPI
        dict(x=270, y=0, w=8, h=2, conf=5, block=0, par=0, line=1,
             word_idx=0, text="AMOUNT"),
    ]
    blob = bytearray(encode_page(words))
    pages = spark.createDataFrame([("m1", 0, blob, 150)], MEDIA_PAGE)

    def texts(**kw):
        return sorted(r["text"] for r in
                      ocr_lines(pages, conf_threshold=30, **kw).collect())

    # no lexicon: conf gate only (byte-identical legacy behavior)
    assert texts(dpi=250) == ["CLEAN"]
    # por pack: TAXABLE not in it
    assert texts(dpi=250, lexicon=lexicon_for("por")) == ["CLEAN"]
    # eng pack: TAXABLE rescued; numeric, sub-floor and tiny-glyph not
    assert texts(dpi=250, lexicon=lexicon_for("eng")) == ["CLEAN TAXABLE"]
    # por+eng union behaves like eng here
    assert texts(dpi=250, lexicon=lexicon_for("por+eng")) == ["CLEAN TAXABLE"]
    # at 300 DPI the 2-pt glyph resolves (2*300 >= 576) and AMOUNT (eng)
    # is rescued too
    assert texts(dpi=300, lexicon=lexicon_for("eng")) == \
        ["AMOUNT", "CLEAN TAXABLE"]
    # unavailable pack falls back to eng (J4 safe-pack semantics)
    assert texts(dpi=250, lexicon=lexicon_for("deu")) == ["CLEAN TAXABLE"]


def _ladder_row(spark, raw, pages, out_dir, rungs):
    """The committed ladder's row for a one-doc corpus. Each ladder gets
    its own out_dir, so resume cannot mix the rungs of two ladders."""
    from angola_erp_ocr_spark.plans.cascade import cascade_ladder_committed

    return cascade_ladder_committed(
        spark, raw, pages, str(out_dir), ladder=rungs).first()


def test_ladder_lang_rung_recovers_what_por_cannot(spark, tmp_path):
    """r5 VERDICT task 4 teeth: the winning pass of the TAXABLE class is
    determined by LANGUAGE — with the real ladder (rung 2 = eng) the must
    field lands at pass 2; with an all-por ladder at the SAME conf/dpi it
    is never recovered."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.plans.cascade import RETRY_LADDER
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    words = []
    x = 40
    for k, (w, conf) in enumerate(
            [("TAXABLE", 5), ("104,00", 80), ("AKZ", 80)]):
        words.append(dict(x=x, y=10, w=8 * len(w), h=12, conf=conf,
                          block=0, par=0, line=0, word_idx=k, text=w))
        x += 8 * len(w) + 8
    blob = bytearray(encode_page(words))
    raw = spark.createDataFrame(
        [("d0", None, [("media", "", "page://d0/0", 0)])],
        DOCUMENTS_RAW).select("doc_id", "spans")
    pages = spark.createDataFrame([("page://d0/0", 0, blob, 150)],
                                  MEDIA_PAGE)

    got = _ladder_row(spark, raw, pages, tmp_path / "real", RETRY_LADDER)
    assert got["total_amount"] == "104,00"
    assert got["total_amount_pass"] == 2      # rung 2 = lang 'eng'
    assert got["currency_pass"] == 1          # conf-80 words read at rung 1
    assert got["must_ok"]

    por_only = [{**r, "lang": "por"} for r in RETRY_LADDER]
    got_por = _ladder_row(spark, raw, pages, tmp_path / "por", por_only)
    assert got_por["total_amount"] is None    # no gate/DPI can recover it
    assert not got_por["must_ok"]


@pytest.mark.parametrize("op,bad", [
    pytest.param(op, bad, id=bad if op == "ocr_lines" else f"{op}-{bad}")
    for op in ("ocr_lines", "ocr_words", "annotate_pages")
    for bad in ("truncated_gg02", "gg01")])
def test_ocr_lines_error_names_the_bad_page(spark, op, bad):
    """Every glyph stage (ocr_lines, ocr_words, annotate_pages) has one
    decode path: a malformed page (a truncated GG02 blob) or a retired
    GG01 blob fails the batch, and the error names the offending page's
    media_ref and page_no."""
    import struct

    from angola_erp_ocr_spark.operators import multimodal, ocr
    from angola_erp_ocr_spark.schema import MEDIA_PAGE

    stage = {"ocr_lines": ocr.ocr_lines, "ocr_words": ocr.ocr_words,
             "annotate_pages": multimodal.annotate_pages}[op]

    words = [dict(x=0, y=0, w=8, h=12, conf=80, block=0, par=0, line=0,
                  word_idx=0, text="CLEAN")]
    good = encode_page(words)
    if bad == "gg01":
        w = words[0]
        blob = struct.pack("<4sH", b"GG01", 1) + struct.pack(
            "<HHHHBBBBHH", w["x"], w["y"], w["w"], w["h"], w["conf"],
            w["block"], w["par"], w["line"], w["word_idx"], 5) + b"CLEAN"
    else:
        blob = good[:-2]
    rows = [("page://ok/0", 0, bytearray(good), 150),
            ("page://bad/0", 3, bytearray(blob), 150),
            ("page://ok/1", 0, bytearray(good), 150)]
    pages = spark.createDataFrame(rows, MEDIA_PAGE).coalesce(1)
    with pytest.raises(Exception) as ei:
        stage(pages).collect()
    msg = str(ei.value)
    assert "media_ref='page://bad/0' page_no=3" in msg
    assert "batch page 1:" in msg


def test_psm_resegmentation_in_ocr_lines(spark):
    """r5 psm dimension (ocr.RESEGMENT_PSMS): psm 6 trusts the embedded
    (block, par, line) segmentation; psm 4/12 discard it and re-segment
    geometrically by y row, x-ordered. On a page whose embedded line ids
    are corrupted (the amount line split word-per-line) only the
    re-segmenting mode reunites the line; on a consistent page the two
    modes emit identical (text, x, y) lines."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.operators.ocr import ocr_lines
    from angola_erp_ocr_spark.schema import MEDIA_PAGE

    def page(corrupt):
        words, x = [], 40
        for k, w in enumerate(["TOTAL", "104,00", "AKZ"]):
            line_id, widx = ((1, 3, 4)[k], 0) if corrupt else (1, k)
            words.append(dict(x=x, y=24, w=8 * len(w), h=12, conf=80,
                              block=0, par=0, line=line_id, word_idx=widx,
                              text=w))
            x += 8 * len(w) + 8
        words.append(dict(x=40, y=10, w=48, h=12, conf=80, block=0,
                          par=0, line=0, word_idx=0, text="HEADER"))
        return bytearray(encode_page(words))

    def lines(blob, psm):
        pages = spark.createDataFrame([("m1", 0, blob, 150)], MEDIA_PAGE)
        return sorted((r["text"], r["x"], r["y"]) for r in
                      ocr_lines(pages, psm=psm).collect())

    corrupted = page(corrupt=True)
    # psm 6 trusts the corrupted ids: keyword and amount never co-line
    assert lines(corrupted, 6) == sorted([
        ("HEADER", 40, 10), ("TOTAL", 40, 24), ("104,00", 88, 24),
        ("AKZ", 144, 24)])
    # psm 4 re-segments by y: the amount line is reunited, x-ordered
    assert lines(corrupted, 4) == sorted([
        ("HEADER", 40, 10), ("TOTAL 104,00 AKZ", 40, 24)])
    # psm 12 maps to the same re-segmentation behavior
    assert lines(corrupted, 12) == lines(corrupted, 4)
    # consistent page: both modes agree on (text, x, y)
    consistent = page(corrupt=False)
    assert lines(consistent, 6) == lines(consistent, 4)


def test_ladder_rung4_recovers_skewed_low_conf_scan(spark, tmp_path):
    """r5 review finding: the re-segmenting rungs (psm 4/12) group by
    exact y and run no deskew, so a ROTATED low-confidence page that
    fails rung 1's gate shreds at rungs 2/3 — pre-psm it recovered at
    the relaxed gates. Rung 4 (psm 6 + deskew at the floor gate, the
    reference's cross-product revisiting psm 6) restores that recovery;
    a 3-rung ladder leaves the doc unrecoverable."""
    import math

    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.plans.cascade import RETRY_LADDER
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    t = math.radians(3.0)
    c, s = math.cos(t), math.sin(t)
    words, x = [], 40
    # conf 25: fails rung 1 (gate 30); numbers are never lexicon-rescued
    for k, w in enumerate(["TOTAL", "104,00", "AKZ"]):
        wx = int(round(c * x - s * 24)) + 64
        wy = int(round(s * x + c * 24)) + 64
        words.append(dict(x=wx, y=wy, w=8 * len(w), h=12, conf=25,
                          block=0, par=0, line=0, word_idx=k, text=w))
        x += 8 * len(w) + 8
    # second line so the skew estimator has structure to pool
    x = 40
    for k, w in enumerate(["SEGUNDA", "LINHA", "EXTRA"]):
        wx = int(round(c * x - s * 60)) + 64
        wy = int(round(s * x + c * 60)) + 64
        words.append(dict(x=wx, y=wy, w=8 * len(w), h=12, conf=25,
                          block=0, par=0, line=1, word_idx=k, text=w))
        x += 8 * len(w) + 8

    raw = spark.createDataFrame(
        [("d0", None, [("media", "", "page://skew/0", 0)])],
        DOCUMENTS_RAW).select("doc_id", "spans")
    media = spark.createDataFrame(
        [("page://skew/0", 0, bytearray(encode_page(words)), 150)],
        MEDIA_PAGE)

    got = _ladder_row(spark, raw, media, tmp_path / "four", RETRY_LADDER)
    assert got["total_amount"] == "104,00"
    assert got["total_amount_pass"] == 4 and got["must_ok"]

    three_rungs = [r for r in RETRY_LADDER if r["pass_no"] <= 3]
    old = _ladder_row(spark, raw, media, tmp_path / "three", three_rungs)
    assert old["total_amount"] is None and not old["must_ok"]
