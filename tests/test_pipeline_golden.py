"""Golden span-sequence equality: the BASELINE.json per-row invariant.

Pass = exact equality on (kind, text, media_ref, order) per document,
between the engine's extraction and the generator's independently computed
golden sequence (SURVEY §5 strategy 1).
"""

from __future__ import annotations

from angola_erp_ocr_spark.plans.pipeline import extract, resume_filter
from angola_erp_ocr_spark.synth import build_corpus


def as_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_span_sequence_equality(spark):
    raw, golden, media = build_corpus(spark, 60)
    ext = extract(raw, media)
    g = {r["doc_id"]: as_tuples(r["spans"]) for r in golden.collect()}
    e = {r["doc_id"]: as_tuples(r["spans"]) for r in ext.collect()}
    assert set(g) == set(e)
    mismatched = [d for d in g if g[d] != e[d]]
    assert mismatched == []


def test_idempotence(spark):
    """Running extraction twice yields the same result (SURVEY §5.4)."""
    raw, _, media = build_corpus(spark, 12)
    a = extract(raw, media)
    b = extract(raw, media)
    rows_a = {r["doc_id"]: as_tuples(r["spans"]) for r in a.collect()}
    rows_b = {r["doc_id"]: as_tuples(r["spans"]) for r in b.collect()}
    assert rows_a == rows_b


def test_resume_filter_anti_join(spark):
    """Resume = anti-join committed doc_ids; processes only the remainder."""
    raw, _, media = build_corpus(spark, 10)
    committed = raw.select("doc_id").limit(4)
    remaining = resume_filter(raw, committed)
    assert remaining.count() == raw.count() - 4


def test_text_only_extraction(spark):
    """Pipeline works without a media table (digital-only corpora)."""
    raw, golden, media = build_corpus(spark, 8)
    digital_only = raw.where(
        "not exists(spans, s -> s.kind = 'media')"
    )
    if digital_only.count() == 0:
        return
    ext = extract(digital_only, None)
    g = {r["doc_id"]: as_tuples(r["spans"]) for r in golden.collect()}
    for r in ext.collect():
        assert as_tuples(r["spans"]) == g[r["doc_id"]]


def test_rotated_page_extracts_identical_to_upright_twin(spark):
    """I3 in the flagship path (VERDICT r3 task 5): a crooked scan —
    word boxes rotated by a few degrees, including a right-column line
    whose rotated y anchor flips reading order — must extract a span
    sequence IDENTICAL to its upright twin. Also pins that the deskew is
    doing the work: ordering the rotated twin's raw word boxes by each
    line's min-y anchor gives a different line order than upright."""
    import math

    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    lines = [
        ("CABECALHO FACTURA DEMO", 10, 40),
        ("REF CAIXA 777", 16, 420),       # right column, between lines
        ("PRIMEIRA LINHA DO CORPO", 22, 40),
        ("SEGUNDA LINHA DO CORPO", 36, 40),
        ("TERCEIRA LINHA DO CORPO", 50, 40),
    ]

    def words(rotate_deg):
        t = math.radians(rotate_deg)
        c, s = math.cos(t), math.sin(t)
        out = []
        for ln, (text, y, x0) in enumerate(lines):
            x = x0
            for k, w in enumerate(text.split(" ")):
                wx, wy = x, y
                if rotate_deg:
                    wx = int(round(c * x - s * y)) + 64
                    wy = int(round(s * x + c * y)) + 64
                out.append(dict(x=wx, y=wy, w=8 * len(w), h=12, conf=80,
                                block=0, par=0, line=ln, word_idx=k, text=w))
                x += 8 * len(w) + 8
        return out

    def corpus(deg_by_doc):
        docs = [(d, None, [("media", "", f"page://{d}/0", 0)])
                for d in deg_by_doc]
        media = [(f"page://{d}/0", 0, bytearray(encode_page(words(deg))), 150)
                 for d, deg in deg_by_doc.items()]
        return (spark.createDataFrame(docs, DOCUMENTS_RAW)
                .select("doc_id", "spans"),
                spark.createDataFrame(media, MEDIA_PAGE))

    raw, media = corpus({"up": 0.0, "rotneg": -3.5, "rotpos": 2.0})
    got = {r["doc_id"]: [(s["kind"], s["text"], s["offset"])
                         for s in r["spans"]]
           for r in extract(raw, media).collect()}
    up = [(k, t.replace("page://up/0", "")) for k, t, _ in got["up"]]
    assert [t for _, t, _ in got["up"]].count("REF CAIXA 777") == 1
    for d in ("rotneg", "rotpos"):
        assert ([(k, t) for k, t, _ in got[d]]
                == [(k, t) for k, t, _ in got["up"]]), d

    # teeth: the raw rotated boxes put the lines in another order, so the
    # equality above is the deskew's work. Each line's anchor is its words'
    # (min y, min x), as in the decoder before deskew
    def line_order(rotate_deg):
        anchors = {}
        for w in words(rotate_deg):
            y, x = anchors.get(w["line"], (w["y"], w["x"]))
            anchors[w["line"]] = (min(y, w["y"]), min(x, w["x"]))
        return sorted(anchors, key=anchors.get)

    assert line_order(0.0) == [0, 1, 2, 3, 4]
    for deg in (-3.5, 2.0):
        assert line_order(deg) != line_order(0.0), deg
