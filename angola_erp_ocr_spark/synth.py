"""Deterministic synthetic corpus generator (seed → identical corpus).

Generates the three tables of FIXTURES.md:
  * documents_raw(doc_id, doc_class, spans)  — interleaved text+media spans
  * documents_expected(doc_id, spans)        — golden extracted sequence
  * media_pages(media_ref, page_no, glyph_grid, dpi)

Doc classes mirror the reference's L14 dispatch (SURVEY §2.3). Text spans
encode positioned lines as ``"x,y|content"`` (stand-in for pdfminer div
coords, api/util.py:2504-2509). Media spans point to glyph-grid pages; their
word streams carry injected OCR confusions that the engine's P6 normalizer
must repair, plus sub-threshold-confidence noise words the quality gate
(conf > 30, util/ocr_pdf.py:390-392) must drop.

The golden sequence is computed here *independently* of the engine, from the
same declared semantics:
  segment  = number of media spans at-or-before the span (offset order)
  rank     = 0 media marker, 1 decoded media line, 2 digital text line
  ordering = (segment, rank, y, x); offsets renumbered 0..n-1
  drops    = lines matching AVOID_RE (upper-cased) or whose final text
             occurs ≥3 times in the doc (repeated-block suppression);
             media words with conf ≤ 30
  media lines are P6-normalized; digital lines are kept verbatim

~1% of docs are heavy (many media pages) to exercise skew handling.
"""

from __future__ import annotations

import math
import random
import re

from .functions.normalize import AVOID_RE, normalize_py
from .glyph import encode_page
from .operators.multimodal import embed_qr

SEED = 42
HEAVY_FRACTION = 0.01
# Pathological-skew class (r5, VERDICT r4 task 1): docs at ids
# PATHO_START, PATHO_START+PATHO_EVERY, … carry PATHO_PAGES media pages —
# the 10^4-page documents SCALE.md's salting escape hatch exists for.
# PATHO_START sits beyond every cached bench corpus (≤ 1M docs), so all
# existing corpora, oracles and round-over-round bench numbers are
# byte-identical; the class appears only in the ≥ 2M-doc scale runs
# (tools/scale10m.py).
# Env-overridable ONLY for the scale runner's smoke mode
# (scale_corpus_dir embeds non-default values in the corpus dir name, so
# a smoke corpus can never be mistaken for the canonical one); every test
# and bench corpus uses the defaults.
import os as _os
PATHO_PAGES = int(_os.environ.get("SPARK_GRAFT_PATHO_PAGES", "10000"))
PATHO_START = int(_os.environ.get("SPARK_GRAFT_PATHO_START", "2000000"))
PATHO_EVERY = int(_os.environ.get("SPARK_GRAFT_PATHO_EVERY", "1000000"))
DPI_LADDER = [150, 200, 250]


def patho_doc_ids(n_docs: int) -> list[str]:
    """Doc ids of the pathological class in an ``n_docs`` corpus — the
    ONE definition of the membership rule (``i >= PATHO_START and
    i % PATHO_EVERY == 0``, mirroring the per-doc branch below). Tools
    must use this instead of re-deriving ids as ``START + k*EVERY``,
    which only agrees when START is a multiple of EVERY (r5 review
    finding: the smoke env START=50000/EVERY=25000 happens to align, but
    e.g. START=60000/EVERY=25000 would silently check the wrong docs)."""
    return [f"doc{i:08d}" for i in range(0, n_docs, PATHO_EVERY)
            if i >= PATHO_START]


# bump when this module changes the corpus content (g3: the skew class), so
# a cached corpus of an older generation is never reused
GENERATION = 3


def scale_corpus_dir(n_docs: int) -> str:
    """Canonical /tmp location of a materialized corpus; shared by every
    writer (``materialize_corpus``) and tools/resume10m.py (reader) so
    they can never disagree on which corpus a run used. The generation
    and the patho knobs are embedded in the name: a stale or smoke-mode
    corpus (env-overridden knobs) can never be mistaken for the
    canonical one."""
    tag = f"{n_docs}_p{PATHO_PAGES}s{PATHO_START}e{PATHO_EVERY}"
    return f"/tmp/spark_graft_scale_corpus_g{GENERATION}_{tag}"


def materialize_corpus(spark, n_docs: int,
                       partitions: int | None = None) -> str:
    """Write ``build_corpus(spark, n_docs)`` once to parquet under
    ``scale_corpus_dir(n_docs)`` (documents_raw, documents_expected,
    media_pages, then a ``_DONE`` marker) and return the directory; a
    directory that already has its marker is reused as is."""
    out = scale_corpus_dir(n_docs)
    marker = _os.path.join(out, "_DONE")
    if not _os.path.exists(marker):
        raw, golden, media = build_corpus(spark, n_docs,
                                          partitions=partitions)
        raw.write.mode("overwrite").parquet(f"{out}/documents_raw")
        golden.write.mode("overwrite").parquet(f"{out}/documents_expected")
        media.write.mode("overwrite").parquet(f"{out}/media_pages")
        open(marker, "w").close()
    return out

# crooked-scan pages (rotated word boxes; the engine's in-pipeline deskew
# must restore upright reading order). Angles on the I3 estimator's 0.25°
# grid, both signs, within the ±6° search window.
SKEW_FRACTION = 0.05
SKEW_ANGLES = [-3.5, -2.0, 2.0, 3.5]

_AVOID = re.compile(AVOID_RE)

_WORDS = (
    "parafuso chapa tubo cabo disco filtro motor bomba valvula sensor "
    "painel modulo suporte correia rolamento junta mola anel placa terminal"
).split()


# ---------------------------------------------------------------------------
# per-class body builders: return list of (text, is_line_for_fields) lines
# ---------------------------------------------------------------------------

def _nif(rng: random.Random) -> str:
    return "54" + "".join(str(rng.randrange(10)) for _ in range(8))


def _amount_pt(rng: random.Random) -> str:
    return f"{rng.randrange(1, 99)}.{rng.randrange(100, 999)},{rng.randrange(10, 99)}"


def _amount_en(rng: random.Random) -> str:
    return f"{rng.randrange(1, 99)},{rng.randrange(100, 999)}.{rng.randrange(10, 99)}"


def _iban(rng: random.Random) -> str:
    groups = ".".join(f"{rng.randrange(10000):04d}" for _ in range(5))
    return f"AO06.{groups}.{rng.randrange(10)}"


def _items_en(rng: random.Random, n: int) -> list[str]:
    lines = ["ITEM DESCRIPTION QTY RATE TOTAL IVA"]
    for i in range(1, n + 1):
        w = _WORDS[rng.randrange(len(_WORDS))].upper()
        qty = rng.randrange(1, 9)
        rate = f"{rng.randrange(10, 999)}.{rng.randrange(10, 99)}"
        total = f"{round(qty * float(rate), 2):.2f}"
        lines.append(f"{i} {w}-{i} {qty} {rate} {total} 14%")
    return lines


def _items_pt(rng: random.Random, n: int) -> list[str]:
    lines = ["ARTIGO DESCRIÇÃO QTD. PR.UNIT TOTAL IVA"]
    for i in range(1, n + 1):
        w = _WORDS[rng.randrange(len(_WORDS))].upper()
        lines.append(f"{i} {w}-{i} {rng.randrange(1, 9)} {_amount_pt(rng)} {_amount_pt(rng)} 14%")
    return lines


def _body_lines(cls: str, rng: random.Random, idx: int) -> list[str]:
    """Body text lines for one document of class `cls` (unique per idx)."""
    nif = _nif(rng)
    if cls == "en_invoice":
        inv = f"FT EN{idx % 97:02d} 2023/{100 + idx % 900}"
        return [
            "TAX INVOICE",
            "INVOICE NUMBER",
            inv,
            f"INVOICE DATE 2023/{1 + idx % 12:02d}/{1 + idx % 28:02d}",
            f"SUPPLIER NIF {nif}",
            "CURRENCY USD",
            *_items_en(rng, 2 + idx % 3),
            f"TAXABLE AMT {_amount_en(rng)}",
            "AMOUNT IN WORDS TWO HUNDRED",  # stop marker — engine drops it
        ]
    if cls == "ao_modelo_factura":
        return [
            "MODELO DE FACTURA",
            f"FT AO{idx % 89:02d} 2023/{100 + idx % 900}",
            f"NIF: {nif}",
            f"DATA {1 + idx % 28:02d}-{1 + idx % 12:02d}-2023",
            *_items_pt(rng, 2 + idx % 3),
            f"TOTAL {_amount_pt(rng)} AKZ",
            "PROCESSADO POR PROGRAMA VALIDADO",  # footer — dropped via AVOID
        ]
    if cls == "mcx_express":
        return [
            "MULTICAIXA EXPRESS",
            f"MONTANTE {_amount_pt(rng)} AKZ",
            f"IBAN {_iban(rng)}",
            f"OPERACAO {100000000 + idx % 899999999}",
            f"DATA 2023/{1 + idx % 12:02d}/{1 + idx % 28:02d}",
        ]
    if cls == "baidirecto":
        return [
            "BAI DIRECTO",
            f"IBAN CREDITADO {_iban(rng)}",
            f"MONTANTE {_amount_pt(rng)} AKZ",
            f"OPERACAO {100000000 + idx % 899999999}",
        ]
    if cls == "pagamento_dc":
        return [
            "PAGAMENTO DC",
            f"REFERENCIA {600000000 + idx % 99999999}",
            f"MONTANTE {_amount_pt(rng)} AKZ",
        ]
    if cls == "modelo6_iva":
        return [
            "MODELO 6",
            f"NIF {nif}",
            f"PERIODO 2023/{1 + idx % 12:02d}",
            f"IMPOSTO APURADO {_amount_pt(rng)}",
        ]
    if cls == "zap_fibra":
        return [
            "ZAP FIBRA",
            "VALOR PAGO",
            f"{_amount_pt(rng)} AKZ",
            f"NIF {nif}",
        ]
    if cls == "rupe":
        return [
            "RUPE",
            "600 022 301 0",
            f"VALOR {_amount_pt(rng)}",
            f"DATA 2023/{1 + idx % 12:02d}/{1 + idx % 28:02d}",
        ]
    # noise
    return [
        " ".join(_WORDS[rng.randrange(len(_WORDS))] for _ in range(6)).upper()
        + f" N{idx}-{j}"
        for j in range(4)
    ]


_CLASS_CYCLE = [
    "en_invoice", "ao_modelo_factura", "mcx_express", "en_invoice",
    "baidirecto", "ao_modelo_factura", "pagamento_dc", "modelo6_iva",
    "zap_fibra", "rupe", "noise", "mcx_express",
]


# ---------------------------------------------------------------------------
# OCR-confusion injection (invertible by the P6 normalizer by construction)
# ---------------------------------------------------------------------------

_CONFUSE = {"0": ["O", "q"], "1": ["l", "I"], "5": ["s", "S"]}


def _corrupt(text: str, rng: random.Random) -> str:
    """Inject one repairable confusion; falls back to clean if not invertible."""
    out = text
    if "AO06" in out and rng.random() < 0.6:
        out = out.replace("AO06", "AOOE", 1)
    if "AKZ" in out and rng.random() < 0.4:
        out = out.replace("AKZ", "AKRZ", 1)
    chars = list(out)
    idxs = [
        i for i in range(1, len(chars) - 1)
        if chars[i] in _CONFUSE and chars[i - 1].isdigit() and chars[i + 1].isdigit()
    ]
    if idxs and rng.random() < 0.7:
        i = idxs[rng.randrange(len(idxs))]
        chars[i] = _CONFUSE[chars[i]][rng.randrange(2)]
        out = "".join(chars)
    return out if normalize_py(out) == normalize_py(text) else text


# ---------------------------------------------------------------------------
# document assembly
# ---------------------------------------------------------------------------

def _line_words(text: str, y: int, x0: int, line_no: int, rng: random.Random):
    """Word boxes for one media line (tesseract image_to_data shape)."""
    words, x = [], x0
    for k, w in enumerate(text.split(" ")):
        words.append(
            dict(x=x, y=y, w=8 * max(len(w), 1), h=12, conf=60 + rng.randrange(40),
                 block=0, par=0, line=line_no, word_idx=k, text=w)
        )
        x += 8 * max(len(w), 1) + 8
    return words


def gen_doc(i: int, seed: int = SEED) -> dict:
    """Generate one document: raw spans, golden spans, media pages, fields."""
    rng = random.Random(f"{seed}:{i}")
    doc_id = f"doc{i:08d}"
    pathological = i >= PATHO_START and i % PATHO_EVERY == 0
    heavy = pathological or rng.random() < HEAVY_FRACTION
    cls = "noise" if heavy else _CLASS_CYCLE[i % len(_CLASS_CYCLE)]
    body = _body_lines(cls, rng, i)

    # Split body into segments; decide digital vs media per segment.
    if heavy:
        n_pages = PATHO_PAGES if pathological else 50 + rng.randrange(250)
        # per-page line-id stride must exceed the page count so line
        # content stays unique WITHIN the doc (repeated-block golden)
        stride = 100_000 if pathological else 1000
        segments = [("media", _body_lines("noise", rng, i * stride + p)) for p in range(n_pages)]
    else:
        media_doc = rng.random() < 0.4  # scanned-receipt path (OCR cascade)
        if media_doc:
            cut = max(1, len(body) // 2)
            segments = [("media", body[:cut]), ("media", body[cut:])]
        else:
            cut = rng.randrange(1, len(body)) if len(body) > 1 else 1
            segments = [("text", body[:cut])]
            if rng.random() < 0.5:
                segments.append(("media", body[cut:]))
            else:
                segments.append(("text", body[cut:]))

    multi = len(segments) >= 3  # letterhead only on genuinely multi-page docs

    raw_spans: list[dict] = []
    media_rows: list[dict] = []
    candidates: list[dict] = []  # golden line candidates
    seg_no = 0  # cumulative media count == segment id
    page_no = 0
    offset = 0
    # digital y is doc-scoped (one scroll): consecutive text segments share a
    # seg id, so y must stay strictly increasing across them for a total order
    y_digital = 8 + rng.randrange(6)

    for kind, lines in segments:
        if kind == "text":
            # positioned digital lines + furniture; emission order scrambled
            ylist, y = [], y_digital
            furniture = [f"PÁGINA {page_no + 1}", "TELEF. 222-333-444"]
            if multi:
                furniture.append("EMPRESA DEMO LDA")
            all_lines = furniture + list(lines)
            for text in all_lines:
                x = 40 + rng.randrange(8)
                ylist.append((y, x, text))
                y += 12 + rng.randrange(5)
            y_digital = y + 20
            order = list(range(len(ylist)))
            rng.shuffle(order)
            for j in order:
                ly, lx, ltext = ylist[j]
                raw_spans.append(dict(kind="text", text=f"{lx},{ly}|{ltext}",
                                      media_ref=None, offset=offset))
                offset += 1
            for ly, lx, ltext in ylist:
                candidates.append(dict(seg=seg_no, rank=2, y=ly, x=lx, text=ltext,
                                       media_ref=None))
        else:
            media_ref = f"page://{doc_id}/{page_no}"
            # AGT invoices carry a QR on their first scanned page whose
            # decoded portal URL becomes a trailing text span (I10,
            # api/util.py:8087-8174)
            qr_url = (
                f"https://portal.agt.minfin.gov.ao/invoice/{doc_id}"
                if seg_no == 0 and cls in ("en_invoice", "ao_modelo_factura")
                else None
            )
            seg_no += 1
            raw_spans.append(dict(kind="media", text="", media_ref=media_ref,
                                  offset=offset))
            offset += 1
            candidates.append(dict(seg=seg_no, rank=0, y=-1, x=-1, text="",
                                   media_ref=media_ref))
            words, y = [], 8 + rng.randrange(6)
            line_ys = []
            furniture = [f"PÁGINA {page_no + 1}", "TELEF. 222-333-444"]
            if multi:
                furniture.append("EMPRESA DEMO LDA")
            page_lines = furniture + list(lines)
            for line_no, text in enumerate(page_lines):
                x0 = 40 + rng.randrange(8)
                corrupted = _corrupt(text, rng)
                wlist = _line_words(corrupted, y, x0, line_no, rng)
                # sub-threshold noise word the quality gate must drop
                if rng.random() < 0.15:
                    wlist.append(dict(x=x0 + 600, y=y, w=16, h=12, conf=12,
                                      block=0, par=0, line=line_no,
                                      word_idx=len(wlist), text=f"zz{line_no}"))
                words.extend(wlist)
                kept = " ".join(w["text"] for w in wlist if w["conf"] > 30)
                candidates.append(dict(seg=seg_no, rank=1, y=y, x=x0,
                                       text=normalize_py(kept), media_ref=media_ref))
                line_ys.append(y)
                y += 12 + rng.randrange(5)
            # Skewed-scan page class (SKEW_FRACTION of readable media
            # pages): the physical rotation of a crooked scan surfaces as
            # ROTATED word-box coordinates (the engine deskews via the I3
            # estimator inside ocr_lines). A right-column reference line is
            # added first, anchored between the first two BODY lines (both
            # survive boilerplate stripping) — its rotated y anchor FLIPS
            # reading order vs those neighbours at every SKEW_ANGLES value,
            # so a broken/absent deskew produces a wrong span sequence, not
            # just jittered coords. Golden keeps the UPRIGHT coordinates:
            # deskew must restore upright order.
            n_kept = sum(1 for w in words if w["conf"] > 30)
            n_body = len(page_lines) - len(furniture)
            if (not heavy and n_kept >= 16 and n_body >= 2
                    and rng.random() < SKEW_FRACTION):
                skew = SKEW_ANGLES[rng.randrange(len(SKEW_ANGLES))]
                ref_text = f"REF CAIXA {i}"
                ref_y = line_ys[len(furniture)] + 6  # between body 0 and 1
                words.extend(_line_words(ref_text, ref_y, 420,
                                         len(page_lines), rng))
                candidates.append(dict(seg=seg_no, rank=1, y=ref_y, x=420,
                                       text=normalize_py(ref_text),
                                       media_ref=media_ref))
                t = math.radians(skew)
                c, s = math.cos(t), math.sin(t)
                for w in words:  # forward rotation + offset keeps uint16 ≥ 0
                    wx, wy = w["x"], w["y"]
                    w["x"] = int(round(c * wx - s * wy)) + 64
                    w["y"] = int(round(s * wx + c * wy)) + 64
            blob = encode_page(words)
            if qr_url is not None:
                blob = embed_qr(blob, qr_url)
                # decoded QR line sorts after the page's real lines (QR_Y)
                candidates.append(dict(seg=seg_no, rank=1, y=999999, x=0,
                                       text=normalize_py(qr_url),
                                       media_ref=media_ref))
            media_rows.append(dict(media_ref=media_ref, page_no=page_no,
                                   glyph_grid=blob,
                                   dpi=DPI_LADDER[i % len(DPI_LADDER)]))
        page_no += 1

    # golden: drop boilerplate, order, renumber
    counts: dict[str, int] = {}
    for c in candidates:
        if c["rank"] != 0:
            counts[c["text"]] = counts.get(c["text"], 0) + 1
    kept = [
        c for c in candidates
        if c["rank"] == 0
        or (not _AVOID.search(c["text"].upper()) and counts[c["text"]] < 3)
    ]
    kept.sort(key=lambda c: (c["seg"], c["rank"], c["y"], c["x"]))
    golden = [
        dict(kind="media" if c["rank"] == 0 else "text",
             text=c["text"], media_ref=c["media_ref"], offset=k)
        for k, c in enumerate(kept)
    ]
    return dict(doc_id=doc_id, doc_class=cls, spans=raw_spans, golden=golden,
                media=media_rows)


# ---------------------------------------------------------------------------
# Spark materialization (distributed: generation is pure per-doc)
# ---------------------------------------------------------------------------

def _span_dicts(spans):
    return [dict(kind=s["kind"], text=s["text"], media_ref=s["media_ref"],
                 offset=s["offset"]) for s in spans]


def _rows_raw(docs):
    for d in docs:
        yield dict(doc_id=d["doc_id"], doc_class=d["doc_class"],
                   spans=_span_dicts(d["spans"]))


def _rows_golden(docs):
    for d in docs:
        yield dict(doc_id=d["doc_id"], spans=_span_dicts(d["golden"]))


def _rows_media(docs):
    for d in docs:
        for m in d["media"]:
            yield dict(media_ref=m["media_ref"], page_no=m["page_no"],
                       glyph_grid=m["glyph_grid"], dpi=m["dpi"])


def build_corpus(spark, n_docs: int, seed: int = SEED, partitions: int | None = None):
    """Distributed corpus build: spark.range → per-partition pure generation.

    Returns (documents_raw, documents_expected, media_pages) DataFrames.
    Generation is pure per-doc, so it scales linearly with partitions and
    never funnels through the driver.
    """
    from .schema import DOCUMENTS_RAW, MEDIA_PAGE
    from pyspark.sql import types as T

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    ids = spark.range(0, n_docs, 1, parts)

    def make_gen(emit, columns):
        def gen_partition(rows_iter):
            import pandas as pd
            for pdf in rows_iter:
                docs = [gen_doc(int(i), seed) for i in pdf["id"]]
                yield pd.DataFrame(list(emit(docs)), columns=columns)
        return gen_partition

    golden_schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", DOCUMENTS_RAW["spans"].dataType, False),
    ])
    raw = ids.mapInPandas(
        make_gen(_rows_raw, ["doc_id", "doc_class", "spans"]), schema=DOCUMENTS_RAW)
    golden = ids.mapInPandas(
        make_gen(_rows_golden, ["doc_id", "spans"]), schema=golden_schema)
    media = ids.mapInPandas(
        make_gen(_rows_media, ["media_ref", "page_no", "glyph_grid", "dpi"]),
        schema=MEDIA_PAGE)
    return raw, golden, media
