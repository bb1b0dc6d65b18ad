"""Schemas and registries for the extraction engine.

The input/output contract (BASELINE.json ``input_hint``):

    documents(doc_id string,
              spans  array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

``kind ∈ {text, media}``. ``text`` spans carry positioned text lines encoded
``"x,y|content"`` (a deterministic stand-in for pdfminer div coordinates,
cf. reference api/util.py:2504-2509). ``media`` spans carry
``media_ref = "page://<doc_id>/<n>"`` pointing into the ``media_pages``
table, whose ``glyph_grid`` binary encodes the page's word boxes (the
deterministic stand-in for a rendered page image + Tesseract,
cf. util/ocr_pdf.py:377-380).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Core span schema (D1/D4 in SURVEY §1)
# ---------------------------------------------------------------------------

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("doc_class", T.StringType(), True),  # ground truth, synth only
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# Word/box stream (D3): mirrors pytesseract image_to_data output
# (reference util/ocr_pdf.py:224-228, 377-380).
WORD_BOX = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("block", T.IntegerType(), False),
        T.StructField("par", T.IntegerType(), False),
        T.StructField("line", T.IntegerType(), False),
        T.StructField("word_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("conf", T.IntegerType(), True),
        T.StructField("x", T.IntegerType(), True),
        T.StructField("y", T.IntegerType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
    ]
)

MEDIA_PAGE = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("glyph_grid", T.BinaryType(), False),
        T.StructField("dpi", T.IntegerType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("docs_out", T.LongType(), False),
        T.StructField("spans_emitted", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# keyword → class routing, mirroring the reference's `"X" in line` cascade
# (api/util.py:903, 1015, 1152-1154, 1893, 2128-2165). Order = precedence.
CLASS_KEYWORDS: list[tuple[str, str]] = [
    ("mcx_express", r"(MULTICAIXA EXPRESS|MCX DEBIT|MCX D[EÉ]BIT)"),
    ("baidirecto", r"(BAIDIRECTO|BAI DIRECTO)"),
    ("pagamento_dc", r"PAGAMENTO DC"),
    ("modelo6_iva", r"MODELO 6"),
    ("zap_fibra", r"ZAP FIBRA"),
    ("rupe", r"(RUPE|REFER[EÊ]NCIA [UÚ]NICA DE PAGAMENTO)"),
    ("ao_modelo_factura", r"(MODELO DE FACTURA|FACTURA N)"),
    ("en_invoice", r"(INVOICE NUMBER|TAX INVOICE|INVOICE DATE)"),
]

# Items-table header keyword lists (reference api/util.py:3622 PT, 3627 EN).
HEADER_WORDS_PT = [
    "UN", "UNIDADE", "DESCRIÇÃO", "QTD.", "PR.UNIT", "TOTAL", "IVA",
    "ARTIGO", "PREÇO", "DESCONTO",
]
HEADER_WORDS_EN = [
    "ITEM", "DESCRIPTION", "QUANTITY", "QTY", "RATE", "TOTAL", "PRICE",
    "UNIT", "AMOUNT", "VAT",
]

# End-of-items stop markers (api/util.py:3671 EN, 5642-5643 PT, 2550-2551).
STOP_MARKERS = [
    "INCIDENCE", "TAXABLE AMT", "UNTAXED AMOUNT", "VAT 5%",
    "PROCESSADO POR PROGRAMA VALIDADO", "OBS:", "AMOUNT IN WORDS",
    "CÓD./MOTIVO INCIDÊNCIA",
]

# bbox field templates (L12, util/pdf_scrape.py:165-328): tiny broadcast dim.
# (doc_class, field, x0, y0, x1, y1) in page points.
FIELD_TEMPLATES: list[tuple[str, str, float, float, float, float]] = [
    ("mcx_express", "datahora", 223.0, 615.0, 326.0, 627.0),
    ("mcx_express", "montante", 223.0, 560.0, 326.0, 575.0),
    ("mcx_express", "operacao", 223.0, 540.0, 326.0, 555.0),
    ("baidirecto", "iban", 100.0, 500.0, 400.0, 515.0),
    ("baidirecto", "montante", 100.0, 470.0, 400.0, 485.0),
    ("pagamento_dc", "referencia", 80.0, 600.0, 300.0, 615.0),
    ("pagamento_dc", "montante", 80.0, 570.0, 300.0, 585.0),
    ("modelo6_iva", "nif", 60.0, 650.0, 250.0, 665.0),
    ("modelo6_iva", "periodo", 60.0, 620.0, 250.0, 635.0),
]

# §2.11 rule table (OCR Import mappings, minus the unsafe `Python` type).
# (doc_class, field, regexp, group_idx, dtype)
EXTRACTION_RULES: list[tuple[str, str, str, int, str]] = [
    ("en_invoice", "invoice_number", r"((FT|FR|PP|FTM)[ /][A-Z0-9]+[ /]?\d{2,4}/\d+)", 0, "string"),
    ("en_invoice", "invoice_date", r"(\d{4}/\d{2}/\d{2}|\d{2}-\d{2}-\d{4})", 0, "date"),
    ("en_invoice", "supplier_nif", r"(\d{10})", 0, "string"),
    ("ao_modelo_factura", "invoice_number", r"((FT|FR|PP|FTM)[ /][A-Z0-9]+[ /]?\d{2,4}/\d+)", 0, "string"),
    ("ao_modelo_factura", "supplier_nif", r"NIF[: ]+(\d{10})", 1, "string"),
    ("mcx_express", "valor_pago", r"([\d.., ]+ ?(AKZ|AOA|KZ))", 0, "decimal"),
    ("rupe", "referencia", r"(\d{3} ?\d{3} ?\d{3} ?\d)", 0, "string"),
]
