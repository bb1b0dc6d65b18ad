"""S3/HTML — DOM-heuristic span extraction from pdfminer-shaped HTML.

The reference's born-digital path renders each PDF page to HTML
(``extract_text_to_fp(..., output_type='html')``), parses the DOM with
lxml (``html.fromstring(raw_html)`` → ``tree.xpath('.//div')``), and
turns each absolutely-positioned ``<div>`` into a layout span by reading
``left:(\\d+)px`` out of its ``style`` attribute and taking
``div.text_content().strip()`` as the text
(api/util.py:2457-2515, 3060-3110; the style grammar is pdfminer's
``position:absolute; ... left:292px; top:1157px; width:27px; ...``).
Divs whose style has no ``left:`` are skipped there via
``IndexError → continue`` (api/util.py:2509-2511).

This module is the Spark-first restatement — the north rule's literal
"HTML boilerplate strip / DOM heuristics" leg. Everything is JVM-side
whole-stage-codegen column expressions (``regexp_extract_all`` +
``posexplode`` + ``regexp_replace`` chains): no lxml, no Python in the
hot path, so a 100 TB corpus of raw HTML parses at scan speed with zero
shuffles — the only exchange in a typical plan is whatever the CALLER
does with the positioned spans afterwards (reading order, L1 bucketing,
field rules all compose on the standard line-table shape).

Scale notes:
  * one row in → ~#divs rows out via a single generator expression
    (explode); Spark pipelines the fan-out inside the scan stage.
  * the div regex is non-backtracking-friendly (lazy body, anchored
    attributes) — per-row cost is linear in the HTML length.
  * ``text_content()`` equivalence: nested inline tags are stripped
    AFTER body capture, so ``<span>a</span><br>b`` → ``ab`` exactly as
    lxml's text_content() concatenates descendant text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import AVOID_RE

# One <div ...>...</div> element, document order. pdfminer never nests
# textbox divs, so the lazy body never swallows a sibling.
_DIV_RE = r"(?s)<div\b[^>]*>.*?</div>"
_BODY_RE = r"(?s)^<div\b[^>]*>(.*)</div>$"
# The style ATTRIBUTE of the opening tag — coordinates are read from it,
# never from text content (the reference reads div.get('style'),
# api/util.py:2492; a body that merely MENTIONS 'left:99px' must not
# position the span).
_STYLE_RE = r'(?s)^<div\b[^>]*\bstyle="([^"]*)"'
_LEFT_RE = r"left:(\d+)px"
_TOP_RE = r"top:(\d+)px"
_TAG_RE = r"<[^>]*>"

# The five entities pdfminer's HTML converter emits (it escapes with
# html.escape(quote=True) plus numeric apostrophes). &amp; must decode
# LAST or "&amp;lt;" would double-decode.
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&"))


def decode_entities(col: Column) -> Column:
    """HTML entity decode as a codegen'd regexp_replace chain."""
    for ent, ch in _ENTITIES:
        col = F.regexp_replace(col, ent, ch)
    return col


def encode_entities(col: Column) -> Column:
    """The inverse chain (& FIRST, so already-encoded text never
    double-encodes its own escapes) — what pdfminer's html.escape does
    when writing div text. Used by fixtures that render HTML from raw
    corpus text."""
    for ent, ch in reversed(_ENTITIES):
        col = F.replace(col, F.lit(ch), F.lit(ent))
    return col


def parse_html_divs(df: DataFrame, html_col: str = "html",
                    keep_unpositioned: bool = False) -> DataFrame:
    """Parse pdfminer-shaped HTML into positioned span rows.

    Input: any DataFrame with an ``html_col`` string column (one page or
    document per row). Output: the input's other columns plus
    ``(div_no, x, y, text)`` — ``div_no`` is the 0-based document-order
    index (lxml ``.//div`` order), ``x``/``y`` the ``left``/``top``
    pixel coordinates, ``text`` the tag-stripped, entity-decoded,
    trimmed text content.

    ``keep_unpositioned=False`` (default) mirrors the reference exactly:
    a div whose style carries no ``left:`` is dropped
    (api/util.py:2509-2511's ``continue``). With ``True`` such divs
    survive with null x/y — the QA-tolerant shape for corpora where a
    crash-stop is unacceptable (north rule R5 restatement).
    """
    carried = [c for c in df.columns if c != html_col]
    clash = {"div_no", "x", "y", "text", "_div", "_style"} & set(carried)
    if clash:
        raise ValueError(
            f"parse_html_divs output columns collide with input columns "
            f"{sorted(clash)}; rename or drop them (the documents table's "
            f"own 'text' is the usual culprit)")
    # plain posexplode (not _outer): a page with zero divs parses to
    # zero span rows, never a fabricated all-null row — callers that
    # must retain empty docs (resume bookkeeping) left-join back on the
    # carried keys
    divs = df.select(
        *carried,
        F.posexplode(
            F.regexp_extract_all(F.col(html_col), F.lit(_DIV_RE), F.lit(0))
        ).alias("div_no", "_div"),
    ).withColumn("_style", F.regexp_extract("_div", _STYLE_RE, 1))
    # regexp_extract returns '' on no-match; nullif keeps the cast null
    # instead of a silent 0 coordinate. Coordinates come from the style
    # attribute only — a style-less div is unpositioned even if its text
    # mentions 'left:99px'.
    x = F.nullif(F.regexp_extract("_style", _LEFT_RE, 1),
                 F.lit("")).cast("int")
    y = F.nullif(F.regexp_extract("_style", _TOP_RE, 1),
                 F.lit("")).cast("int")
    body = F.regexp_extract("_div", _BODY_RE, 1)
    text = F.trim(decode_entities(F.regexp_replace(body, _TAG_RE, "")))
    out = divs.select(*carried, "div_no", x.alias("x"), y.alias("y"),
                      text.alias("text"))
    if not keep_unpositioned:
        out = out.where(F.col("x").isNotNull())
    return out


def strip_dom_boilerplate(spans: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Main-content heuristic over parsed DOM spans: drop empty divs
    (pdfminer's page anchors / spacer divs) and template furniture
    matching the reference's avoid list (AVOID_RE — page numbers,
    'Processado por programa validado', 2ª-via stamps, emails;
    api/util.py:172-179). Case-insensitive like the reference's
    ``.upper()`` comparisons. Pure filter: no shuffle; the per-doc
    repeated-block drop is ``pipeline.extract()``'s (AVOID flag plus the
    (doc_id, text) repeat count), and ``layout.corpus_boilerplate`` the
    cross-doc one."""
    t = F.col(text_col)
    return spans.where((t != "") & (~F.upper(t).rlike(AVOID_RE)))
