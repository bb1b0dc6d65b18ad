"""The flagship extraction plan: documents_raw → documents_extracted.

One declarative DAG (SURVEY §3.1 "Spark restatement"):

    documents(doc_id, spans)
      → explode(spans ++ [anchor])              (span rows + 1 anchor/doc)
      → ONE projection: digital "x,y|content" parse + media markers
        (rank 0) + the anchor (rank 3) — no window, no shuffle yet
      ├ media branch: markers (kind='media' filter, seg = the marker's
      │   span offset) → broadcast join onto media_pages → ONE
      │   mapInPandas stage (decode → conf gate → line assembly,
      │   ``ocr_lines``) → P6 normalize; lines carry their marker's
      │   offset with rank 1
      → union candidates → AVOID_RE flag per row (still in the parallel
        scan and OCR tasks)
      → repartition(doc_id), then the repeated-block count window
        (partitionBy doc_id, text) and the segment window (partitionBy
        doc_id) run on that single exchange — hashpartitioning(doc_id)
        satisfies the clustered distribution of the (doc_id, text)
        window, so EnsureRequirements adds sorts only
      → boilerplate strip (AVOID flag + repeated-block ≥REPEAT_K per doc)
      → segment key: running max of marker offsets in (offset, rank)
        order
      → array<span> per doc, sorted by (seg, rank, y, x, text) inside
        the final groupBy(doc_id) and numbered by array position (the
        aggregation reuses the same partitioning: no exchange); the
        anchors' null entries are dropped by collect_list, so every doc
        gets exactly one row

Scale notes (100 TB / 10^12 docs):
  * The unit of parallelism through the OCR stage is the *page*, not the
    doc — a 300-page doc fans out to 300 independent rows before any
    grouping, so heavy docs can't capsize a task (SURVEY §4 skew defense).
  * Hash exchanges (1): the post-union doc_id exchange, which carries the
    parsed candidates plus one anchor row per doc and serves the
    repeat-count window, the segment window and the ordered assembly.
    The raw table is scanned 2 times: span rows (with the anchors) and
    markers. Verified with .explain("formatted").
  * Joins: markers↔media_pages is an equi-join on media_ref (unique per
    page, no hot keys), planned as a broadcast of the marker side.
  * Everything outside the single mapInPandas stage is whole-stage
    codegen (regex, windows, aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import AVOID_RE, normalize_col
from ..operators.ocr import ocr_lines

SPAN_POS_RE = r"^(\d+),(\d+)\|"
ANCHOR = 3  # rank of the per-doc anchor row: after every span, never emitted
REPEAT_K = 3  # a line text seen this many times in one doc is boilerplate

# The plan is written as SQL text: every Column-API call is a handful of
# Py4J round trips (13 for one F.col), and building this plan that way
# cost ~1,700 of them, about a quarter of a warm 5,000-doc pass on 4
# cores. Regexes go in as raw literals (r'...'), so they reach Java
# exactly as written here.
_MEDIA = "span.kind = 'media'"
_LINE = "rank BETWEEN 1 AND 2"  # OCR lines (1) and digital text (2)


def _coord(group: int) -> str:
    return (f"CASE WHEN {_MEDIA} THEN -1 ELSE CAST(nullif(regexp_extract("
            f"span.text, r'{SPAN_POS_RE}', {group}), '') AS INT) END")


def base_candidates(documents: DataFrame) -> DataFrame:
    """Digital text candidates, media markers and one anchor row per doc in
    ONE projection over the span rows — a single scan, no window.

    Digital lines parse the "x,y|content" prefix (nullif-guarded: a span
    without the prefix must NOT abort the job — reference R5 crash-stops
    become QA-tolerant rows; unparseable coords sort after positioned
    lines, nulls last). Media rows become rank-0 markers. The anchor is a
    null element appended to the doc's span array (rank ANCHOR, null
    offset): it carries every doc, even one without spans or with all its
    lines filtered, to the final per-doc aggregation.
    """
    return documents.selectExpr(
        "doc_id",
        "explode(concat(coalesce(spans, array()), array(null))) AS span",
    ).selectExpr(
        "doc_id",
        "span.offset AS offset",
        f"CASE WHEN span IS NULL THEN {ANCHOR} WHEN {_MEDIA} THEN 0 ELSE 2 END"
        " AS rank",
        f"{_coord(2)} AS y",
        f"{_coord(1)} AS x",
        f"CASE WHEN {_MEDIA} THEN '' ELSE regexp_replace(span.text,"
        f" r'{SPAN_POS_RE}', '') END AS text",
        f"CASE WHEN {_MEDIA} THEN span.media_ref END AS media_ref",
    )


def media_markers(documents: DataFrame) -> DataFrame:
    """(doc_id, media_ref, seg) for media spans only, by a plain filter.

    seg is the marker's own span offset: the segment key that ``extract``
    orders the doc's segments by (the running key of text spans is the
    offset of their nearest preceding marker).
    """
    return (documents.selectExpr("doc_id", "inline(spans)")
            .where("kind = 'media'")
            .selectExpr("doc_id", "media_ref", "offset AS seg"))


def decoded_media_lines(documents: DataFrame, media_pages: DataFrame,
                        conf_threshold: int | None = None,
                        dpi: int | None = None,
                        lang: str | None = None,
                        psm: int | None = None) -> DataFrame:
    """OCR path: referenced pages → word stream → conf gate → lines →
    normalized candidates at their marker's offset (rank 1)."""
    markers = media_markers(documents)
    # join (doc_id, seg) onto the PAGE table (one row per page) and let the
    # OCR stage replicate them onto lines — joining after decode would move
    # every line (≈6× the pages) through the join instead
    pages = media_pages.join(markers, "media_ref")
    kwargs = {} if conf_threshold is None else {"conf_threshold": conf_threshold}
    # emit_qr: embedded QR payloads (I10) decode in the same fused pass and
    # surface as a trailing text span of their page (y=QR_Y), exactly how
    # the reference turns the decoded AGT-portal URL into a text line
    # (api/util.py:8087-8174).
    # lang → active lexicon (J4 registry resolution incl. safe-pack
    # fallback); None keeps the decode lexicon-free — flagship default
    from ..functions.languages import lexicon_for
    if psm is not None:
        kwargs["psm"] = psm
    lines = ocr_lines(pages, passthrough=("doc_id", "seg"), emit_qr=True,
                      dpi=dpi, lexicon=lexicon_for(lang), **kwargs)
    return lines.select(
        "doc_id", F.expr("seg AS offset"), F.expr("1 AS rank"), "y", "x",
        normalize_col(F.col("text")).alias("text"), "media_ref",
    )


def extract(documents: DataFrame, media_pages: DataFrame | None = None,
            conf_threshold: int | None = None, dpi: int | None = None,
            lang: str | None = None, psm: int | None = None) -> DataFrame:
    """Full extraction → documents_extracted(doc_id, spans), one row per
    distinct doc_id.

    ``conf_threshold``/``dpi``/``lang``/``psm`` parameterize the OCR
    decode for retry-ladder rungs (plans/cascade.py); the defaults are the
    flagship configuration (``lang=None`` = no lexicon rescue, ``psm=None``
    = trust embedded segmentation, i.e. psm 6).
    """
    cands = base_candidates(documents)
    if media_pages is not None:
        cands = cands.unionByName(
            decoded_media_lines(documents, media_pages, conf_threshold, dpi,
                                lang, psm))

    # The AVOID test is per row, so it runs before the exchange, in the
    # parallel scan and OCR tasks, as a flag (a filter here would be pushed
    # into the OCR branch and evaluate normalize_col twice). Then ONE
    # exchange for everything downstream: repeat-count window (doc_id,
    # text), boilerplate filter, segment window (doc_id) and the final
    # per-doc assembly all run on hashpartitioning(doc_id).
    # (An agg+anti-join formulation of the repeated-block drop was tried
    # and rejected: Catalyst pushes the join through the union and
    # re-plans the whole scan+OCR subtree once per branch — 4× the work.)
    part = cands.selectExpr(
        "*", f"upper(text) RLIKE r'{AVOID_RE}' AS _avoid",
    ).repartition("doc_id")

    # markers and anchors always survive; lines drop on AVOID or repetition
    kept = part.selectExpr(
        "*",
        f"count(CASE WHEN {_LINE} THEN 1 END)"
        " OVER (PARTITION BY doc_id, text) AS _rep",
    ).where(f"NOT ({_LINE}) OR (NOT _avoid AND _rep < {REPEAT_K})")

    # Segment key: the offset of the nearest marker at or before the row in
    # (offset, rank) order. A marker keys its own segment, its OCR lines
    # (same offset, rank 1) follow it, text spans take the running key, and
    # text before the first marker keys null (sorts first). The anchor
    # (null offset, sorted last) takes the doc's last key, so with rank
    # ANCHOR it orders after every span below.
    keyed = kept.selectExpr(
        "doc_id", "rank", "y", "x", "text", "media_ref",
        "max(CASE WHEN rank = 0 THEN offset END) OVER (PARTITION BY doc_id"
        " ORDER BY offset ASC NULLS LAST, rank"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg",
    )

    # Total order + offset numbering inside the per-doc aggregation: sort
    # each doc's span structs by (seg, rank, y, x, text) and number them
    # by array position. Struct fields sort nulls first, which is what seg
    # needs (text before the first marker leads); y and x sort nulls last
    # (a span without the "x,y|" prefix follows the positioned ones), so a
    # null flag goes ahead of each. text is the final tiebreak that keeps
    # the order total. collect_list skips the anchors' null entries: a doc
    # with no span left gets spans=[] rather than no row, so resume_filter
    # does not re-process it forever and the golden pass-rate join keeps it
    # in the denominator.
    return keyed.groupBy("doc_id").agg(F.expr(
        f"transform(array_sort(collect_list(CASE WHEN rank != {ANCHOR} THEN"
        " named_struct('seg', seg, 'rank', rank, 'yn', y IS NULL, 'y', y,"
        " 'xn', x IS NULL, 'x', x, 'text', text, 'media_ref', media_ref)"
        " END)), (e, i) -> named_struct("
        "'kind', CASE WHEN e.rank = 0 THEN 'media' ELSE 'text' END,"
        " 'text', e.text, 'media_ref', e.media_ref, 'offset', i)) AS spans"))


def resume_filter(documents: DataFrame, committed: DataFrame) -> DataFrame:
    """Anti-join raw input against already-committed doc_ids (SURVEY §4.4):
    restart processes only the missing documents."""
    return documents.join(committed.select("doc_id"), "doc_id", "left_anti")
