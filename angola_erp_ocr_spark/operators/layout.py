"""L1–L8: reading order, row/column detection, boilerplate suppression.

All pure DataFrame transforms — window functions and higher-order functions
only. Inputs are "line tables": (doc_id, [page], x, y, text, ...) as
produced by span parsing (digital path) or ``ocr.assemble_lines`` (media
path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schema import HEADER_WORDS_EN, HEADER_WORDS_PT, STOP_MARKERS


# ---------------------------------------------------------------------------
# L3 — reading order: total order (y, x, tiebreak) per scope
# (reference: pdfminer boxes_flow, api/pdf2txt.py:249-261; contour sort
#  api/util.py:8542-8563)
# ---------------------------------------------------------------------------

def reading_order(lines: DataFrame, scope: list[str],
                  tiebreak: str | None = None,
                  boxes_flow: float | None = None) -> DataFrame:
    """Total reading order per scope.

    Default (``boxes_flow=None``): strict (y, x) sort — top-to-bottom then
    left-to-right, the contour-sort order (api/util.py:8542-8563).

    ``boxes_flow`` ∈ [-1.0, +1.0] reproduces pdfminer's LAParams weighting
    (api/pdf2txt.py:249-261): pdfminer sorts boxes by
    ``(1 - flow)·x0 − (1 + flow)·(y0+y1)`` in bottom-up page coords. The
    y term is ``y0+y1 = 2·y_center``, i.e. y carries TWICE the weight of
    x at equal flow; in this engine's top-down line coords (negligible
    line height, so ``y0+y1 ≈ 2·y``) the equivalent ascending key is
    ``(1 − flow)·x + 2·(1 + flow)·y``. ``+1`` ignores x entirely (pure
    top-to-bottom), ``−1`` ignores y (pure left-to-right — a multi-column
    page reads column-by-column), pdfminer's default 0.5 mostly respects
    vertical position. (y, x) remain as tiebreaks so the order stays
    total and deterministic for equal keys.
    """
    if boxes_flow is None:
        order_cols = [F.col("y").asc(), F.col("x").asc()]
    else:
        if not -1.0 <= boxes_flow <= 1.0:
            raise ValueError(f"boxes_flow {boxes_flow} outside [-1, 1]")
        key = (F.lit(1.0 - boxes_flow) * F.col("x")
               + F.lit(2.0 * (1.0 + boxes_flow)) * F.col("y"))
        order_cols = [key.asc(), F.col("y").asc(), F.col("x").asc()]
    if tiebreak:
        order_cols.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*scope).orderBy(*order_cols)
    return lines.withColumn("line_no", F.row_number().over(w) - 1)


# ---------------------------------------------------------------------------
# L4 — row clustering by y-proximity gap (api/util.py:8568-8611):
# a new row starts when the y-gap to the previous box exceeds the threshold.
# Classic sessionization: lag + cumulative sum of boundary flags.
# ---------------------------------------------------------------------------

def cluster_rows_by_gap(
    df: DataFrame, scope: list[str], value_col: str, gap: Column | float,
    out_col: str = "row_id",
) -> DataFrame:
    w = Window.partitionBy(*scope).orderBy(value_col)
    gap_col = gap if isinstance(gap, Column) else F.lit(gap)
    prev = F.lag(value_col).over(w)
    boundary = F.when(prev.isNull() | ((F.col(value_col) - prev) > gap_col), 1).otherwise(0)
    return df.withColumn(
        out_col,
        F.sum(boundary).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - 1,
    )


# ---------------------------------------------------------------------------
# L1 — column detection. Two modes, as in the reference:
#  (a) fixed x-range template buckets (api/util.py:2400-2445)
#  (b) data-driven x-gap clustering (generalizes the hard-coded ranges):
#      cluster_rows_by_gap(df, scope, "x", gap, out_col="col_id")
# ---------------------------------------------------------------------------

def bucket_columns_fixed(df: DataFrame, ranges: list[tuple[str, float, float]],
                         x_col: str = "x") -> DataFrame:
    """ranges: (column_id, x_lo, x_hi) template, first match wins."""
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(ranges):
        expr = F.when(F.col(x_col).between(lo, hi), F.lit(name)).otherwise(expr)
    return df.withColumn("col_id", expr)


# ---------------------------------------------------------------------------
# L5 — column-center assignment (api/util.py:8626-8646): each cell joins the
# nearest column center. min_by over a broadcast centers table.
# ---------------------------------------------------------------------------

def assign_to_centers(cells: DataFrame, centers: DataFrame, scope: list[str]) -> DataFrame:
    """centers: (scope..., col_id, center_x); broadcast — tiny dimension."""
    joined = cells.join(F.broadcast(centers), on=scope)
    dist = F.abs(F.col("center_x") - (F.col("x") + F.col("w") / 4))
    key_cols = [c for c in cells.columns]
    return (
        joined.groupBy(*key_cols)
        .agg(F.min_by("col_id", dist).alias("col_id"))
    )


# ---------------------------------------------------------------------------
# L2 — row assembly: pivot detected (row_id, col_id, text) cells into rows.
# The reference zips six parallel lists (api/util.py:2934-2949); here it's a
# grouped pivot with first() — one shuffle on (scope, row_id).
# ---------------------------------------------------------------------------

def pivot_rows(cells: DataFrame, scope: list[str], columns: list[str]) -> DataFrame:
    return (
        cells.groupBy(*scope, "row_id")
        .pivot("col_id", columns)
        .agg(F.first("text"))
    )


# ---------------------------------------------------------------------------
# L7/L8 — items-region detection: header line by keyword count, stop line by
# marker list; region = rows strictly between. Cumulative-flag windows.
# (api/util.py:293-302, 3728-3787; stop lists 3671, 5642-5643)
# ---------------------------------------------------------------------------

def header_keyword_count(line_col: Column, words: list[str] | None = None) -> Column:
    vocab = words or list(dict.fromkeys(HEADER_WORDS_PT + HEADER_WORDS_EN))
    tokens = F.split(F.upper(line_col), r"\s+")
    return F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in vocab])))


def is_stop_marker(line_col: Column) -> Column:
    pat = "|".join(F"({m})" for m in (s.replace("(", r"\(").replace(")", r"\)")
                                      .replace(".", r"\.") for s in STOP_MARKERS))
    return F.upper(line_col).rlike(pat)


def mark_items_region(lines: DataFrame, scope: list[str],
                      min_header_words: int = 4) -> DataFrame:
    """Adds is_header / is_stop / in_items flags; in_items is true for lines
    after the first header line and before the first subsequent stop line."""
    w = (
        Window.partitionBy(*scope)
        .orderBy("line_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = lines.withColumn(
        "is_header",
        (header_keyword_count(F.col("text")) >= min_header_words).cast("int"),
    ).withColumn("is_stop", is_stop_marker(F.col("text")).cast("int"))
    df = df.withColumn("past_header", F.max("is_header").over(w))
    df = df.withColumn(
        "past_stop",
        F.max(F.when((F.col("is_stop") == 1) & (F.col("past_header") == 1), 1)
              .otherwise(0)).over(w),
    )
    return df.withColumn(
        "in_items",
        (F.col("past_header") == 1) & (F.col("is_header") == 0)
        & (F.col("past_stop") == 0),
    )


# ---------------------------------------------------------------------------
# Cross-doc boilerplate (the per-doc AVOID_RE + repeated-block drop runs
# inside plans.pipeline.extract)
# ---------------------------------------------------------------------------

def corpus_boilerplate(lines: DataFrame, doc_col: str = "doc_id",
                       text_col: str = "text",
                       min_docs: int = 5) -> DataFrame:
    """CROSS-document boilerplate detection — the corpus-scale
    generalization of the reference's fixed stop-line lists
    (api/util.py:172-179, 5642-5643) and of the per-doc repeated-block
    drop: a normalized line recurring in ≥ ``min_docs`` DISTINCT
    documents is template furniture (legal footers, 'Processado por
    programa validado', cookie-banner analogues), not content.

    Returns (line_norm, n_docs, n_occurrences). Two-level aggregation so
    the exact distinct-doc count never builds a per-text doc set in
    memory: groupBy(text, doc) pre-collapses per-doc repeats map-side,
    then groupBy(text) counts rows — each step a plain partial-agg
    shuffle, skew-safe under AQE (a boilerplate line hot enough to skew
    is exactly one row per doc after step 1).
    """
    norm = F.trim(F.upper(F.col(text_col)))
    per_doc = (
        lines.where(norm != "")
        .groupBy(norm.alias("line_norm"), F.col(doc_col).alias("_doc"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        per_doc.groupBy("line_norm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("_n").cast("long").alias("n_occurrences"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_corpus_boilerplate(lines: DataFrame, boilerplate: DataFrame,
                             text_col: str = "text") -> DataFrame:
    """Drop lines whose normalized text is in the detected corpus
    boilerplate set. Left-anti join on the normalized key; the
    boilerplate side is typically small enough to broadcast (it is a
    count-filtered aggregate), else AQE picks the join strategy."""
    norm = F.trim(F.upper(F.col(text_col)))
    return (
        lines.withColumn("_ln", norm)
        .join(boilerplate.select(F.col("line_norm").alias("_ln")),
              "_ln", "left_anti")
        .drop("_ln")
    )


# ---------------------------------------------------------------------------
# L11 — one-line lookahead: marker line consumes the next line's value
# (api/util.py:1518-1527, 9233-9258, 1454-1461). Pure lead() window.
# ---------------------------------------------------------------------------

def with_next_line(lines: DataFrame, scope: list[str]) -> DataFrame:
    w = Window.partitionBy(*scope).orderBy("line_no")
    return lines.withColumn("next_text", F.lead("text").over(w))


# ---------------------------------------------------------------------------
# L12 — bbox-template field extraction (util/pdf_scrape.py:165-328): for a
# known doc class, each field is pulled by a fixed page rectangle. The 93
# hand-coded `pq(':overlaps_bbox(...)')` calls collapse into one broadcast
# range-join of positioned spans against a (doc_class, field, rect) table.
# ---------------------------------------------------------------------------

def bbox_template_fields(spans: DataFrame, templates: DataFrame) -> DataFrame:
    """spans: (doc_id, doc_class, x0, y0, x1, y1, text) positioned spans.
    templates: (doc_class, field, x0, y0, x1, y1) — tiny, broadcast.

    A span matches a template when their rectangles overlap (pdfquery's
    ``:overlaps_bbox`` semantics). Of multiple overlapping spans the one
    first in reading order (min y0, then x0) wins — one row per
    (doc_id, field).
    """
    t = F.broadcast(templates.select(
        F.col("doc_class").alias("t_class"), "field",
        F.col("x0").alias("tx0"), F.col("y0").alias("ty0"),
        F.col("x1").alias("tx1"), F.col("y1").alias("ty1"),
    ))
    overlap = (
        (F.col("x0") < F.col("tx1")) & (F.col("x1") > F.col("tx0"))
        & (F.col("y0") < F.col("ty1")) & (F.col("y1") > F.col("ty0"))
    )
    joined = spans.join(t, (F.col("doc_class") == F.col("t_class")) & overlap)
    return (
        joined.groupBy("doc_id", "field")
        .agg(F.min_by("text", F.struct(F.col("y0"), F.col("x0"))).alias("text"))
    )
