"""The flagship extraction plan: documents_raw → documents_extracted.

One declarative DAG (SURVEY §3.1 "Spark restatement"):

    documents(doc_id, spans)
      → posexplode                              (span rows)
      → ONE projection: segment ids (window) + digital "x,y|content"
        parse + media markers — no self-union of the raw scan
      ├ media branch: markers (kind='media' only — filtered BEFORE the
      │   shuffle, so it moves ~one row per page, not per line)
      │   → broadcast join onto media_pages → ONE mapInPandas stage
      │   (decode → conf gate → line assembly, ``ocr_lines``)
      │   → P6 normalize
      → union candidates
      → repartition(doc_id), then BOTH the repeated-block count window
        (partitionBy doc_id, text) and the total-order window
        (partitionBy doc_id) run on that single exchange —
        hashpartitioning(doc_id) satisfies the clustered distribution of
        the (doc_id, text) window, so EnsureRequirements adds sorts only
      → boilerplate strip (AVOID_RE + repeated-block ≥k per doc)
      → total order (seg, rank, y, x) → offsets → array<span> per doc
        (final groupBy(doc_id) reuses the same partitioning: no exchange)
      → left join from documents' doc_ids, so every doc gets a row

Scale notes (100 TB / 10^12 docs):
  * The unit of parallelism through the OCR stage is the *page*, not the
    doc — a 300-page doc fans out to 300 independent rows before any
    grouping, so heavy docs can't capsize a task (SURVEY §4 skew defense).
  * Hash exchanges (4): (1) span rows by doc_id for the seg window,
    (2) media markers only (≈#pages rows) for their row_number window,
    (3) post-union doc_id for strip+order+assembly, (4) the doc_id side
    of the keep-every-doc shuffled hash join (the assembled side reuses
    (3)). The raw table is scanned 3 times: span rows, markers, and the
    doc_id list. Verified with .explain("formatted").
  * Joins: markers↔media_pages is an equi-join on media_ref (unique per
    page, no hot keys), planned as a broadcast of the marker side.
  * Everything outside the single mapInPandas stage is whole-stage
    codegen (regex, windows, aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import AVOID_RE, normalize_col
from ..operators.ocr import ocr_lines

SPAN_POS_RE = r"^(\d+),(\d+)\|"


def _span_rows(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → span rows with segment ids (cumulative
    media count in offset order)."""
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _span_rows(documents).withColumn(
        "seg", F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).over(w)
    )


def base_candidates(documents: DataFrame) -> DataFrame:
    """Digital text candidates AND media markers in ONE projection over the
    segmented span rows — a single scan + one doc_id exchange.

    Digital lines parse the "x,y|content" prefix (nullif-guarded: a span
    without the prefix must NOT abort the job — reference R5 crash-stops
    become QA-tolerant rows; unparseable coords sort after positioned
    lines, nulls last). Media rows become rank-0 markers.
    """
    rows = explode_spans(documents)
    is_media = F.col("kind") == "media"
    return rows.select(
        "doc_id",
        "seg",
        F.when(is_media, F.lit(0)).otherwise(F.lit(2)).alias("rank"),
        F.when(is_media, F.lit(-1)).otherwise(
            F.nullif(F.regexp_extract("text", SPAN_POS_RE, 2), F.lit(""))
            .cast("int")
        ).alias("y"),
        F.when(is_media, F.lit(-1)).otherwise(
            F.nullif(F.regexp_extract("text", SPAN_POS_RE, 1), F.lit(""))
            .cast("int")
        ).alias("x"),
        F.when(is_media, F.lit("")).otherwise(
            F.regexp_replace("text", SPAN_POS_RE, "")
        ).alias("text"),
        F.when(is_media, F.col("media_ref")).otherwise(F.lit(None).cast("string"))
        .alias("media_ref"),
    )


def media_markers(documents: DataFrame) -> DataFrame:
    """(doc_id, seg, media_ref) for media spans only.

    seg of a media span = its 1-based rank among the doc's media spans in
    offset order — identical to the cumulative count, but computed on the
    kind='media' subset so the shuffle moves one row per *page*, not one
    per span.
    """
    rows = _span_rows(documents).where(F.col("kind") == "media")
    w = Window.partitionBy("doc_id").orderBy("offset")
    return rows.select(
        "doc_id", "media_ref", F.row_number().over(w).alias("seg")
    )


def decoded_media_lines(documents: DataFrame, media_pages: DataFrame,
                        conf_threshold: int | None = None,
                        dpi: int | None = None,
                        lang: str | None = None,
                        psm: int | None = None) -> DataFrame:
    """OCR path: referenced pages → word stream → conf gate → lines →
    normalized candidates with (doc_id, seg) resolved via the markers."""
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
        "doc_id",
        F.col("seg").cast("long").alias("seg"),
        F.lit(1).alias("rank"),
        "y",
        "x",
        normalize_col(F.col("text")).alias("text"),
        "media_ref",
    )


def extract(documents: DataFrame, media_pages: DataFrame | None = None,
            repeat_k: int = 3, conf_threshold: int | None = None,
            dpi: int | None = None, lang: str | None = None,
            psm: int | None = None) -> DataFrame:
    """Full extraction → documents_extracted(doc_id, spans).

    ``conf_threshold``/``dpi``/``lang``/``psm`` parameterize the OCR
    decode for retry-ladder rungs (plans/cascade.py); the defaults are the
    flagship configuration (``lang=None`` = no lexicon rescue, ``psm=None``
    = trust embedded segmentation, i.e. psm 6).
    """
    cands = base_candidates(documents)
    if media_pages is not None:
        cands = cands.unionByName(
            decoded_media_lines(documents, media_pages, conf_threshold, dpi,
                                lang, psm)
            .select(*cands.columns)
        )

    # ONE exchange for everything downstream: repeat-count window
    # (doc_id, text), boilerplate filter, total-order window (doc_id) and
    # the final per-doc assembly all run on hashpartitioning(doc_id).
    # (An agg+anti-join formulation of the repeated-block drop was tried
    # and rejected: Catalyst pushes the join through the union and
    # re-plans the whole scan+OCR subtree once per branch — 4× the work.)
    part = cands.repartition("doc_id")

    rep_w = Window.partitionBy("doc_id", "text")
    counted = part.withColumn(
        "_rep",
        F.sum(F.when(F.col("rank") > 0, 1).otherwise(0)).over(rep_w),
    )
    # markers (rank 0) always survive; lines drop on AVOID or repetition
    kept = counted.where(
        (F.col("rank") == 0)
        | (
            (~F.upper(F.col("text")).rlike(AVOID_RE))
            & (F.col("_rep") < repeat_k)
        )
    ).drop("_rep")

    # Total order + offset renumbering via a row_number window: the sort
    # runs in Tungsten's binary UnsafeRow comparator (whole-stage codegen),
    # which measures faster than an equivalent per-array struct sort with
    # an interpreted comparator. Same doc_id exchange serves this window,
    # the repeat-count window above, and the final assembly aggregation.
    order_w = Window.partitionBy("doc_id").orderBy(
        F.col("seg").asc(), F.col("rank").asc(),
        F.col("y").asc_nulls_last(), F.col("x").asc_nulls_last(),
        F.col("text").asc(),  # final tiebreak keeps the order total
    )
    spans = kept.withColumn("offset", F.row_number().over(order_w) - 1).select(
        "doc_id",
        F.struct(
            F.when(F.col("rank") == 0, F.lit("media")).otherwise(F.lit("text"))
            .alias("kind"),
            F.col("text"),
            F.col("media_ref"),
            F.col("offset").cast("int").alias("offset"),
        ).alias("span"),
    )
    assembled = spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("span.offset").alias("o"),
                                        F.col("span").alias("s")))
            ),
            lambda e: e["s"],
        ).alias("spans")
    )
    # Every input document must yield an output row, even when all its
    # candidates were filtered (empty spans array, all-boilerplate doc):
    # dropping the doc would make resume_filter re-process it forever and
    # would let the golden pass-rate join silently lose it from the
    # denominator.
    empty = "array()"
    spans_type = ("array<struct<kind:string,text:string,"
                  "media_ref:string,offset:int>>")
    # shuffle-hash, not sort-merge: both sides are (or become) partitioned
    # by doc_id and the hash build avoids sorting the assembled arrays
    return (
        documents.select("doc_id")
        .join(assembled.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("spans"), F.expr(empty).cast(spans_type))
            .alias("spans"),
        )
    )


def resume_filter(documents: DataFrame, committed: DataFrame) -> DataFrame:
    """Anti-join raw input against already-committed doc_ids (SURVEY §4.4):
    restart processes only the missing documents."""
    return documents.join(committed.select("doc_id"), "doc_id", "left_anti")
