"""R1/R2 — the cheap-path-first cascade and the bounded retry ladder.

The reference tries born-digital scrape first and escalates to OCR, then
retries OCR over an open-ended (psm × language × dpi) ladder until "must"
fields appear (SURVEY §4 R1/R2; api/util.py:88-115, util/ocr_pdf.py:
1170-1183, 2309-2419). The Spark restatement is set-oriented and bounded:

  * R1 is already inside ``extract`` — digital spans never enter the OCR
    stage; only ``kind='media'`` pages reach the mapInPandas decode, so
    the cheap path is the plan shape, not a control-flow branch.
  * R2 is the committed ladder, ``cascade_ladder_committed``: rung 1
    extracts every document, each later rung re-extracts only the
    media-bearing documents still failing the must-field gate, and
    ``merge_retry_fields`` folds the rungs keep-best once, at the end.
    Every rung commits one pass row per doc it tried, so a later rung
    reads its done set from the committed passes with one row filter
    (tried at this rung or later, or must field found) and one anti-join
    instead of recomputing earlier rungs — the same anti-join discipline
    as resume (SURVEY §4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract

# Bounded stand-in for the reference's open-ended (psm × lang × dpi) sweep
# over wordlist_langs.txt (util/ocr_pdf.py:1170-1183, 2309-2419;
# `resolucao` ladder api/util.py:876,1843,3725). pass_no is the merge
# priority. Each rung is a REAL extraction configuration: ``conf`` is the
# word-confidence gate, ``dpi`` drives the resolution model
# (ocr.MIN_GLYPH_PX), and ``lang`` selects the active LEXICON
# (functions/languages.LANG_LEXICONS via the J4 registry) whose words can
# be dictionary-rescued below the gate, and ``psm`` is the SEGMENTATION
# mode (r5, ocr.RESEGMENT_PSMS): rung 1's psm 6 trusts the page's
# embedded line structure; rungs 2/3 (psm 4/12) re-segment geometrically,
# reuniting lines whose embedded segmentation is corrupted — so a later
# rung's lower gate, higher render DPI, different language pack, or
# re-segmenting psm recovers words/fields the earlier rung could not,
# exactly the reference's escalation. Every ladder dimension is now a
# real decoder behavior (the column-aware(4) vs sparse(12) sub-
# distinction alone stays provenance).
RETRY_LADDER: list[dict] = [
    # primary (api/util.py:8211-8212 --psm 6 default, 250 DPI render)
    {"pass_no": 1, "psm": 6, "lang": "por", "dpi": 250, "conf": 30},
    # column-aware retry (aprender_OCR api/util.py:3725), relaxed gate
    {"pass_no": 2, "psm": 4, "lang": "eng", "dpi": 270, "conf": 20},
    # sparse-text rung (ocr_pdf.py:1327-1352), max render DPI
    {"pass_no": 3, "psm": 12, "lang": "por+eng", "dpi": 300, "conf": 10},
    # psm-6 last resort at the floor gate: the reference sweep is a
    # CROSS-PRODUCT (psm ∈ {1,4,6,12} × langs, SURVEY §2 R2), so later
    # configs revisit psm 6 with relaxed settings. Behaviorally this is
    # the rung that recovers SKEWED low-confidence scans: deskew runs
    # only under trusted-segmentation mode (psm 6 — see ocr_lines), and
    # the re-segmenting rungs 2/3 shred rotated lines by design (exact-y
    # grouping), so without this rung a crooked low-conf page that fails
    # rung 1's gate would be unrecoverable (r5 review finding).
    {"pass_no": 4, "psm": 6, "lang": "por+eng", "dpi": 300, "conf": 10},
]

LADDER_FIELD_COLS = ["total_amount", "currency", "invoice_date"]
LADDER_MUST_FIELD = "total_amount"  # mustNumOperacao analogue


def _fields_for_pass(extracted: DataFrame, pass_no: int) -> DataFrame:
    """extraction(doc_id, spans) → exactly one nullable-field row per doc
    tagged with the rung's pass_no, the per-rung leg of the ladder merge.
    Runs the REAL L13 field extractor over the rung's extracted text
    spans; ``explode_outer`` keeps a doc with no text span (an empty doc,
    a media span whose page row is missing) as one all-null row, so the
    rung's tried set is its pass rows."""
    from ..operators.fields import extract_header_fields

    lines = extracted.select(
        "doc_id",
        F.explode_outer(F.filter("spans", lambda s: s["kind"] == "text"))
        .alias("s"),
    ).select(
        "doc_id", F.col("s.offset").alias("line_no"),
        F.col("s.text").alias("text"),
    )
    return extract_header_fields(lines).select(
        "doc_id", F.lit(pass_no).alias("pass_no"), *LADDER_FIELD_COLS)


def merge_retry_fields(passes: DataFrame, field_cols: list[str],
                       must_fields: list[str] | None = None) -> DataFrame:
    """R2 keep-best-so-far field merge (the reference's ``Old*`` vars,
    util/ocr_pdf.py:2388-2402): across retry passes, each field takes its
    value from the EARLIEST pass that produced one — a later pass fills
    only the fields earlier passes left null, never overwrites.

    ``passes``: one row per (doc_id, pass_no) with nullable field columns
    (each row = one (psm, lang, dpi) ladder rung's extraction for that
    doc). One ``min_by`` aggregation per field — the whole ladder merges
    in a single hash-agg pass, partial-aggregated map-side; no loops, no
    per-doc Python. Emits ``<field>_pass`` provenance (which rung won)
    and, when ``must_fields`` is given, the reference's must-field gate
    (mustNumOperacao ∧ mustIBANCreditado…, util/ocr_pdf.py:46-54, 889).
    """
    aggs = []
    for fc in field_cols:
        won = F.when(F.col(fc).isNotNull(), F.col("pass_no"))
        aggs.append(F.min_by(F.col(fc), won).alias(fc))
        aggs.append(F.min(won).cast("int").alias(f"{fc}_pass"))
    out = passes.groupBy("doc_id").agg(*aggs)
    if must_fields:
        gate = F.lit(True)
        for fc in must_fields:
            gate = gate & F.col(fc).isNotNull()
        out = out.withColumn("must_ok", gate)
    return out


def cascade_ladder_committed(
    spark: SparkSession,
    documents: DataFrame,
    media_pages: DataFrame,
    out_dir: str,
    ladder: list[dict] = RETRY_LADDER,
) -> DataFrame:
    """R2, the retry ladder (util/ocr_pdf.py:1170-1183 sweep + 2388-2402
    keep-best, set-oriented): rung 1 extracts every doc; each later rung
    extracts ONLY the docs still failing the must-field gate (the
    per-document early exit as an anti-join, no driver-side loop over
    docs) and only those whose INPUT has a ``kind='media'`` span: rungs
    vary only OCR settings, so a text-only doc is terminal after rung 1.

    Every doc a rung extracts gets exactly one row, all-null without a
    text span, in that rung's ``fields_passes`` snapshot. A doc is DONE
    for rung p iff one of its committed pass rows has ``pass_no ≥ p``
    (tried there already, so an unrecoverable doc is terminal once every
    rung has tried it) or a non-null must field (recovered). With ONE
    must field that is a row filter over the committed passes, so each
    rung costs one filter and one anti-join, with no merge in the loop. A
    crash between rungs resumes at the first rung whose pass rows are
    missing; a completed ladder re-run extracts nothing, runs ≤
    len(ladder) ``isEmpty`` checks and skips the ``fields_ladder``
    append. The one keep-best merge, with ``<field>_pass`` provenance,
    runs over all committed passes, keeps one row per distinct doc_id of
    ``documents`` (as ``extract`` does) and commits to ``fields_ladder``,
    so the committed table records which rung won every field."""
    from .snapshot import committed_snapshots, read_snapshots, snapshot_append

    passes_table = f"{out_dir}/fields_passes"
    retryable = documents.where(
        F.exists("spans", lambda s: s["kind"] == "media"))
    appended_any = False
    for rung in ladder:
        p = rung["pass_no"]
        todo = documents if p == 1 else retryable
        committed = read_snapshots(spark, passes_table)
        if committed is not None:
            done = committed.where(
                (F.col("pass_no") >= p) | F.col(LADDER_MUST_FIELD).isNotNull())
            todo = todo.join(done.select("doc_id"), "doc_id", "left_anti")
            if todo.isEmpty():
                # nothing new for THIS rung; later rungs may still have
                # work (crash after rung p committed, before p+1 ran)
                continue
        ext = extract(todo, media_pages,
                      conf_threshold=rung["conf"], dpi=rung["dpi"],
                      lang=rung.get("lang"), psm=rung.get("psm"))
        snapshot_append(_fields_for_pass(ext, p), passes_table)
        appended_any = True
    final = merge_retry_fields(
        read_snapshots(spark, passes_table), LADDER_FIELD_COLS,
        must_fields=[LADDER_MUST_FIELD],
    ).join(documents.select("doc_id"), "doc_id", "left_semi")
    ladder_table = f"{out_dir}/fields_ladder"
    # A completed-ladder re-run extracted nothing; the merge is identical
    # to the last committed fields_ladder snapshot — don't grow the table.
    if appended_any or not committed_snapshots(ladder_table):
        snapshot_append(final, ladder_table)
    return final
