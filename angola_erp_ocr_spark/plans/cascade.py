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
    ``merge_retry_fields`` folds the rungs keep-best. Every rung commits
    to the lake, so a later rung reads the failed set from the committed
    passes instead of recomputing earlier ones — the same anti-join
    discipline as resume (SURVEY §4.4).
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
LADDER_MUST_FIELDS = ["total_amount"]  # mustNumOperacao analogue


def _fields_for_pass(extracted: DataFrame, pass_no: int) -> DataFrame:
    """extraction(doc_id, spans) → one nullable-field row per doc tagged
    with the rung's pass_no — the per-rung leg of the ladder merge. Runs
    the REAL L13 field extractor over the rung's extracted text spans."""
    from ..operators.fields import extract_header_fields

    lines = extracted.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).where(F.col("s.kind") == "text").select(
        "doc_id", F.col("s.offset").alias("line_no"),
        F.col("s.text").alias("text"),
    )
    return extract_header_fields(lines).select(
        "doc_id", F.lit(pass_no).alias("pass_no"), *LADDER_FIELD_COLS)


def merge_retry_fields(passes: DataFrame, field_cols: list[str],
                       pass_col: str = "pass_no",
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
        won = F.when(F.col(fc).isNotNull(), F.col(pass_col))
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
    extracts ONLY the docs still failing the must-field gate after the
    merge-so-far — the per-document early exit as an anti-join, no
    driver-side loop over docs — and only those whose INPUT has a
    ``kind='media'`` span: rungs vary only OCR settings, so a text-only
    doc comes out the same at every rung and is terminal after rung 1.
    Each rung's field rows commit as a snapshot of ``fields_passes``
    (auditable per rung, resumable: a crash between rungs resumes from
    the committed passes); the final keep-best merge — with
    ``<field>_pass`` provenance columns — commits to ``fields_ladder``,
    so the committed table records which rung won every field. A doc is
    DONE for rung p iff it is already recovered (must_ok) OR it already
    has a committed row at pass_no ≥ p — the second leg makes
    unrecoverable docs terminal once every rung has tried them (without
    it, a corpus with any hopeless doc re-extracts it at all rungs on
    every re-run and the snapshot tables grow without bound). A
    completed ladder re-run is therefore a metadata-only no-op (per-rung
    isEmpty checks, ≤ len(ladder) bounded driver actions, and the final
    ``fields_ladder`` append is skipped); a crash between rungs resumes
    exactly at the first rung whose pass rows are missing. Duplicate
    (doc, pass_no) rows cannot be appended under this rule, and would in
    any case merge to identical values (same configuration ⇒ same
    extraction)."""
    from .snapshot import committed_snapshots, read_snapshots, snapshot_append

    def merged(passes: DataFrame) -> DataFrame:
        return merge_retry_fields(passes, LADDER_FIELD_COLS,
                                  must_fields=LADDER_MUST_FIELDS)

    passes_table = f"{out_dir}/fields_passes"
    retryable = documents.where(
        F.exists("spans", lambda s: s["kind"] == "media"))
    todo = documents
    appended_any = False
    for rung in ladder:
        # On a resume (any committed passes exist) the done-docs
        # anti-join applies before rung 1 too — otherwise every re-run
        # after completion re-extracts the FULL corpus at rung 1 and
        # appends a duplicate pass-1 snapshot (ADVICE r4).
        if rung["pass_no"] > 1 or committed_snapshots(passes_table):
            committed = read_snapshots(spark, passes_table)
            recovered = merged(committed).where(
                F.col("must_ok")).select("doc_id")
            tried_this_rung = committed.where(
                F.col("pass_no") >= rung["pass_no"]).select("doc_id")
            done = recovered.unionByName(tried_this_rung)
            todo = (documents if rung["pass_no"] == 1 else retryable).join(
                done, "doc_id", "left_anti")
            if todo.isEmpty():
                # nothing new for THIS rung; later rungs may still have
                # work (crash after rung p committed, before p+1 ran)
                continue
        ext = extract(todo, media_pages,
                      conf_threshold=rung["conf"], dpi=rung["dpi"],
                      lang=rung.get("lang"), psm=rung.get("psm"))
        snapshot_append(_fields_for_pass(ext, rung["pass_no"]), passes_table)
        appended_any = True
    final = (
        documents.select("doc_id")
        .join(merged(read_snapshots(spark, passes_table)), "doc_id", "left")
        .withColumn("must_ok", F.coalesce(F.col("must_ok"), F.lit(False)))
    )
    ladder_table = f"{out_dir}/fields_ladder"
    # A completed-ladder re-run extracted nothing; the merge is identical
    # to the last committed fields_ladder snapshot — don't grow the table.
    if appended_any or not committed_snapshots(ladder_table):
        snapshot_append(final, ladder_table)
    return final
