"""Resumability + lineage (SURVEY §4.4, north rule: resumable from
checkpoint with per-partition lineage): kill-after-partial-commit must
resume to a table state identical to an uninterrupted run."""

from __future__ import annotations

from pyspark.sql import functions as F

from angola_erp_ocr_spark.operators.ocr import (
    assemble_lines,
    ocr_lines,
    ocr_words,
    readable_words,
)
from angola_erp_ocr_spark.plans.lineage import write_with_lineage
from angola_erp_ocr_spark.plans.pipeline import extract, resume_filter
from angola_erp_ocr_spark.synth import build_corpus


def test_resume_equals_uninterrupted(spark, tmp_path):
    raw, golden, media = build_corpus(spark, 40)
    raw = raw.select("doc_id", "spans")

    # uninterrupted run
    full = extract(raw, media)

    # interrupted: only half the docs committed, then resume
    out = str(tmp_path / "out")
    part1 = raw.where(F.crc32(F.col("doc_id")) % 2 == 0)
    extract(part1, media).write.mode("overwrite").parquet(
        f"{out}/documents_extracted")

    committed = spark.read.parquet(f"{out}/documents_extracted")
    todo = resume_filter(raw, committed)
    assert todo.count() == 40 - committed.count()
    extract(todo, media).write.mode("append").parquet(
        f"{out}/documents_extracted")

    resumed = spark.read.parquet(f"{out}/documents_extracted")
    assert resumed.count() == 40
    assert resumed.exceptAll(full).count() == 0
    assert full.exceptAll(resumed).count() == 0


def test_resume_is_noop_when_complete(spark):
    raw, _golden, media = build_corpus(spark, 10)
    raw = raw.select("doc_id", "spans")
    done = extract(raw, media)
    assert resume_filter(raw, done).count() == 0


def test_write_with_lineage_accounts_everything(spark, tmp_path):
    raw, _golden, media = build_corpus(spark, 25)
    out = extract(raw.select("doc_id", "spans"), media)
    stats = write_with_lineage(out, str(tmp_path / "o"), run_id="r1")
    assert stats["docs_out"] == 25
    total_spans = (
        spark.read.parquet(str(tmp_path / "o" / "documents_extracted"))
        .select(F.sum(F.size("spans"))).collect()[0][0]
    )
    assert stats["spans_emitted"] == total_spans
    lin = spark.read.parquet(str(tmp_path / "o" / "lineage"))
    assert lin.where("run_id = 'r1'").count() >= 1
    assert lin.agg(F.sum("docs_in")).collect()[0][0] == 25


def test_fused_ocr_lines_matches_unfused(spark):
    """ocr_lines (decode+gate+assembly in one mapInPandas) must be
    row-identical to the compositional word-table path."""
    _raw, _golden, media = build_corpus(spark, 30)
    fused = ocr_lines(media)
    unfused = assemble_lines(readable_words(ocr_words(media)))
    assert fused.exceptAll(unfused).count() == 0
    assert unfused.exceptAll(fused).count() == 0


def test_extract_gate_drops_all_sub_gate_words(spark):
    """R2's trigger: a doc whose OCR words all fall below the default gate
    yields no text spans in pass 1, while a clean doc keeps its line (the
    retry that recovers it is the committed ladder, pinned below)."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    words = [dict(x=40, y=10, w=30, h=12, conf=15, block=0, par=0, line=0,
                  word_idx=0, text="FRACO"),
             dict(x=80, y=10, w=30, h=12, conf=12, block=0, par=0, line=0,
                  word_idx=1, text="SCAN")]
    good = [dict(x=40, y=10, w=30, h=12, conf=80, block=0, par=0, line=0,
                 word_idx=0, text="BOM")]
    docs = spark.createDataFrame(
        [("low", None, [("media", "", "page://low/0", 0)]),
         ("hi", None, [("media", "", "page://hi/0", 0)])],
        DOCUMENTS_RAW)
    media = spark.createDataFrame(
        [("page://low/0", 0, bytearray(encode_page(words)), 150),
         ("page://hi/0", 0, bytearray(encode_page(good)), 150)],
        MEDIA_PAGE)

    first = {r["doc_id"]: r["spans"] for r in extract(docs, media).collect()}
    assert all(s["kind"] == "media" for s in first["low"])  # gate dropped all
    hi_texts = [s["text"] for s in first["hi"] if s["kind"] == "text"]
    assert hi_texts == ["BOM"]


def test_cascade_ladder_committed_runs_real_rungs(spark, tmp_path):
    """R2 ladder, production shape: each RETRY_LADDER rung is a real
    extract pass (rung conf gate + DPI resolution model), later rungs run
    only over still-failing docs (committed anti-join early exit), and the
    committed fields_ladder table carries <field>_pass provenance. A
    text-only doc is tried at rung 1 only (rungs vary only OCR settings),
    and a doc whose must field reads at rung 1 exits there even though a
    later rung could fill its other fields."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.plans.cascade import cascade_ladder_committed
    from angola_erp_ocr_spark.plans.snapshot import (committed_snapshots,
                                                     read_snapshots)
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    # classes as in the cascade_ladder oracle query: 0 clean (pass 1),
    # 1 low-conf (pass 2), 2 tiny print (pass 3 via 300 DPI), 3 hopeless
    def page(cls):
        conf = {0: 80, 1: 25, 2: 80, 3: 5}[cls]
        h = 2 if cls == 2 else 12
        return bytearray(encode_page([
            dict(x=40 + 70 * i, y=10, w=60, h=h, conf=conf, block=0, par=0,
                 line=0, word_idx=i, text=t)
            for i, t in enumerate(["TOTAL", f"{100 + cls},00", "AKZ"])
        ]))

    docs, media = [], []
    for i in range(8):
        did, cls = f"d{i}", i % 4
        docs.append((did, None, [("media", "", f"page://{did}/0", 0)]))
        media.append((f"page://{did}/0", 0, page(cls), 150))
    # text-only: no must field, and no rung can change its extraction
    docs.append(("text", None, [("text", "10,10|NOTA INTERNA", None, 0)]))
    # early exit: the must field reads at rung 1; AKZ (conf 25) would
    # read at rung 2, but the doc is done after rung 1
    docs.append(("early", None, [("media", "", "page://early/0", 0)]))
    media.append(("page://early/0", 0, bytearray(encode_page([
        dict(x=40 + 70 * i, y=10, w=60, h=12, conf=c, block=0, par=0,
             line=0, word_idx=i, text=t)
        for i, (t, c) in enumerate(
            [("TOTAL", 80), ("104,00", 80), ("AKZ", 25)])
    ])), 150))
    # one doc_id held by two raw rows comes out once, as from extract()
    docs.append(("d0", None, [("media", "", "page://d0/0", 0)]))
    raw = spark.createDataFrame(docs, DOCUMENTS_RAW).select("doc_id", "spans")
    pages = spark.createDataFrame(media, MEDIA_PAGE)

    out = str(tmp_path / "ladder")
    rows = cascade_ladder_committed(spark, raw, pages, out).collect()
    assert [r["doc_id"] for r in rows].count("d0") == 1
    final = {r["doc_id"]: r for r in rows}
    assert len(rows) == len(final) == 10
    for i in range(8):
        did, cls = f"d{i}", i % 4
        r = final[did]
        if cls == 3:
            assert r["total_amount"] is None and not r["must_ok"]
        else:
            assert r["total_amount"] == f"{100 + cls},00"
            assert r["total_amount_pass"] == cls + 1  # winning rung
            assert r["must_ok"]

    # early exit: rung k's committed pass contains only still-failing docs
    snaps = committed_snapshots(f"{out}/fields_passes")
    assert len(snaps) == 4
    by_pass = {}
    for s in snaps:
        pdf = spark.read.parquet(s["data_dir"]).toPandas()
        by_pass[int(pdf["pass_no"].iloc[0])] = set(pdf["doc_id"])
    assert by_pass[1] >= {"d0", "d4"}              # rung 1 reads clean docs
    assert by_pass[2].isdisjoint({"d0", "d4"})     # recovered docs excluded
    assert by_pass[3].isdisjoint({"d0", "d4", "d1", "d5"})
    assert by_pass[4] == {"d3", "d7"}              # only the hopeless reach 4

    rows = read_snapshots(spark, f"{out}/fields_passes").collect()
    assert [r["pass_no"] for r in rows if r["doc_id"] == "text"] == [1]
    assert not final["text"]["must_ok"]
    assert [r["pass_no"] for r in rows if r["doc_id"] == "early"] == [1]
    assert final["early"]["total_amount"] == "104,00"
    assert final["early"]["total_amount_pass"] == 1
    assert final["early"]["currency"] is None and final["early"]["must_ok"]

    # the committed fields_ladder table is the returned view
    tbl = read_snapshots(spark, f"{out}/fields_ladder")
    assert tbl.count() == 10
    assert tbl.where(F.col("doc_id") == "d0").count() == 1

    # re-running a completed ladder whose corpus contains UNRECOVERABLE
    # docs must also be a no-op (r5 review finding: a must_ok-only done
    # set re-extracted hopeless docs at every rung on every re-run,
    # growing both snapshot tables without bound) — a doc is terminal
    # once every rung has a committed pass row for it
    n_ladder = len(committed_snapshots(f"{out}/fields_ladder"))
    again = {r["doc_id"]: r for r in
             cascade_ladder_committed(spark, raw, pages, out).collect()}
    assert len(committed_snapshots(f"{out}/fields_passes")) == 4
    assert len(committed_snapshots(f"{out}/fields_ladder")) == n_ladder
    assert not again["d3"]["must_ok"] and not again["d7"]["must_ok"]
    assert "total_amount_pass" in tbl.columns and "must_ok" in tbl.columns


def _backend_contract(spark, target, read):
    """SURVEY §7.5: the semantic contract BOTH write backends must satisfy
    — append accumulates (creating the table on first write), resume
    anti-join sees exactly the committed ids, overwrite replaces."""
    from angola_erp_ocr_spark.plans.pipeline import resume_filter
    from angola_erp_ocr_spark.sources.tables import write_documents

    def df(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id string")

    write_documents(df(["a", "b"]), target, mode="append")
    write_documents(df(["c"]), target, mode="append")
    assert {r["doc_id"] for r in read().collect()} == {"a", "b", "c"}
    # resume: anti-join input against committed ids → only the missing
    todo = resume_filter(df(["a", "c", "d"]), read())
    assert {r["doc_id"] for r in todo.collect()} == {"d"}
    write_documents(df(["z"]), target, mode="overwrite")
    assert {r["doc_id"] for r in read().collect()} == {"z"}


def test_write_documents_parquet_fallback_semantics(spark, tmp_path):
    """The parquet-directory fallback (the sandbox path) satisfies the
    backend contract."""
    pdir = str(tmp_path / "tbl_parquet")
    _backend_contract(spark, pdir, lambda: spark.read.parquet(pdir))


def test_write_documents_iceberg_semantics(spark, tmp_path):
    """The Iceberg `writeTo` path satisfies the SAME contract — gated on
    runtime-jar presence so this is green (skip) here and exercised
    identically in an Iceberg-equipped environment."""
    import pytest as _pytest

    from angola_erp_ocr_spark.sources.tables import iceberg_runtime_present

    if not iceberg_runtime_present(spark):
        _pytest.skip("Iceberg runtime jars absent — parquet leg covers the "
                     "contract; this leg runs where the jars are present")
    spark.conf.set("spark.sql.catalog.it_local",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it_local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it_local.warehouse",
                   str(tmp_path / "iceberg_wh"))
    tbl = "it_local.db.docs"
    _backend_contract(spark, tbl, lambda: spark.read.table(tbl))


def test_merge_retry_fields_keep_best_so_far(spark):
    """R2 keep-best merge (util/ocr_pdf.py:2388-2402): a later pass fills
    only the fields earlier passes left null — never overwrites — and
    must_ok reflects the MERGED record."""
    from angola_erp_ocr_spark.plans.cascade import merge_retry_fields

    rows = [
        # doc a: pass1 has inv, no total; pass2 degrades inv (ignored) and
        # adds total → inv from 1, total from 2, must_ok
        ("a", 1, "FT 1", None),
        ("a", 2, "GARBLED", "10,00"),
        # doc b: nothing on pass1, inv on pass2, total never → not must_ok
        ("b", 1, None, None),
        ("b", 2, "FT 2", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, pass_no int, invoice_number string, "
              "total_amount string")
    got = {r["doc_id"]: r for r in merge_retry_fields(
        df, ["invoice_number", "total_amount"],
        must_fields=["invoice_number", "total_amount"]).collect()}
    a, b = got["a"], got["b"]
    assert (a["invoice_number"], a["invoice_number_pass"]) == ("FT 1", 1)
    assert (a["total_amount"], a["total_amount_pass"]) == ("10,00", 2)
    assert a["must_ok"] is True
    assert (b["invoice_number"], b["invoice_number_pass"]) == ("FT 2", 2)
    assert b["total_amount"] is None and b["total_amount_pass"] is None
    assert b["must_ok"] is False


def test_sources_path_resolution(spark):
    from angola_erp_ocr_spark.sources.tables import resolve_path

    df = spark.createDataFrame(
        [("/files/a.pdf",), ("/private/files/b.pdf",), ("/assets/c.png",),
         ("/abs/d.pdf",), ("e.pdf",), ("https://x.test/f.pdf",)], ["p"])
    got = [r["r"] for r in
           df.select(resolve_path(F.col("p"), "/srv/erp").alias("r")).collect()]
    assert got == ["/srv/erp/files/a.pdf", "/srv/erp/private/files/b.pdf",
                   "/srv/erp/assets/c.png", "/abs/d.pdf",
                   "/srv/erp/files/e.pdf", "https://x.test/f.pdf"]


def test_stream_extract_matches_batch(spark, tmp_path):
    """§2.10: the streaming ingest (foreachBatch + checkpoint) must produce
    exactly the batch extract() output, micro-batch by micro-batch."""
    from angola_erp_ocr_spark.streaming.incremental import stream_extract

    raw, _golden, media = build_corpus(spark, 20)
    raw = raw.select("doc_id", "spans")
    src = str(tmp_path / "src")
    # two files → two micro-batches (maxFilesPerTrigger defaults off; the
    # availableNow trigger drains both)
    raw.where(F.crc32("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    raw.where(F.crc32("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    q = stream_extract(spark, src, out, str(tmp_path / "ckpt"),
                       media_pages=media, schema=raw.schema)
    q.awaitTermination(180)

    # each micro-batch owns a batch_id=<n> directory (idempotent replay);
    # the partition column is metadata, not payload
    got = spark.read.parquet(out).drop("batch_id")
    want = extract(raw, media)
    assert got.count() == 20
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_snapshot_commit_crash_invisibility(spark, tmp_path):
    """North rule: resume from the last committed snapshot. Data written
    without a manifest (a crash between write and commit) must be
    invisible; the resume anti-join then re-processes exactly those docs."""
    from angola_erp_ocr_spark.plans.snapshot import (
        committed_snapshots, read_snapshots, snapshot_append)

    raw, _g, media = build_corpus(spark, 30)
    raw = raw.select("doc_id", "spans")
    table = str(tmp_path / "tbl")

    full = extract(raw, media)
    half = full.where(F.crc32("doc_id") % 2 == 0)
    rest = full.where(F.crc32("doc_id") % 2 == 1)

    # committed snapshot 0
    m0 = snapshot_append(half, table)
    assert m0["seq"] == 0 and m0["n_rows"] == half.count()

    # simulate a crash: data written, NO manifest
    rest.write.mode("overwrite").parquet(f"{table}/data/crashed-run")
    committed = read_snapshots(spark, table)
    assert committed.count() == half.count()  # crashed data invisible

    # resume: anti-join finds exactly the missing docs, commit snapshot 1
    todo = resume_filter(raw, committed)
    assert todo.count() == 30 - half.count()
    snapshot_append(extract(todo, media), table)

    final = read_snapshots(spark, table)
    assert final.count() == 30
    assert final.exceptAll(full).count() == 0
    assert len(committed_snapshots(table)) == 2


def test_snapshot_expiry(spark, tmp_path):
    from angola_erp_ocr_spark.plans.snapshot import (
        committed_snapshots, expire_snapshots, snapshot_append)

    df = spark.range(3).selectExpr("cast(id as string) doc_id")
    table = str(tmp_path / "tbl")
    for _ in range(4):
        assert snapshot_append(df, table)["n_rows"] == 3
    dropped = expire_snapshots(table, keep_last=2)
    assert len(dropped) == 2
    assert len(committed_snapshots(table)) == 2
    # an empty frame commits a snapshot with n_rows == 0
    assert snapshot_append(df.limit(0), table)["n_rows"] == 0
    assert len(committed_snapshots(table)) == 3


def test_extract_emits_empty_docs(spark):
    """A doc whose candidates are all filtered (boilerplate-only) or whose
    spans are empty must still appear in the output with spans=[] — else
    resume re-processes it forever and pass-rate joins lose it silently."""
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW

    docs = spark.createDataFrame(
        [("empty", None, []),
         ("furniture", None, [("text", "10,10|TELEF. 222-333-444", None, 0),
                              ("text", "10,20|PÁGINA 1", None, 1)]),
         ("real", None, [("text", "10,10|CONTEUDO UTIL", None, 0)])],
        DOCUMENTS_RAW).select("doc_id", "spans")
    out = {r["doc_id"]: r["spans"] for r in extract(docs, None).collect()}
    assert set(out) == {"empty", "furniture", "real"}
    assert out["empty"] == []
    assert out["furniture"] == []
    assert [s["text"] for s in out["real"]] == ["CONTEUDO UTIL"]
    # and resume treats them as done
    committed = extract(docs, None)
    assert resume_filter(docs, committed).count() == 0

    # a doc_id held by two raw rows comes out once, with both rows' spans
    # numbered 0..n-1 (the per-row anchors shift no offset)
    dup_spans = [("text", "10,10|LINHA A", None, 0),
                 ("text", "10,20|LINHA B", None, 1)]
    dup = spark.createDataFrame(
        [("dup", None, dup_spans), ("dup", None, dup_spans)],
        DOCUMENTS_RAW).select("doc_id", "spans")
    rows = extract(dup, None).collect()
    assert len(rows) == 1
    assert [(s["text"], s["offset"]) for s in rows[0]["spans"]] == [
        ("LINHA A", 0), ("LINHA A", 1), ("LINHA B", 2), ("LINHA B", 3)]

    # media spans whose page rows are missing stay markers, and they and
    # the text around them keep their offsets
    from angola_erp_ocr_spark.schema import MEDIA_PAGE
    gaps = spark.createDataFrame(
        [("gaps", None, [("text", "10,10|ANTES", None, 0),
                         ("media", "", "page://gaps/0", 1),
                         ("text", "10,10|ENTRE", None, 2),
                         ("media", "", "page://gaps/1", 3),
                         ("text", "10,10|DEPOIS", None, 4)])],
        DOCUMENTS_RAW).select("doc_id", "spans")
    no_pages = spark.createDataFrame([], MEDIA_PAGE)
    [row] = extract(gaps, no_pages).collect()
    assert [tuple(s) for s in row["spans"]] == [
        ("text", "ANTES", None, 0),
        ("media", "", "page://gaps/0", 1),
        ("text", "ENTRE", None, 2),
        ("media", "", "page://gaps/1", 3),
        ("text", "DEPOIS", None, 4),
    ]


def test_snapshot_seq_after_expiry(spark, tmp_path):
    from angola_erp_ocr_spark.plans.snapshot import (
        committed_snapshots, expire_snapshots, snapshot_append)

    df = spark.range(2).selectExpr("cast(id as string) doc_id")
    table = str(tmp_path / "tbl")
    for _ in range(3):
        snapshot_append(df, table)
    expire_snapshots(table, keep_last=1)        # drops seq 0,1; keeps 2
    m = snapshot_append(df, table)
    assert m["seq"] == 3                        # max+1, not count (=2)
    seqs = [s["seq"] for s in committed_snapshots(table)]
    assert seqs == sorted(seqs) == [2, 3]


def test_snapshot_seq_claim_is_atomic(spark, tmp_path):
    """A concurrent writer's in-flight claim (manifest file exists, JSON
    not yet written) must neither crash readers nor be reallocated."""
    import os

    from angola_erp_ocr_spark.plans.snapshot import (
        committed_snapshots, read_snapshots, snapshot_append)

    table = str(tmp_path / "t")
    df = spark.createDataFrame([("d1", 1)], ["doc_id", "v"])
    m0 = snapshot_append(df, table)
    assert m0["seq"] == 0

    # simulate a racing writer that claimed seq 1 but hasn't written yet
    os.makedirs(f"{table}/manifests", exist_ok=True)
    open(f"{table}/manifests/000001.json", "w").close()

    assert [m["seq"] for m in committed_snapshots(table)] == [0]  # no crash
    m2 = snapshot_append(spark.createDataFrame([("d1", 2)], ["doc_id", "v"]),
                         table)
    assert m2["seq"] == 2       # claimed seq 1 was NOT reallocated
    got = sorted(r["v"] for r in read_snapshots(spark, table).collect())
    assert got == [1, 2]        # the empty claim hides no committed data


def test_cascade_ladder_committed_rerun_is_noop_when_all_recovered(
        spark, tmp_path):
    """Re-running a COMPLETED ladder must not re-extract the corpus at
    rung 1 nor append duplicate snapshots (ADVICE r4): the committed-
    recovery anti-join applies before rung 1 on resume, and when nothing
    new was extracted the fields_ladder append is skipped entirely. A doc
    with no text line (an empty doc; a media span whose page row is
    missing) still gets one all-null pass row per rung that tried it, so
    it is terminal too and the re-run appends nothing."""
    from angola_erp_ocr_spark.glyph import encode_page
    from angola_erp_ocr_spark.plans.cascade import cascade_ladder_committed
    from angola_erp_ocr_spark.plans.snapshot import committed_snapshots
    from angola_erp_ocr_spark.schema import DOCUMENTS_RAW, MEDIA_PAGE

    # all-recoverable corpus: classes 0 (clean), 1 (low-conf), 2 (tiny)
    def page(cls):
        conf = {0: 80, 1: 25, 2: 80}[cls]
        h = 2 if cls == 2 else 12
        return bytearray(encode_page([
            dict(x=40 + 70 * i, y=10, w=60, h=h, conf=conf, block=0, par=0,
                 line=0, word_idx=i, text=t)
            for i, t in enumerate(["TOTAL", f"{100 + cls},00", "AKZ"])
        ]))

    docs, media = [], []
    for i in range(6):
        did, cls = f"d{i}", i % 3
        docs.append((did, None, [("media", "", f"page://{did}/0", 0)]))
        media.append((f"page://{did}/0", 0, page(cls), 150))
    docs.append(("empty", None, []))
    docs.append(("no_page", None, [("media", "", "page://no_page/0", 0)]))
    raw = spark.createDataFrame(docs, DOCUMENTS_RAW).select("doc_id", "spans")
    pages = spark.createDataFrame(media, MEDIA_PAGE)

    out = str(tmp_path / "ladder")
    first = {r["doc_id"]: r for r in
             cascade_ladder_committed(spark, raw, pages, out).collect()}
    assert len(first) == 8
    assert {d for d, r in first.items() if not r["must_ok"]} == \
           {"empty", "no_page"}
    n_passes = len(committed_snapshots(f"{out}/fields_passes"))
    n_ladder = len(committed_snapshots(f"{out}/fields_ladder"))
    assert n_ladder == 1

    second = {r["doc_id"]: r for r in
              cascade_ladder_committed(spark, raw, pages, out).collect()}
    assert len(committed_snapshots(f"{out}/fields_passes")) == n_passes
    assert len(committed_snapshots(f"{out}/fields_ladder")) == n_ladder
    assert {d: r["total_amount"] for d, r in second.items()} == \
           {d: r["total_amount"] for d, r in first.items()}
    assert not second["empty"]["must_ok"] and not second["no_page"]["must_ok"]
