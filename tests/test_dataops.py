"""Dedup / similarity / textstats / multimodal / streaming operator tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from angola_erp_ocr_spark.operators import dedup, multimodal, similarity, textstats
from angola_erp_ocr_spark.streaming.incremental import windowed_event_counts


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),    # near dup
        (4, "completely different content about spark engines"),
        (5, "el rapido zorro marron salta sobre el perro"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark):
    got = dedup.exact_duplicates(_docs(spark)).collect()
    assert len(got) == 1
    assert got[0]["ids"] == [1, 2]
    assert got[0]["keeper"] == 1


def test_minhash_lsh_finds_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 2) in pairs          # identical docs always collide
    assert (1, 4) not in pairs      # unrelated docs don't


def test_jaccard_pairs(spark):
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(_docs(spark), threshold=0.3).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_simhash_near_dups(spark):
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_dups(_docs(spark), max_hamming=6).collect()}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got


def test_lsh_recall_vs_exact(spark):
    """LSH candidates must cover the high-jaccard ground-truth pairs."""
    truth = {(r["id_a"], r["id_b"])
             for r in dedup.jaccard_pairs(_docs(spark), threshold=0.6).collect()}
    cand = {(r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(_docs(spark)).collect()}
    assert truth <= cand


def _vectors(spark, n=30, dims=8):
    import random
    rnd = random.Random(7)
    rows = []
    for i in range(n):
        base = [rnd.uniform(-1, 1) for _ in range(dims)]
        rows.append((i, [float(x) for x in base], i % 3))
    # vec 100 = exact copy of vec 0 (self-evident nearest neighbour)
    rows.append((100, rows[0][1], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(spark):
    vecs = _vectors(spark)
    queries = vecs.where("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk(vecs, queries, k=3).collect()
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["nbr_id"] == 100 and abs(got[0]["cosine"] - 1.0) < 1e-6


def test_ann_lsh_recall(spark):
    """Clustered corpus: true neighbours are close in cosine, so LSH buckets
    must recover most of the exact top-k (random-hyperplane guarantee)."""
    import random
    rnd = random.Random(11)
    centers = [[rnd.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = []
    for i in range(80):
        c = centers[i % 4]
        rows.append((i, [float(x + rnd.gauss(0, 0.05)) for x in c], i % 4))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    queries = vecs.where("vec_id in (0, 1, 2)").select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(vecs, queries, k=3)
    approx = similarity.ann_topk_lsh(vecs, queries, k=3, n_planes=8, dims=8)
    truth = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, (recall, truth, got)


def test_embedding_near_dups(spark):
    vecs = _vectors(spark)
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.embedding_near_dups(vecs, threshold=0.999).collect()}
    assert (0, 100) in got


def test_lang_id(spark):
    rows = [("the cat is in the house and it is fine",),
            ("el perro que corre por la casa con los gatos",),
            ("der hund ist nicht mit das haus und der katze",)]
    df = spark.createDataFrame(rows, ["text"])
    got = [r[0] for r in df.select(textstats.lang_id(F.col("text"))).collect()]
    assert got == ["en", "es", "de"]


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame([("Hello, world! 42 times",)], ["text"])
    row = df.select(
        textstats.token_count_ws(F.col("text")).alias("ws"),
        textstats.token_count_bpe(F.col("text")).alias("bpe"),
        *textstats.quality_features(F.col("text")),
    ).first()
    assert row["ws"] == 4
    # Hello , world ! 42 times → 6 BPE-ish tokens
    assert row["bpe"] == 6
    assert row["n_chars"] == 22
    assert 0 <= row["punct_ratio"] < 0.2


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("alpha beta",), ("beta alpha",)], ["text"])
    fps = [r[0] for r in df.select(textstats.fingerprint(F.col("text"))).collect()]
    assert fps[0] != fps[1]          # order matters
    assert all(isinstance(f, int) and 0 <= f < dedup.MERSENNE31 for f in fps)


def test_media_metadata_and_image_stub(spark):
    rows = [("image://a/1", bytearray(b"\x89PNG fake bytes")),
            ("image://a/2", bytearray(b"\x89PNG other bytes"))]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    meta = {r["media_ref"]: r for r in multimodal.media_metadata(df).collect()}
    assert meta["image://a/1"]["media_type"] == "image"
    assert meta["image://a/1"]["n_bytes"] == 15
    feats = {r["media_ref"]: r
             for r in multimodal.decode_images(df, strict=False).collect()}
    assert len(feats["image://a/1"]["embedding"]) == 8
    # provenance: fake output is labeled (VERDICT r2)
    assert feats["image://a/1"]["decoder"] == "fake-sha256"
    assert feats["image://a/1"]["is_synthetic"] is True
    # deterministic: same bytes → same features
    again = multimodal.decode_images(df, strict=False).collect()
    assert {r["media_ref"]: r["embedding"] for r in again} == {
        r: feats[r]["embedding"] for r in feats}


def test_decode_images_strict_by_default(spark):
    """Production posture: without an explicit strict=False opt-in, the
    decode stage decodes for real — a PNG becomes a numpy-png row, and
    bytes that are not a PNG fail the stage with ValueError, never a
    fake — so a pipeline entry point can never silently persist
    synthetic embeddings."""
    import inspect

    import numpy as np
    import pytest as _pytest

    from angola_erp_ocr_spark.functions.png import encode_png

    assert inspect.signature(
        multimodal.decode_images).parameters["strict"].default is True
    png = spark.createDataFrame(
        [("image://a/1", bytearray(encode_png(np.zeros((2, 3), np.uint8))))],
        "media_ref string, payload binary")
    [row] = multimodal.decode_images(png).collect()
    assert (row["width"], row["height"]) == (3, 2)
    assert row["decoder"] == "numpy-png" and row["is_synthetic"] is False
    df = spark.createDataFrame([("image://a/1", bytearray(b"x"))],
                               "media_ref string, payload binary")
    with _pytest.raises(Exception) as ei:
        multimodal.decode_images(df).collect()
    assert "ValueError" in str(ei.value) and "not a PNG" in str(ei.value)


def test_frame_sampling(spark):
    df = spark.createDataFrame(
        [("video://v/1", bytearray(bytes(2600)))], "media_ref string, payload binary")
    frames = multimodal.sample_frames(df, every_n=5).collect()
    assert [f["frame_no"] for f in frames] == [0, 5]


def test_windowed_event_counts_batch_semantics(spark, tmp_path):
    """Streaming agg validated via availableNow on a file stream."""
    events = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    late = spark.range(100, 101).select(
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-01 02:00:00")).alias("ts"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    src = str(tmp_path / "src")
    # two files + maxFilesPerTrigger=1 → two micro-batches; the second
    # advances the watermark past batch 1's window so append emits it
    events.coalesce(1).write.parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = windowed_event_counts(stream)
    out = str(tmp_path / "out")
    q = (agg.writeStream.outputMode("append")
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0]["n"] == 100


def _family_docs(spark, n_fams=6, n_var=4):
    """Families of similar texts: variants differ by appended tokens."""
    rows = []
    base = "relatorio mensal de operacoes do cliente numero"
    for fam in range(n_fams):
        for var in range(n_var):
            doc_id = fam * n_var + var
            extra = " ".join(f"extra{v}" for v in range(var))
            rows.append((doc_id, f"{base} fam{fam} {extra}".strip()))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_banding_is_lossless(spark):
    """Pigeonhole guarantee: the banded equi-join finds EVERY pair with
    hamming <= 3 that a brute-force cross join finds — including pairs
    that differ only in the high 16 bits (the round-1 blocking missed
    those)."""
    docs = _family_docs(spark)
    banded = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}

    s = docs.select(F.col("doc_id").alias("id"),
                    dedup.simhash32(F.col("text")).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    hamming = F.aggregate(
        F.sequence(F.lit(0), F.lit(31)), F.lit(0),
        lambda acc, j: acc
        + (F.floor(xor / F.pow(F.lit(2.0), j)) % 2).cast("int"))
    brute = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     hamming.alias("hamming"))
             .where(F.col("hamming") <= 3).collect()}
    assert banded == brute
    assert brute, "fixture must produce at least one near-dup pair"
    # at least one brute pair differs somewhere in the high 16 bits —
    # i.e. the old high-16 blocking would have missed it
    shs = {r["id"]: r["sh"] for r in s.collect()}
    assert any((shs[x] >> 16) != (shs[y] >> 16) for x, y in brute), \
        "fixture should exercise high-bit differences"


def test_neardup_groups_transitive_chain(spark):
    """A~B~C with A !~ C must still land in ONE component; unrelated docs
    must not join it."""
    toks = [f"w{i}" for i in range(12)]
    rows = [
        (1, " ".join(toks[0:8])),    # A
        (2, " ".join(toks[1:9])),    # B: J(A,B)=5/7≈0.714
        (3, " ".join(toks[2:10])),   # C: J(B,C)≈0.714, J(A,C)=0.5<0.6
        (7, "totally unrelated content about spark query planning"),
        (8, "totally unrelated content about spark query planning"),  # dup of 7
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.verify_candidates(
        docs, dedup.minhash_lsh_pairs(docs, bands=8, rows=2),
        threshold=0.6)
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (2, 3) in got_pairs
    assert (1, 3) not in got_pairs   # below threshold — only transitive

    groups = {r["component_id"]: r
              for r in dedup.neardup_groups(docs, bands=8, rows=2,
                                            threshold=0.6).collect()}
    assert groups[1]["members"] == "1,2,3"
    assert groups[1]["keeper"] == 1
    assert groups[1]["n_members"] == 3
    assert groups[7]["members"] == "7,8"


def test_neardup_groups_deep_chain_is_one_group(spark):
    """A 64-doc chain (doc i holds tokens w{i}..w{i+7}, so only neighbours
    are near-dups) is ONE group: the components must reach its far end,
    not stop at a fixed round budget and split it."""
    rows = [(i, " ".join(f"w{j}" for j in range(i, i + 8)))
            for i in range(64)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["keeper"], r["n_members"])
           for r in dedup.neardup_groups(docs, bands=8, rows=2).collect()]
    assert got == [(0, 64)]


def test_connected_components_converges(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (11, 12), (2, 1)], ["id_a", "id_b"])
    comp = {r["id"]: r["comp"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 5: 1, 9: 1, 11: 11, 12: 11}


def test_extract_plan_exchange_budget(spark):
    """Pin the flagship plan's shuffle budget (pipeline.py docstring, the
    100 TB scale property): exactly 1 hash exchange — the post-union
    doc_id exchange that serves the repeat-count, segment and total-order
    windows and the per-doc assembly — plus the marker broadcast. A 2nd
    hash exchange appearing here means someone un-fused a window, brought
    back a pre-shuffle segment window, or re-joined the doc_id list."""
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.synth import build_corpus

    raw, _golden, media = build_corpus(spark, 20)
    df = extract(raw.select("doc_id", "spans"), media)
    plan = spark._jvm.PythonSQLUtils.explainString(  # type: ignore
        df._jdf.queryExecution(), "formatted")
    n_hash_exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and line.strip().split(") ")[-1]
        .startswith("Exchange"))
    assert n_hash_exchanges == 1, f"exchange budget broken:\n{plan[:2000]}"


def test_embedding_near_dups_lsh_blocking(spark):
    """Label-free default: finds a near-identical pair, and the plan is an
    equi-join (no BroadcastNestedLoopJoin cross product)."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    jit = [v + 0.001 for v in base]
    rows = [(1, base), (2, jit)]
    rows += [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(3, 20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    df = dedup.embedding_near_dups(emb, threshold=0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.99


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState exact-dedup: first occurrence of a text is
    emitted once; duplicates are suppressed within a batch AND across
    separate stream runs (state restored from the checkpoint)."""
    from angola_erp_ocr_spark.streaming.stateful_dedup import (
        streaming_exact_dedup)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, text string"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (streaming_exact_dedup(stream)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    # run 1: b duplicates a (same batch) — only the min id survives
    spark.createDataFrame(
        [("a", "hello world"), ("b", "hello world"), ("c", "other text")],
        schema).coalesce(1).write.mode("overwrite").parquet(src)
    run_once()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"a", "c"}

    # run 2 (restart, state from checkpoint): d duplicates a ACROSS runs
    spark.createDataFrame(
        [("d", "hello world"), ("e", "fresh text")],
        schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {"a", "c", "e"}


def test_semdedup_recall_vs_brute_force(spark):
    """SemDeDup's premise: true semantic duplicates are near-identical
    vectors, so they share an IVF cell almost surely and the cell-bounded
    pairwise verify recovers them. Plant 40 duplicate pairs (tiny
    deterministic perturbations of base vectors) among 120 background
    vectors; recall of the planted high-threshold pairs vs the O(N²)
    brute force must be ≥ 0.9 (a boundary-straddling pair may land in two
    cells — the documented cross-cell miss)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(160, 64))
    rows = []
    vid = 0
    brute_pairs = set()
    for i in range(160):
        rows.append((vid, [float(x) for x in base[i]]))
        if i < 40:  # planted near-dup: cosine ≈ 1 with its base
            dup = base[i] + 1e-4 * rng.normal(size=64)
            rows.append((vid + 1, [float(x) for x in dup]))
            brute_pairs.add((vid, vid + 1))
            vid += 1
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = dedup.semdedup_pairs(emb, n_cells=8, threshold=0.99).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}

    # brute-force truth at the same threshold
    V = np.array([r[1] for r in sorted(rows)])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)
    ids = [r[0] for r in sorted(rows)]
    truth = {(ids[i], ids[j])
             for i in range(len(ids)) for j in range(i + 1, len(ids))
             if S[i, j] >= 0.99}
    assert truth >= brute_pairs          # the plant is in the truth set
    recall = len(got_pairs & truth) / max(len(truth), 1)
    assert recall >= 0.9, (recall, len(truth), len(got_pairs))
    assert got_pairs <= truth            # cell-bounded verify is exact


def test_png_codec_roundtrip_all_types_and_filters():
    """Pure-numpy PNG codec (functions/png.py): pixel-exact roundtrip
    for every color type and every row-filter type, palette expansion
    against a hand-framed PNG, loud rejection of malformed/unsupported
    inputs. This is the decoder png_roundtrip's oracle certifies at
    sf0.01 — here it's pinned library-side, spark-free."""
    import struct
    import zlib

    import numpy as np

    from angola_erp_ocr_spark.functions import png

    rng = np.random.RandomState(7)
    for shape in [(5, 3), (5, 3, 2), (6, 9, 3), (4, 4, 4), (1, 1), (31, 2, 3)]:
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        out, _ = png.decode_png(png.encode_png(arr))
        want = arr if arr.ndim == 3 else arr[:, :, None]
        assert out.shape == want.shape and (out == want).all(), shape

    # each filter type alone exercises its unfilter path in isolation
    arr = rng.randint(0, 256, size=(11, 8, 3), dtype=np.uint8)
    for f in range(5):
        out, _ = png.decode_png(png.encode_png(arr, filter_cycle=(f,)))
        assert (out == arr).all(), f"filter {f}"

    # hand-framed palette (color type 3) image expands through PLTE
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1]) + bytes([0, 2, 0])
    blob = (png._SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    img, ct = png.decode_png(blob)
    assert ct == 3 and img.tolist() == [
        [[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]]

    # malformed / unsupported inputs fail loudly, never mis-decode
    import pytest
    with pytest.raises(ValueError, match="signature"):
        png.decode_png(b"not a png")
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="bit depth"):
        png.decode_png(png._SIGNATURE + chunk(b"IHDR", ihdr16))
    ihdr_adam7 = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    with pytest.raises(ValueError, match="interlace"):
        png.decode_png(png._SIGNATURE + chunk(b"IHDR", ihdr_adam7))

    # luma + area-average resize are deterministic
    const = np.full((20, 30, 3), 200, dtype=np.uint8)
    thumb = png.box_resize(
        png.to_gray(png.decode_png(png.encode_png(const))[0]), 8, 1)
    assert thumb.shape == (1, 8) and set(thumb.tobytes()) == {200}


def test_png_rejects_corruption_loudly():
    """Every corruption mode is a ValueError, never wrong pixels or a
    foreign exception class: chunk CRC mismatch (bit rot in PLTE/IHDR
    has no compression layer protecting it), corrupt IDAT zlib stream,
    palette index beyond PLTE."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from angola_erp_ocr_spark.functions import png

    blob = bytearray(png.encode_png(
        np.arange(48, dtype=np.uint8).reshape(4, 12)))
    blob[-20] ^= 0x01  # flip a bit inside a chunk body
    with pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(blob))

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bad_idat = (png._SIGNATURE + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", b"\x00not-zlib") + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IDAT"):
        png.decode_png(bad_idat)

    ihdr3 = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    plte = bytes([10, 20, 30] * 2)                      # 2 entries
    raw = bytes([0, 0, 200])                            # index 200 >= 2
    oob = (png._SIGNATURE + chunk(b"IHDR", ihdr3) + chunk(b"PLTE", plte)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        png.decode_png(oob)

    # CRC-valid IHDR with the wrong length must be ValueError too, not
    # an escaping struct.error (which would dodge decode_qr_media's
    # corrupt-blob skip and fail the whole stage)
    short_ihdr = (png._SIGNATURE + chunk(b"IHDR", b"\x00" * 5)
                  + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR length"):
        png.decode_png(short_ihdr)


def test_decode_images_real_png_decode(spark):
    """decode_images(df) runs a REAL decode on executors — actual
    inflate + unfilter of spec-conformant PNG bytes, rows labeled
    decoder='numpy-png', is_synthetic=False, with the same schema as
    the labeled-fake output."""
    import numpy as np

    from angola_erp_ocr_spark.functions.png import encode_png

    rgb = np.zeros((4, 16, 3), dtype=np.uint8)
    rgb[:, :, 0] = 255                      # pure red → luma 76
    rows = [("image://png/rgb", bytearray(encode_png(rgb))),
            ("image://png/gray", bytearray(encode_png(
                np.full((2, 8), 51, dtype=np.uint8))))]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    out = {r["media_ref"]: r for r in multimodal.decode_images(df).collect()}

    r1 = out["image://png/rgb"]
    assert (r1["width"], r1["height"]) == (16, 4)
    assert r1["decoder"] == "numpy-png" and r1["is_synthetic"] is False
    # BT.601 luma of pure red = round(0.299*255) = 76
    assert all(abs(v - 76 / 255.0) < 1e-6 for v in r1["embedding"])
    r2 = out["image://png/gray"]
    assert (r2["width"], r2["height"]) == (8, 2)
    assert all(abs(v - 51 / 255.0) < 1e-6 for v in r2["embedding"])
    # shape parity with the labeled-fake path (same schema, same widths)
    assert len(r1["embedding"]) == 8
    assert (multimodal.decode_images(df).schema
            == multimodal.decode_images(df, strict=False).schema)
