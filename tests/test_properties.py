"""Property-based tests (SURVEY §5.4).

The oracle harness assumes the P-family regex semantics are IDENTICAL in
three dialects: Python `re` (corpus generator / golden), Java regex (the
Spark engine) and RE2 (the DuckDB oracle). Hypothesis hammers that
assumption with adversarial strings. Plus structural invariants: span
permutation-invariance and extraction idempotence.
"""

from __future__ import annotations

import random
import re

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from angola_erp_ocr_spark.functions.normalize import (
    AVOID_RE,
    CASH_RE,
    DATE_RE,
    IBAN_RE,
    normalize_col,
    normalize_py,
    normalize_sql,
)

_ALPHABET = "0123456789 AOKZE.q,lIsSoO-R/ÇÃ"
_FRAGMENTS = [
    "AOOE", "A006", "AKRZ", "AKZZ", "2q22", "1O1", "5s5", " ,", "MARÇO",
    "JANEIRO", "DEZEMBRO", "AO06.12.345", "1.234,56", "2023/05/14",
    "05-14-2023", "TELEF.", "PÁGINA 3", "x@y.com",
]

_text = st.lists(
    st.one_of(st.text(alphabet=_ALPHABET, min_size=0, max_size=12),
              st.sampled_from(_FRAGMENTS)),
    min_size=1, max_size=6,
).map("".join)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@settings(max_examples=25, deadline=None)
@given(st.lists(_text, min_size=1, max_size=30))
def test_normalize_tri_dialect(spark, duck, texts):
    want = [normalize_py(s) for s in texts]

    sdf = spark.createDataFrame([(s,) for s in texts], ["t"])
    got_spark = [r["n"] for r in
                 sdf.select(normalize_col(F.col("t")).alias("n")).collect()]
    assert got_spark == want

    pdf = pd.DataFrame({"t": texts})
    duck.register("props_t", pdf)
    got_duck = [r[0] for r in duck.execute(
        f"SELECT {normalize_sql('t')} FROM props_t").fetchall()]
    duck.unregister("props_t")
    assert got_duck == want


@settings(max_examples=25, deadline=None)
@given(st.lists(_text, min_size=1, max_size=30))
def test_predicates_tri_dialect(spark, duck, texts):
    patterns = {"cash": CASH_RE, "date": DATE_RE, "iban": IBAN_RE,
                "avoid": AVOID_RE}
    want = {k: [bool(re.search(p, s.upper() if k == "avoid" else s))
                for s in texts]
            for k, p in patterns.items()}

    sdf = spark.createDataFrame([(s,) for s in texts], ["t"])
    cols = [
        (F.upper(F.col("t")) if k == "avoid" else F.col("t"))
        .rlike(p).alias(k)
        for k, p in patterns.items()
    ]
    rows = sdf.select(*cols).collect()
    for k in patterns:
        assert [bool(r[k]) for r in rows] == want[k], k

    pdf = pd.DataFrame({"t": texts})
    duck.register("props_t", pdf)
    for k, p in patterns.items():
        expr = "upper(t)" if k == "avoid" else "t"
        got = [bool(r[0]) for r in duck.execute(
            f"SELECT regexp_matches({expr}, '{p}') FROM props_t").fetchall()]
        assert got == want[k], k
    duck.unregister("props_t")


def test_extract_is_span_permutation_invariant(spark):
    """Shuffling the physical order of a doc's spans array (offsets kept)
    must not change the extraction — order comes from `offset`, never from
    array position or partition order."""
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.synth import build_corpus

    raw, _golden, media = build_corpus(spark, 15)
    rows = raw.select("doc_id", "spans").collect()
    rng = random.Random(7)
    permuted = []
    for r in rows:
        spans = list(r["spans"])
        rng.shuffle(spans)
        permuted.append((r["doc_id"], [s.asDict() for s in spans]))
    praw = spark.createDataFrame(permuted, raw.select("doc_id", "spans").schema)

    a = extract(raw.select("doc_id", "spans"), media)
    b = extract(praw, media)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_extract_idempotent_rerun(spark):
    """Two runs of the same plan produce identical tables (no partition-
    order leakage into offsets)."""
    from angola_erp_ocr_spark.plans.pipeline import extract
    from angola_erp_ocr_spark.synth import build_corpus

    raw, _g, media = build_corpus(spark, 25)
    raw = raw.select("doc_id", "spans").repartition(7)
    a = extract(raw, media).collect()
    b = extract(raw.repartition(3), media).collect()
    am = {r["doc_id"]: r["spans"] for r in a}
    bm = {r["doc_id"]: r["spans"] for r in b}
    assert am == bm


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed join: zero shuffle on either side — the lever
    that removes the dominant exchange from recurring big joins at scale."""
    from pyspark.sql import functions as F

    from angola_erp_ocr_spark.plans.scale import bucketed_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 5000).select(
            F.col("id").alias("doc_id"), (F.col("id") * 3).alias("v1"))
        b = spark.range(0, 5000).select(
            F.col("id").alias("doc_id"), (F.col("id") * 7).alias("v2"))
        write_bucketed(a, "t_bucket_a", "doc_id", 8)
        write_bucketed(b, "t_bucket_b", "doc_id", 8)
        j = bucketed_join(spark, "t_bucket_a", "t_bucket_b", "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 5000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_salted_repartition_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    from angola_erp_ocr_spark.plans.scale import desalt, salted_repartition

    # one pathological key owning 90% of rows
    df = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold"))
        .alias("k"), F.col("id"))
    out = salted_repartition(df, "k", n_salts=8, partitions=8)
    sizes = (out.withColumn("p", F.spark_partition_id())
             .groupBy("p").count().collect())
    biggest = max(r["count"] for r in sizes)
    assert biggest < 9000 * 0.5, sizes  # the hot key no longer owns one task
    assert desalt(out).columns == ["k", "id"]
    assert desalt(out).count() == 10000


def test_flagship_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: docs_by_source reads only
    the three referenced columns, not the whole documents schema."""
    import __spark_entry__ as e

    df = e.queries()["docs_by_source"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"source", "n_chars", "lang"}, cols


# ---------------------------------------------------------------------------
# Round-2 invariants: banded-SimHash losslessness and connected-components
# correctness, hammered with generated inputs.
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
_docs_strategy = st.lists(
    st.lists(_word, min_size=1, max_size=8).map(" ".join),
    min_size=2, max_size=10)


@settings(max_examples=6, deadline=None)
@given(_docs_strategy)
def test_simhash_banding_lossless_property(spark, texts):
    """Pigeonhole guarantee holds on arbitrary corpora: banded pairs ==
    brute-force pairs at hamming ≤ 3."""
    from angola_erp_ocr_spark.operators import dedup

    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    banded = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()}
    s = docs.select(F.col("doc_id").alias("id"),
                    dedup.simhash32(F.col("text")).alias("sh"))
    shs = {r["id"]: r["sh"] for r in s.collect()}
    brute = {}
    ids = sorted(shs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(shs[a] ^ shs[b]).count("1")
            if h <= 3:
                brute[(a, b)] = h
    assert banded == brute


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=12))
def test_connected_components_matches_union_find(spark, edges):
    """Spark connected components == a pure-python union-find reference."""
    from angola_erp_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == _union_find_labels(edges)


def _union_find_labels(edges) -> dict[int, int]:
    """node → min member of its component, by pure-python union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        for n in (a, b):
            want[n] = find(n)
    # normalize union-find roots to min-member (the operator's label)
    members: dict[int, list[int]] = {}
    for n, r in want.items():
        members.setdefault(r, []).append(n)
    return {n: min(members[r]) for n, r in want.items()}


# ---------------------------------------------------------------------------
# Large-star/small-star connected components (dedup.connected_components,
# Kiveris et al. SoCC'14): O(log n) rounds on a high-diameter graph, a loud
# failure short of the fixpoint, and union-find labels on random graphs.
# ---------------------------------------------------------------------------

def test_star_cc_chain_olog_rounds(spark):
    """A 2^10-node chain has diameter 1023 — min-propagation needs ~1024
    rounds, large/small-star must collapse it in O(log n): every node
    labels to component 0 within ≲ 2·log2(n) + slack rounds."""
    from angola_erp_ocr_spark.operators.dedup import connected_components

    n = 1 << 10
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    labels = connected_components(pairs, max_iters=40)
    rounds = connected_components.last_rounds
    got = {r["id"]: r["comp"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 24, f"star CC took {rounds} rounds on a 2^10 chain"


def test_star_cc_raises_when_fixpoint_not_reached(spark):
    """Short of the star-forest fixpoint a node can carry two contradictory
    labels (ADVICE r3/r4) — corrupt output must be a loud failure, never a
    silent one. max_iters=1 on a 2^10 chain cannot converge."""
    import pytest

    from angola_erp_ocr_spark.operators.dedup import connected_components

    n = 1 << 10
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(pairs, max_iters=1)


def test_star_cc_matches_union_find_on_random_graphs(spark):
    """star CC ≡ union-find on seeded random graphs (same (id, comp) map)."""
    import random

    from angola_erp_ocr_spark.operators.dedup import connected_components

    for seed in (7, 23):
        rng = random.Random(seed)
        n = 60
        edges = {(min(a, b), max(a, b))
                 for a, b in (sorted(rng.sample(range(n), 2))
                              for _ in range(45))}
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "id_a long, id_b long")
        star = {r["id"]: r["comp"] for r in connected_components(
            pairs, max_iters=64).collect()}
        assert star == _union_find_labels(sorted(edges))


# ---------------------------------------------------------------------------
# GG02 batch decode (glyph.decode_batch_columns) ≡ per-page decode — the
# OCR hot path's vectorized gather must agree with the reference per-page
# frombuffer decode on arbitrary page mixes (incl. empty pages, max-len
# words, the conf=-1 sentinel, and trailing page extras like QR blobs).
# ---------------------------------------------------------------------------

_word = st.fixed_dictionaries({
    "x": st.integers(0, 65535), "y": st.integers(0, 65535),
    "w": st.integers(0, 65535), "h": st.integers(0, 65535),
    "conf": st.one_of(st.just(-1), st.integers(0, 100)),
    "block": st.integers(0, 255), "par": st.integers(0, 255),
    "line": st.integers(0, 255), "word_idx": st.integers(0, 65535),
    "text": st.text(alphabet="aã0 .Ç", min_size=0, max_size=6),
})

_pages = st.lists(st.lists(_word, min_size=0, max_size=9),
                  min_size=1, max_size=6)


@settings(max_examples=60, deadline=None)
@given(pages=_pages, extra=st.binary(max_size=8))
def test_batch_decode_matches_per_page(pages, extra):
    from angola_erp_ocr_spark.glyph import (
        decode_batch_columns, decode_page_columns, encode_page, payload_end)

    blobs = [encode_page(ws) + (extra if i % 2 else b"")
             for i, ws in enumerate(pages)]
    word_page, hdr, tstart, tend, joined, rel_end = \
        decode_batch_columns(blobs)
    for i, blob in enumerate(blobs):
        h_ref, t_ref = decode_page_columns(blob)
        sel = word_page == i
        assert (hdr[sel] == h_ref).all()
        got_texts = [joined[s:e].decode("utf-8")
                     for s, e in zip(tstart[sel], tend[sel])]
        assert got_texts == t_ref
        assert int(rel_end[i]) == payload_end(blob)


def _bad_page_index(batch):
    import pytest as _pytest

    from angola_erp_ocr_spark.glyph import decode_batch_columns

    with _pytest.raises(ValueError) as ei:
        decode_batch_columns(batch)
    assert f"batch page {ei.value.page_index}:" in str(ei.value)
    return ei.value.page_index


def _one_word_page(text="ok"):
    from angola_erp_ocr_spark.glyph import encode_page

    return encode_page([dict(x=1, y=2, w=3, h=4, conf=50, block=0, par=0,
                             line=0, word_idx=0, text=text)])


def test_batch_decode_rejects_legacy_gg01():
    """GG01 (the retired row-interleaved codec) and any other non-GG02
    blob is rejected, naming the first bad page of the batch."""
    good = _one_word_page()
    assert _bad_page_index([good, b"GG01\x00\x00legacy"]) == 1
    # shorter than the header: bad on length, even as the last page
    assert _bad_page_index([good, good, b"GG"]) == 2
    assert _bad_page_index([b"", good]) == 0


def test_batch_decode_rejects_truncated_blobs():
    """A truncated/count-corrupted GG02 blob must raise ValueError naming
    its page — not silently gather bytes from the FOLLOWING page, and not
    IndexError when it is the last page."""
    good = _one_word_page("hello")
    # header region truncated (records cut short), mid-batch and last
    hdr_cut = good[: 6 + 8]
    assert _bad_page_index([hdr_cut, good]) == 0
    assert _bad_page_index([good, hdr_cut]) == 1
    # text region truncated (header intact, word bytes cut short)
    txt_cut = good[:-2]
    assert _bad_page_index([txt_cut, good]) == 0
    assert _bad_page_index([good, txt_cut]) == 1
    assert _bad_page_index([good, txt_cut, good, txt_cut]) == 1


def test_patho_doc_ids_matches_the_per_doc_rule(monkeypatch):
    """synth.patho_doc_ids is the ONE definition of pathological-class
    membership; it must agree with the per-doc branch in _make_doc
    (``i >= PATHO_START and i % PATHO_EVERY == 0``) even when START is
    NOT a multiple of EVERY — the exact case the old tools-side
    ``START + k*EVERY`` derivation got wrong (r5 review finding)."""
    from angola_erp_ocr_spark import synth

    for start, every, n in [(2_000_000, 1_000_000, 10_000_000),
                            (50_000, 25_000, 100_000),
                            (60_000, 25_000, 200_000),   # misaligned START
                            (7, 3, 20), (5, 5, 5), (0, 4, 13)]:
        monkeypatch.setattr(synth, "PATHO_START", start)
        monkeypatch.setattr(synth, "PATHO_EVERY", every)
        want = [f"doc{i:08d}" for i in range(n)
                if i >= start and i % every == 0]
        assert synth.patho_doc_ids(n) == want, (start, every, n)
