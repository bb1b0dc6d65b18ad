"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, n-gram Jaccard, embedding-cosine near-dup, and near-dup groups
(connected components by large-star/small-star, then a min-id keeper). All
pure DataFrame expressions (no UDFs) so the whole stage is codegen'd and the
shuffles are the only cost.

Cross-engine determinism: token/shingle hashes are 60-bit ints derived from
md5 hex (identical in Spark and DuckDB), so the DuckDB oracles replicate the
exact same signatures. ``xxhash64`` would be faster JVM-side but has no
DuckDB twin; at 100 TB the md5 cost is still trivial next to the shuffle.

Scale notes:
  * exact dedup: one shuffle on the text hash; AQE handles skewed dup groups.
  * MinHash-LSH: cost = explode(bands) shuffle; band buckets are the classic
    skew risk (a boilerplate shingle set shared by millions of docs) — cap
    bucket size with a count filter before the self-join (`max_bucket`).
  * pairwise verification joins happen only inside buckets, never globally.
  * connected components: O(log n) star rounds, ~2 shuffles each, even on
    long near-dup chains.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE31 = 2147483647  # (a*h + b) % p arithmetic stays < 2^62: no overflow


def text_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash shared with DuckDB:
    spark:  conv(substr(md5(s),1,15),16,10)
    duckdb: ('0x' || substr(md5(s),1,15))::BIGINT"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct, as text) from a whitespace split."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(grams)


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Shingle set → array of 31-bit hashes (md5-derived, DuckDB-parity)."""
    return F.transform(
        shingles(col, n),
        lambda s: text_hash60(s) % MERSENNE31,
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, keeper, dup_ids).
    One shuffle on the full 128-bit md5 (the truncated 60-bit key would
    produce ~4×10^5 false-duplicate pairs at 10^12 docs — deleting
    "duplicates" that are distinct documents); keeper = min id."""
    h = F.md5(F.col(text_col)).alias("text_hash")
    return (
        docs.select(F.col(id_col).alias("id"), h)
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("keeper"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

def _minhash(hashes: Column, perms: Column) -> Column:
    """One MinHash value per permutation index i in ``perms``:
    min over shingles of ((2i+1)h + 3i+7) % p."""
    return F.transform(
        perms,
        lambda i: F.array_min(
            F.transform(
                hashes,
                lambda h: ((2 * i + 1) * h + (3 * i + 7)) % MERSENNE31,
            )
        ),
    )


def minhash_from_hashes(hashes: Column, k: int = 16) -> Column:
    """k-permutation MinHash over a hash-array column (``_minhash`` over
    permutations 0..k-1).

    CAUTION: aliasing the shingle hashes into a column first
    (`.withColumn("_h", shingle_hashes(...))`) does NOT stop the k-fold
    recomputation — CollapseProject re-inlines the aliased expression into
    every lambda body, and Catalyst does not CSE across higher-order-
    function lambdas. Only a real projection BARRIER between the hash
    computation and this call (an explode/Generate as in
    ``minhash_lsh_pairs``, or a repartition/localCheckpoint) materializes
    the hashes once. For one-shot signatures at modest k the inline
    recompute is acceptable; for the banded hot path use
    ``minhash_lsh_pairs``'s explode-first shape."""
    return _minhash(hashes, F.sequence(F.lit(0), F.lit(k - 1)))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 16, n: int = 3,
                      bands: int = 4, rows: int = 4,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that share ≥1 LSH bucket.

    explode(bands) → bucket self-pairing via collect_list (buckets capped at
    `max_bucket` to defuse boilerplate-bucket skew) → distinct pairs.
    """
    # Explode the band index FIRST: the Generate is a projection barrier,
    # so the shingle-hash array below it is materialized once per doc and
    # the per-band min-hash lambdas reference it as a bound attribute.
    # Computing the full signature array in one projection and exploding
    # it after lets CollapseProject inline the hash expression into every
    # lambda body — nested HOF inlining re-evaluates the tokenizer per
    # shingle per permutation per band (measured 80ms/row vs ~0.1ms here).
    exploded = docs.select(
        F.col(id_col).alias("id"),
        shingle_hashes(F.col(text_col), n).alias("_h"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    )
    band_sig = _minhash(
        F.col("_h"),
        F.sequence(F.col("band") * rows, F.col("band") * rows + rows - 1))
    buckets = exploded.select(
        "id", "band", F.md5(F.array_join(band_sig, ",")).alias("key")
    )
    grouped = (
        buckets.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"),
             F.count("*").alias("sz"))
        .where((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2,
                                F.greatest(F.size(F.col("ids")) - i - 1, F.lit(0))),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise within candidate set or blocked)
# ---------------------------------------------------------------------------

def _jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two shingle sets, rounded to 6 decimals (the oracle key)."""
    return F.round(
        F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)), 6)


def jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over all pairs (id_a < id_b) ≥ threshold.

    O(N²) — the verification/oracle path. At scale, feed it ONLY the
    LSH candidate pairs (join against minhash_lsh_pairs), never the full
    cross product.
    """
    s = docs.select(F.col(id_col).alias("id"),
                    shingles(F.col(text_col), n).alias("sh"))
    a = s.alias("a")
    b = s.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                _jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, cross-engine arithmetic)
# ---------------------------------------------------------------------------

def simhash32(col: Column) -> Column:
    """32-bit SimHash over word tokens: bit j set iff the sum over tokens of
    ±1 (by token-hash bit j) is ≥ 0. Pure higher-order functions.

    Note: the token-hash subexpression is inlined into each of the 32
    per-bit aggregates (Catalyst does not CSE across HOF lambdas), so the
    md5s are computed 32×. Unlike the MinHash banding case this stays
    linear (32 × tokens, no nesting blow-up) and benches fine; if it ever
    dominates, apply the explode-bit-index barrier used in
    ``minhash_lsh_pairs`` at the cost of one extra shuffle."""
    toks = F.array_distinct(F.split(F.lower(F.trim(col)), r"\s+"))
    hashes = F.transform(toks, lambda t: text_hash60(t) % MERSENNE31)
    # bit j of h via floor(h / 2^j) % 2 — shift amounts must be columns
    # inside HOF lambdas, which shiftleft/shiftright don't accept. Exact in
    # double up to 2^31 (hashes are 31-bit).
    bit = lambda h, j: (F.floor(h / F.pow(F.lit(2.0), j)) % 2).cast("int")  # noqa: E731
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc
        + F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("bigint"),
                lambda s, h: s + F.when(bit(h, j) == 1, 1).otherwise(-1),
            )
            >= 0,
            F.pow(F.lit(2.0), j).cast("bigint"),
        ).otherwise(0),
    )


def simhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ max_hamming — LOSSLESS banded
    blocking via the pigeonhole principle: split the 32-bit hash into
    (max_hamming + 1) bands; ≤ max_hamming differing bits can touch at most
    max_hamming bands, so every qualifying pair agrees on ≥ 1 full band.
    The self-join is an equi-join on (band, band_val); the 4 band joins are
    one exploded join, and a pair matching in several bands dedupes via
    groupBy on the pair key.

    (Replaces the round-1 high-16-bit block, which both missed pairs
    differing in the high half — recall loss — and concentrated the corpus
    into 2^16 mega-blocks at 10^12 docs. Bands keep recall exact AND give
    2^8-granular blocks whose skew AQE can split.)
    """
    n_bands = max_hamming + 1
    width = (32 + n_bands - 1) // n_bands  # 8 bits for the default h=3
    s = docs.select(F.col(id_col).alias("id"),
                    simhash32(F.col(text_col)).alias("sh"))
    exploded = s.select(
        "id", "sh",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.floor(F.col("sh") / F.pow(F.lit(2.0), F.col("band") * width))
        .cast("bigint") % (1 << width),
    )
    # column-renamed selves, NOT DataFrame aliases: a self-join of `.alias`
    # twins of the same plan intermittently fails attribute binding in the
    # post-join expressions (ATTRIBUTE_NOT_FOUND on sh#N) — renaming the
    # columns gives the two sides disjoint attribute sets up front
    left = exploded.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
        "band", "band_val")
    right = exploded.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
        "band", "band_val")
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.aggregate(
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0),
        lambda acc, j: acc + (F.floor(xor / F.pow(F.lit(2.0), j)) % 2).cast("int"),
    )
    return (
        left.join(right, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# end-to-end near-dup groups: LSH candidates → exact Jaccard verify →
# connected components → keeper election. This is the shape every real
# training-data dedup ends with ("keep one per component") — the reference
# has no analogue because it never dedups; the scale path is the LSH
# bucket join (never all-pairs), the verify join touches only candidates.
# ---------------------------------------------------------------------------

def verify_candidates(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over the CANDIDATE pairs only (the scale-safe
    companion to the O(N²) ``jaccard_pairs``): join the pair list against
    the shingle table twice, compute Jaccard, keep ≥ threshold."""
    s = docs.select(F.col(id_col).alias("id"),
                    shingles(F.col(text_col), n).alias("sh"))
    j = (
        pairs.join(s.select(F.col("id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
        .join(s.select(F.col("id").alias("id_b"),
                       F.col("sh").alias("sh_b")), "id_b")
    )
    return (
        j.select("id_a", "id_b",
                 _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """(id, component) for every node in the pair graph; component = the
    minimum id reachable from the node.

    Large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14), alternated to a star-forest fixpoint
    with edges kept canonical as (lo < hi):

    * large-star: for each node u, every strictly-larger neighbour v
      re-attaches to m = min(N(u) ∪ {u}).
    * small-star: on the (hi → lo) orientation, every smaller neighbour
      (and u itself) attaches to the minimum neighbour.

    Both emit ≤ |E| edges, preserve connectivity, and strictly shrink the
    potential function — standard proofs in the paper. Rounds are
    O(log n) even on high-diameter graphs (a 2^10-node chain takes ≤ 24;
    property-pinned in tests/test_properties.py), at ~2 shuffle rounds
    each; ``localCheckpoint`` truncates the lineage every round. The
    fixpoint is detected by an order-insensitive edge-set signature
    (count + hash xor), one tiny aggregate per round. After the call,
    ``connected_components.last_rounds`` holds the rounds used.

    The labels are sound only AT the fixpoint: short of it a node can
    carry two contradictory labels, so running out of ``max_iters``
    raises rather than returning split components."""
    edges = (
        pairs.select(F.least("id_a", "id_b").alias("lo"),
                     F.greatest("id_a", "id_b").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(e: DataFrame) -> tuple:
        # bit_xor, not sum: hash values span the full long range and a sum
        # overflows under ANSI; xor is order-insensitive and overflow-free
        # (edges are distinct, so a set signature is exact up to collision)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("lo", "hi")).alias("h")).collect()[0]
        return row["n"], row["h"]

    sig = signature(edges)
    for rounds in range(1, max_iters + 1):
        connected_components.last_rounds = rounds
        # ---- large-star ----
        bi = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")) \
            .unionByName(
                edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m"))
        large = (
            bi.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )
        # ---- small-star ---- (edges oriented hi → {lo...}; m ≤ every lo)
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        edges = (
            large.join(mins2, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
            .unionByName(mins2.select(F.col("m").alias("lo"), "hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_sig = signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not reach the star-forest fixpoint "
            f"in max_iters={max_iters} rounds; labels would be unsound — "
            f"raise max_iters (O(log n) rounds suffice)")
    # fixpoint: every edge is (root, member)
    return (
        edges.select(F.col("hi").alias("id"), F.col("lo").alias("comp"))
        .unionByName(
            edges.select(F.col("lo").alias("id"), F.col("lo").alias("comp")))
        .distinct()
    )


def _groups(comp: DataFrame) -> DataFrame:
    """(component_id, keeper, members, n_members), one row per component:
    keeper = min id (same election as ``exact_duplicates``); members is
    the sorted comma-joined id list (driver-hashable)."""
    return (
        comp.groupBy(F.col("comp").alias("component_id"))
        .agg(
            F.min("id").alias("keeper"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("id")),
                            lambda x: x.cast("string")), ",").alias("members"),
            F.count("*").cast("long").alias("n_members"),
        )
    )


def neardup_groups(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 16, n: int = 3,
                   bands: int = 4, rows: int = 4, max_bucket: int = 1000,
                   threshold: float = 0.5) -> DataFrame:
    """The full near-dup dedup: (component_id, keeper, members, n_members),
    one row per group of ≥ 2 verified near-duplicates; keeper = min id."""
    cand = minhash_lsh_pairs(docs, id_col, text_col, k, n, bands, rows,
                             max_bucket)
    verified = verify_candidates(docs, cand, id_col, text_col, n, threshold)
    return _groups(connected_components(verified))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        n_planes: int = 16, band_bits: int = 4,
                        dims: int = 64) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    Blocking — the move that keeps this an equi-join instead of a
    broadcast-nested-loop cross join at 10^9+ vectors — is banded
    random-hyperplane LSH: each vector's ``n_planes``-bit signature
    (deterministic md5-derived planes, see
    ``similarity.hyperplane_signature``) splits into n_planes/band_bits
    bands; candidates share ≥ 1 full band value. Approximate by design.

    Sizing the bands — the knob that decides whether this survives 10^9+
    vectors. Per-band match probability at cosine c is
    (1 - arccos(c)/π)^band_bits; recall = 1 - (1 - p_band)^n_bands; mean
    bucket population ≈ N / 2^band_bits, and candidate pairs grow with
    bucket_pop² — the real cost.

      * contract/test defaults (16 planes, 4-bit bands): recall ≈ 0.99 at
        cos 0.95, but only 16 bucket values per band — fine at 10^3
        vectors, catastrophic at 10^9 (6×10^7-vector buckets).
      * production near-identical dedup (cos ≥ 0.99, per-plane agreement
        ≈ 0.97): 4 bands × 24 bits (96 planes) gives recall
        1-(1-0.97^24)^4 ≈ 0.93 with 1.7×10^7 bucket values — ~60-vector
        buckets at 10^9, i.e. ~10^3 pairs/bucket. That is the regime this
        operator is built for.
      * looser thresholds (cos 0.9-0.95) make ANY within-block pairing
        explode combinatorially; there the right scale path is IVF-cell
        blocking (SemDeDup-style: k-means cells of ~10^3 vectors,
        pairwise verify within cells) — ``semdedup_pairs``, with
        n_cells ≈ N/10^3.
    """
    from .similarity import cosine, hyperplane_signature

    n_bands = n_planes // band_bits
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s = emb.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "sig", hyperplane_signature(F.col("v"), n_planes, dims))
    # the explode's Generate is a projection barrier: sig (n_planes
    # dot products) is computed once per row, not once per band
    exploded = s.select(
        "id", "v", "sig",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        "blk",
        F.floor(F.col("sig") / F.pow(F.lit(2.0), F.col("band") * band_bits))
        .cast("bigint") % (1 << band_bits),
    ).drop("sig")
    # column-renamed selves (see simhash_near_dups: `.alias` self-joins
    # intermittently fail attribute binding on post-join expressions)
    left = exploded.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), "band", "blk")
    right = exploded.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), "band", "blk")
    return (
        left.join(right, ["band", "blk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine(F.col("v_a"), F.col("v_b")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .groupBy("id_a", "id_b")           # a pair can match in >1 band
        .agg(F.min("cosine").alias("cosine"))
    )


# ---------------------------------------------------------------------------
# SemDeDup — loose-threshold semantic dedup via IVF-cell-bounded verify
# ---------------------------------------------------------------------------

def semdedup_pairs(emb: DataFrame, n_cells: int = 8,
                   threshold: float = 0.9, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Semantic-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space (here the engine's
    deterministic IVF cells — a k-means stand-in whose init is
    reproducible in SQL), then compare pairs ONLY within a cell.

    This is the loose-threshold escape hatch the hyperplane-banding
    analysis (``embedding_near_dups``) names: banding's recall collapses
    as the cosine threshold drops (near-dups no longer share band bits),
    while cell-bounded verify stays exact WITHIN cells at cost
    Σ|cell|² — the published SemDeDup trade: at 10^9 vectors pick
    n_cells so cells hold ~10^4 vectors (the paper uses 50k clusters on
    LAION-440M), and the quadratic term stays ~10^8 dot products per
    cell group, an equi-join + within-partition compare, never a global
    cross join. Missed pairs are exactly the cross-cell ones (recall is
    pinned against brute force in tests/test_dataops.py)."""
    from .similarity import cosine, ivf_assign, ivf_centroids

    cent = ivf_centroids(emb, n_cells, id_col, vec_col)
    assigned = ivf_assign(emb, cent, id_col, vec_col)  # (id, v, cell)
    a = assigned.select("cell", F.col("id").alias("id_a"),
                        F.col("v").alias("va"))
    b = assigned.select("cell", F.col("id").alias("id_b"),
                        F.col("v").alias("vb"))
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semdedup_groups(emb: DataFrame, n_cells: int = 8,
                    threshold: float = 0.9, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(component_id, keeper, members, n_members) over the semantic-dup
    graph — same group/keeper election as ``neardup_groups`` (keeper =
    min id; the paper's keep-farthest-from-centroid is a drop-in
    alternative election, min id keeps the oracle shared with the text
    dedup family)."""
    pairs = semdedup_pairs(emb, n_cells, threshold, id_col, vec_col)
    return _groups(connected_components(pairs))
