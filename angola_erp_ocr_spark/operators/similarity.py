"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline (and the DuckDB
oracle); the scale path is random-hyperplane LSH bucketing, which turns the
O(N·Q) cross join into an equi-join on bucket signatures with a small
multi-probe fan-out.

All vector math is built-in higher-order functions (zip_with/aggregate) —
JVM-side, no Python. For very wide vectors a Pandas-UDF matmul variant
would win on constant factors; at 64 dims the HOF path benches faster than
the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import text_hash60


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity rounded to 6 decimals: the cross-engine key every
    cosine operator filters and ranks on (the DuckDB oracles round the
    same way)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), 6)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, rank, nbr_id, cosine): the k best neighbours per query,
    ranked on the rounded cosine with an nbr_id tiebreak (cross-engine
    deterministic)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cosine")
    )


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbours per query by cosine (excluding self-matches).

    Broadcast the (small) query side: the scan over the corpus stays
    shuffle-free; ranking shuffles only (query_id, k) rows.
    """
    c = corpus.select(F.col(id_col).alias("nbr_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    scored = (
        c.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id",
                cosine(F.col("cv"), F.col("qv")).alias("cosine"))
    )
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic md5-derived planes)
# ---------------------------------------------------------------------------

def _plane_component(p: int, d: int) -> Column:
    """Deterministic pseudo-random plane component in [-1, 1): derived from
    md5(f"plane:{p}:{d}") so every executor (and any other engine)
    reconstructs the identical hyperplanes with no side data."""
    h = text_hash60(F.concat_ws(":", F.lit("plane"), F.lit(p), F.lit(d)))
    return (h % 2000001).cast("double") / 1000000.0 - 1.0


def hyperplane_signature(vec: Column, n_planes: int = 12, dims: int = 64) -> Column:
    """Bit p = sign(v · plane_p) — packs to a bigint bucket id.

    The projection is rounded to 6 decimals before the sign test so the
    bit is reproducible across engines (same discipline as the cosine
    scores): a borderline projection that differs by float-summation
    noise must not flip a bucket bit between Spark and the oracle."""
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        plane = F.array(*[_plane_component(p, d) for d in range(dims)])
        proj = F.round(dot(vec, plane), 6)
        sig = sig + F.when(proj >= 0,
                           F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(0)
    return sig


def ann_topk_lsh(
    corpus: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 12,
    dims: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, or (multi-
    probe) a bucket within `probe_bits` flipped bits. Equi-join on bucket id
    replaces the cross join — at 10^9 vectors this is the difference between
    a broadcast-scan and an impossible shuffle."""
    c = corpus.select(
        F.col(id_col).alias("nbr_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("bucket", hyperplane_signature(F.col("cv"), n_planes, dims))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qbucket", hyperplane_signature(F.col("qv"), n_planes, dims))

    # multi-probe: query explodes to its bucket + single-bit-flip neighbours
    probes = [F.col("qbucket")]
    if probe_bits >= 1:
        probes += [
            F.col("qbucket").bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), p))
            for p in range(n_planes)
        ]
    qx = q.withColumn("bucket", F.explode(F.array(*probes)))

    scored = (
        c.join(qx, "bucket")
        .where(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id",
                cosine(F.col("cv"), F.col("qv")).alias("cosine"))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: partition the corpus into C cells around
# deterministic centroids; a query scores only the vectors in its n_probe
# nearest cells. The classic trade: recall vs the fraction of the corpus
# scanned. Here centroids are corpus vectors chosen by id order (seeded,
# reproducible in SQL), so the whole operator is oracle-checkable.
# ---------------------------------------------------------------------------

def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, v, cell): each vector joins its nearest centroid (broadcast;
    ties break on the lower centroid id — deterministic)."""
    c = corpus.select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    cent = F.broadcast(centroids.select(
        F.col("cell"), F.col("cv")))
    scored = c.join(cent).select(
        "id", "v", "cell", _sq_dist(F.col("v"), F.col("cv")).alias("d"))
    return scored.groupBy("id", "v").agg(
        F.min_by("cell", F.struct(F.round(F.col("d"), 6), F.col("cell")))
        .alias("cell"))


def ivf_centroids(corpus: DataFrame, n_cells: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic centroids: the n_cells lowest-id corpus vectors
    (a k-means init stand-in; any seeded refinement slots in here).

    `orderBy().limit()` plans as TakeOrderedAndProject — a distributed
    top-k — and only the n_cells surviving rows pass through the global
    row_number window; a global window over the raw corpus would funnel
    every vector through one task."""
    small = (
        corpus.select(F.col(id_col).alias("cid"),
                      _as_double(F.col(vec_col)).alias("cv"))
        .orderBy(F.col("cid").asc())
        .limit(n_cells)
    )
    return small.withColumn(
        "cell", F.row_number().over(Window.orderBy(F.col("cid").asc())) - 1
    ).select("cell", "cv")


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, n_cells: int = 8,
    n_probe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k by cosine: scan only the query's n_probe nearest
    cells. Equi-join on cell id — at 10^9 vectors the scan fraction is
    n_probe/n_cells instead of 1. Ranking on the rounded cosine with an
    id tiebreak (cross-engine deterministic, like cosine_topk)."""
    cent = ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = ivf_assign(corpus, cent, id_col, vec_col)

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    qcells = (
        q.join(F.broadcast(cent))
        .select("query_id", "qv", "cell",
                _sq_dist(F.col("qv"), F.col("cv")).alias("d"))
        .withColumn("rnk", F.row_number().over(
            Window.partitionBy("query_id")
            .orderBy(F.round(F.col("d"), 6).asc(), F.col("cell").asc())))
        .where(F.col("rnk") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assigned.join(qcells, "cell")
        .where(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("nbr_id"),
                cosine(F.col("v"), F.col("qv")).alias("cosine"))
    )
    return _top_k(scored, k)
