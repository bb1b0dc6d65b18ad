"""Scale toolkit: skew salting and bucketed co-located joins.

These are the two explicit-engineering levers SURVEY §4 reserves for the
100 TB run (everything else is Catalyst's job):

* ``salted_repartition`` — spread a hot key over ``n_salts`` sub-keys so
  no single task owns a whole pathological key (10^5-page documents,
  boilerplate dup groups). The companion ``desalt`` is a no-op drop — the
  salt column never changes semantics, only placement.
* bucketed writes — persist both sides of a recurring big join bucketed
  on the join key: Spark then plans a sort-merge join with ZERO exchange
  on either side (verified by the plan test). At 10^12 docs this removes
  the dominant shuffle from every downstream QA / enrichment join against
  the extracted table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_repartition(df: DataFrame, key: str, n_salts: int = 16,
                       partitions: int | None = None) -> DataFrame:
    """Repartition on (key, salt) — a hot key spreads over n_salts tasks.

    Use for per-ROW work after a skewed key (e.g. page decode); any
    per-KEY aggregation downstream must first combine partials per
    (key, salt), then per key — the classic two-phase pattern."""
    salted = df.withColumn(
        "_salt", (F.xxhash64(F.monotonically_increasing_id()) % n_salts)
        .cast("int"))
    parts = [F.col(key), F.col("_salt")]
    out = (salted.repartition(partitions, *parts) if partitions
           else salted.repartition(*parts))
    return out


def desalt(df: DataFrame) -> DataFrame:
    return df.drop("_salt")


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   sort: bool = True) -> None:
    """Persist as a bucketed (and in-bucket sorted) managed table."""
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables on their bucket key — plans as a
    sort-merge join with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def repartition_pages_by_ref(media_pages: DataFrame,
                             partitions: int | None = None) -> DataFrame:
    """SCALE.md's 10^4-page-document escape hatch as a named op (r5):
    repartition the PAGE table on ``xxhash64(media_ref)`` — media_ref is
    unique per page, so a pathological document's pages spread uniformly
    over the cluster and no document-level key ever feeds a wide
    operation. The flagship pipeline already gets this for free (pages
    are the unit of parallelism before any per-doc grouping); use this
    hatch when page rows arrive doc-clustered from the source layout
    (e.g. one input file per document) and the scan partitioning would
    otherwise bind a 10^4-page doc to one task."""
    key = F.xxhash64("media_ref")
    return (media_pages.repartition(partitions, key) if partitions
            else media_pages.repartition(key))
