"""Sources & sinks (SURVEY §2.1 S1–S4, K1–K3).

The reference resolves ERP-relative file paths per request and re-reads
every file from disk (S1, ocr_read.py:107-121 + 8 duplicated copies in
api/util.py). Here paths are a pure column expression and bytes arrive
as a lake table scan — no per-row I/O anywhere.

Writes target Iceberg when the runtime jars are present (`writeTo`), else
a parquet directory with the same append/overwrite semantics — the
resume/lineage discipline (plans/lineage.py) is identical either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def resolve_path(col, base: str = "/srv/erp"):
    """S1 (ocr_read.py:107-121): normalize ERP path conventions.

    ``/files/…``, ``/private/files/…``, ``/assets/…`` are site-relative;
    absolute paths and http(s) URLs pass through; bare names live under
    ``/files/``. Pure expression — Catalyst constant-folds the base.
    """
    return (
        F.when(col.rlike("^https?://"), col)
        .when(
            col.startswith("/files/")
            | col.startswith("/private/files/")
            | col.startswith("/assets/"),
            F.concat(F.lit(base), col),
        )
        .when(col.startswith("/"), col)
        .otherwise(F.concat(F.lit(base + "/files/"), col))
    )


def iceberg_runtime_present(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime jar is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _iceberg_available(df: DataFrame, table: str) -> bool:
    """Runtime jar present AND the table's catalog (or the session
    extensions) is configured for Iceberg."""
    spark = df.sparkSession
    if not iceberg_runtime_present(spark):
        return False
    try:
        conf = spark.conf
        catalog = table.split(".")[0] if "." in table else ""
        if catalog and "iceberg" in (
                conf.get(f"spark.sql.catalog.{catalog}", "") or "").lower():
            return True
        return "iceberg" in (conf.get("spark.sql.extensions", "") or "").lower()
    except Exception:
        return False


def write_documents(df: DataFrame, target: str, mode: str = "append") -> None:
    """K1/K2 sink: Iceberg `writeTo` when the runtime is present, else a
    parquet directory with identical semantics (the sandbox path). Both
    backends satisfy the same contract (append accumulates — creating the
    table on first write — overwrite replaces, resume anti-join works);
    pinned by tests/test_resume_lineage.py backend-contract test."""
    if os.path.sep not in target and _iceberg_available(df, target):
        w = df.writeTo(target)
        if mode != "append":
            w.createOrReplace()
        elif df.sparkSession.catalog.tableExists(target):
            w.append()
        else:
            w.create()
        return
    df.write.mode(mode).parquet(target)


def write_csv_debug(df: DataFrame, path: str) -> None:
    """K3 (util/ocr_pdf.py:214-220): debug CSV beside the pipeline."""
    df.write.mode("overwrite").option("header", "true").csv(path)
