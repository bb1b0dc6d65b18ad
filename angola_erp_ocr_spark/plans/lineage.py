"""Per-partition lineage rows: (run_id, partition_id, docs_in, docs_out,
spans_emitted, wall_ms) — the resumability/skew audit trail (SURVEY §4.4,
replacing the reference's frappe.publish_realtime progress events,
ocr_read.py:105, 176-187).

Because Spark pipelines narrow stages, timing the iteration of a partition
inside ``mapInPandas`` measures the real upstream compute for that
partition — the max/median wall_ms ratio across partitions is the skew
report the bench records.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..schema import LINEAGE


def _counted(batches: Iterator[pd.DataFrame], run_id: str,
             rows: list[dict]) -> Iterator[pd.DataFrame]:
    """Pass one partition's batches through; once they are exhausted,
    append the partition's lineage row to ``rows``."""
    t0 = time.monotonic()
    docs = 0
    spans = 0
    for pdf in batches:
        docs += len(pdf)
        spans += int(pdf["spans"].map(len).sum()) if len(pdf) else 0
        yield pdf
    wall_ms = int((time.monotonic() - t0) * 1000)
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else -1
    rows.append(dict(run_id=run_id, partition_id=pid, docs_in=docs,
                     docs_out=docs, spans_emitted=spans, wall_ms=wall_ms))


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """Consume documents_extracted; emit one lineage row per partition."""

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        for _ in _counted(batches, run_id, rows):
            pass
        yield pd.DataFrame(rows, columns=LINEAGE.fieldNames())

    return extracted.mapInPandas(per_partition, schema=LINEAGE)


class _LineageAccum(object):
    """AccumulatorParam collecting per-partition lineage dicts.

    Accumulator updates travel to the driver inside the task-completion
    RPC — no filesystem involved — so this works identically on a laptop,
    YARN, or K8s with s3a-only storage. The round-3 shape wrote POSIX side
    files from executors and globbed them on the driver, which silently
    undercounts on any non-shared filesystem (ADVICE r4, medium)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def write_with_lineage(extracted: DataFrame, out_dir: str, run_id: str) -> dict:
    """Write extracted spans + lineage in ONE scan (Iceberg's writeTo would
    slot in for the data write when the runtime jars are present).

    A pass-through ``mapInPandas`` wrapper counts each partition WHILE the
    write consumes it and ships the counters to the driver via a list
    accumulator (cluster-safe; see ``_LineageAccum``). Spark only
    guarantees exactly-once accumulator delivery inside actions for
    SUCCESSFUL tasks, and a retried task can report twice — so the driver
    folds by partition_id keeping one row per partition, which restores
    retry idempotence (the retried attempt re-reads the same partition, so
    any surviving row is correct).

    Fails loudly (rather than committing silent undercounts) when the
    folded totals disagree with the written table: zero lineage rows for a
    non-empty write, or folded docs_out != the table's parquet-metadata
    row count.
    """
    from pyspark.accumulators import AccumulatorParam

    class _Param(_LineageAccum, AccumulatorParam):  # MRO: our impl first
        pass

    spark = extracted.sparkSession
    acc = spark.sparkContext.accumulator([], _Param())
    schema = extracted.schema

    def counted(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: list[dict] = []
        yield from _counted(batches, run_id, rows)
        acc.add(rows)

    wrapped = extracted.mapInPandas(counted, schema=schema)
    data_dir = f"{out_dir}/documents_extracted"
    wrapped.write.mode("overwrite").parquet(data_dir)

    by_pid: dict[int, dict] = {}
    for row in acc.value:
        by_pid.setdefault(row["partition_id"], row)
    rows = [by_pid[k] for k in sorted(by_pid)]

    # loud consistency gate: metadata-only count of what was just written
    # (parquet footers, no data read) must equal the folded counters
    written = spark.read.parquet(data_dir).count()
    folded = sum(r["docs_out"] for r in rows)
    if written > 0 and not rows:
        raise RuntimeError(
            f"lineage undercount: wrote {written} rows to {data_dir} but "
            f"received 0 partition counter rows (run_id={run_id})")
    if folded != written:
        raise RuntimeError(
            f"lineage mismatch: folded docs_out={folded} != written table "
            f"count={written} (run_id={run_id}, partitions={len(rows)})")

    lin = spark.createDataFrame(rows, schema=LINEAGE)
    lin.write.mode("append").parquet(f"{out_dir}/lineage")
    return {
        "docs_out": folded,
        "spans_emitted": sum(r["spans_emitted"] for r in rows),
        "max_partition_wall_ms": max((r["wall_ms"] for r in rows),
                                     default=None),
        "partitions": len(rows),
        # full per-partition rows: the skew-canary test and any operator
        # dashboard read max/median from here without a second pass
        "partition_rows": rows,
    }
