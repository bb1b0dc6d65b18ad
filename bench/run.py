"""spark-submit job driver for the extraction pipeline (north-rule launch
mode: ``spark-submit --py-files pkg.zip bench/run.py``).

Builds (or reuses) the deterministic interleaved corpus
(``synth.materialize_corpus``), runs the full extraction with
per-partition lineage, and supports resume: if the output already
contains committed doc_ids, only missing documents are processed
(anti-join; SURVEY §4.4). ``--time-only`` times the extraction through
``planpin.forced``, the aggregate bench.py times every query through.

Usage:
    tools/make_pyfiles.sh                                # build pkg.zip
    spark-submit --master local[8]  --py-files /tmp/angola_erp_ocr_spark.zip \
        bench/run.py --docs 20000 --out /tmp/extract_out
    spark-submit --master local[32] --py-files /tmp/angola_erp_ocr_spark.zip \
        bench/run.py --docs 20000 --out /tmp/extract_out32

Prints one JSON line: {"docs": N, "wall_sec": W, "docs_per_sec": T, ...}.
"""

from __future__ import annotations

import argparse
import json
import time
import uuid


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--corpus", default=None,
                    help="existing corpus dir (default: materialize to /tmp)")
    ap.add_argument("--out", default="/tmp/extract_out")
    ap.add_argument("--resume", action="store_true",
                    help="anti-join against already-committed doc_ids")
    ap.add_argument("--time-only", action="store_true",
                    help="no sink: run the full extraction plan and time it")
    ap.add_argument("--runs", type=int, default=1,
                    help="with --time-only: repetitions, report best (JIT warm)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit owns the session config; we only set analytics defaults
    spark = SparkSession.builder.appName("extract_job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from angola_erp_ocr_spark.planpin import forced
    from angola_erp_ocr_spark.plans.lineage import lineage_rows
    from angola_erp_ocr_spark.plans.pipeline import extract, resume_filter
    from angola_erp_ocr_spark.synth import materialize_corpus

    corpus = args.corpus or materialize_corpus(spark, args.docs)

    raw = spark.read.parquet(f"{corpus}/documents_raw").select("doc_id", "spans")
    media = spark.read.parquet(f"{corpus}/media_pages")

    if args.time_only:
        n_docs = raw.count()
        windows = []  # (wall_sec, epoch_ms_start, epoch_ms_end) per run
        for _ in range(max(args.runs, 1)):
            e0 = int(time.time() * 1000)
            t0 = time.monotonic()
            forced(extract(raw, media)).collect()
            windows.append((time.monotonic() - t0, e0,
                            int(time.time() * 1000)))
        best, e0, e1 = min(windows)
        result = {
            "docs": n_docs,
            "wall_sec": round(best, 3),
            "docs_per_sec": round(n_docs / best, 1),
            "master": spark.sparkContext.master,
            "parallelism": spark.sparkContext.defaultParallelism,
            "runs": args.runs,
        }
        # Per-stage wall/compute decomposition of the BEST run, from the
        # event log (enabled by the caller via spark.eventLog.*) — the
        # stage-level scaling evidence BASELINE.md §3 commits.
        from angola_erp_ocr_spark.stagelog import (event_log_path,
                                                   parse_stages)
        log = event_log_path(spark)
        if log:
            result["stages"] = parse_stages(log, t_min_ms=e0 - 50,
                                            t_max_ms=e1 + 50)
        print(json.dumps(result))
        return

    from angola_erp_ocr_spark.plans.snapshot import (
        read_snapshots, snapshot_append)

    table_dir = f"{args.out}/documents_extracted"
    committed = read_snapshots(spark, table_dir) if args.resume else None
    todo = resume_filter(raw, committed) if committed is not None else raw

    n_todo = todo.count()
    run_id = uuid.uuid4().hex[:12]
    t0 = time.monotonic()
    if n_todo:
        out = extract(todo, media)
        manifest = snapshot_append(out, table_dir, run_id)
        lin = lineage_rows(
            spark.read.parquet(manifest["data_dir"]), run_id)
        lin.write.mode("append").parquet(f"{args.out}/lineage")
        spark_stats = {"snapshot_seq": manifest["seq"],
                       "snapshot_rows": manifest["n_rows"]}
    else:
        spark_stats = {"snapshot_seq": None, "snapshot_rows": 0}
    wall = time.monotonic() - t0

    total = read_snapshots(spark, table_dir).count()
    print(json.dumps({
        "docs": n_todo,
        "total_committed": total,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_todo / wall, 1) if wall > 0 else None,
        "run_id": run_id,
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        **{k: (int(v) if v is not None else None)
           for k, v in (spark_stats or {}).items()},
    }))


if __name__ == "__main__":
    main()
