"""SparkSession builder tuned for the extraction workload.

Local defaults mirror what we'd set on a 1000-executor cluster, scaled to
the sandbox: AQE on (runtime shuffle coalescing + skew-join splitting),
Arrow on for every pandas-UDF boundary, shuffle partitions sized to cores
(at cluster scale: 2–3× total cores; here: the local thread count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "angola_erp_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all cores).
    ``shuffle_partitions`` defaults to the parallelism level so the sandbox
    behaves like a cluster where shuffle partitions ≈ total cores; AQE
    coalesces further at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        # 2× cores: stage tails from uneven partitions (heavy multi-page
        # docs) cost far more than the extra task overhead — measured 40%
        # faster end-to-end extraction than 1× on local[32]
        shuffle_partitions = max(2 * int(n), 16)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — our defence for heavy multi-hundred-page docs at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas-UDF / toPandas boundary (the OCR stage).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Broadcast dims aggressively: templates/taxpayers/config tables are
        # tiny; 64 MB threshold keeps every §2.6 join a broadcast hash join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB scan splits — the cluster default; parquet row-group aligned.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # JVM↔Python-worker channel over Unix domain sockets instead of
        # loopback TCP. Root cause (measured, r5 10M protocol runs): under
        # sustained bidirectional Arrow pressure — JVM streaming input
        # batches while the worker streams output batches — loopback TCP
        # on this host wedges into a flow-control livelock: both sides'
        # send queues fill (~4 MB each), a 64 KB segment gets dropped
        # against a collapsed 5 KB receive window, and the retransmit
        # backs off to rto=120 s with 13 consecutive losses; the stage
        # then hangs indefinitely on one task (ss -tnpi capture in
        # BENCH/ANALYSIS.md §Round-5). UDS has no windows, no
        # retransmission, and no loss — a blocked write simply waits for
        # the reader, which Spark's hybrid reader-writer then services.
        # Override with SPARK_GRAFT_UDS=0 to reproduce the TCP behavior.
        .config("spark.python.unix.domain.socket.enabled",
                "false" if os.environ.get("SPARK_GRAFT_UDS") == "0"
                else "true")
    )
    # Iceberg runtime opt-in (tools/run_iceberg_contract.sh): point
    # SPARK_GRAFT_ICEBERG_JARS at the pinned iceberg-spark-runtime jar(s)
    # and every session gains the extensions + a hadoop catalog, which
    # flips tests/test_resume_lineage.py::test_write_documents_iceberg_
    # semantics from skip to run. No-op when unset (this sandbox has no
    # network to fetch the jar — blocker recorded in BENCH/ANALYSIS.md).
    ice_jars = os.environ.get("SPARK_GRAFT_ICEBERG_JARS")
    if ice_jars:
        builder = (
            builder.config("spark.jars", ice_jars)
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
