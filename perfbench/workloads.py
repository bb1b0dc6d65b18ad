"""What one pass does, how its output is checked, and the layer-by-layer
measurements of the traced run. Every call goes through the package's
public functions, as a user of the engine would make it."""

from __future__ import annotations

import os
import shutil
import time
import traceback
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from angola_erp_ocr_spark.glyph import decode_batch_columns
from angola_erp_ocr_spark.operators.ocr import QR_BLOCK, ocr_lines
from angola_erp_ocr_spark.plans.cascade import cascade_ladder_committed
from angola_erp_ocr_spark.plans.lineage import lineage_rows
from angola_erp_ocr_spark.plans.pipeline import (extract, media_markers,
                                                 resume_filter)
from angola_erp_ocr_spark.plans.snapshot import (committed_snapshots,
                                                 read_snapshots,
                                                 snapshot_append)
from angola_erp_ocr_spark.session import get_spark

from . import stats
from .host import cpus, driver_memory_gb, process_tree, wait_ended
from .trace import Tracer

if TYPE_CHECKING:
    from .corpus import Inputs

GLYPH_SAMPLE = 2048
KERNEL_REPEATS = 5
# How long stop_jvm waits for the JVM and its Python workers to end.
JVM_EXIT_S = 60


class Checks:
    """Operations attempted and failed; a wrong result is a failure and
    stays in the denominator."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def start_session(work: str, event_dir: str | None = None):
    """A session sized to the host: local[N] over every CPU this process
    may use, 2N shuffle partitions, all scratch space inside ``work``.
    With ``event_dir``, the Spark event log is written there."""
    n, gb = cpus(), driver_memory_gb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{gb}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_dir}",
                     # one plain JSON file that stagelog can stream-parse
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM behind PySpark's gateway and wait until it and its
    Python workers have ended. The gateway exits when its standard input
    closes; a later session launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = process_tree(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=JVM_EXIT_S)
    wait_ended(pids, JVM_EXIT_S)
    SparkContext._gateway = SparkContext._jvm = None


def read_inputs(spark, inputs: Inputs):
    return (spark.read.parquet(inputs.raw).select("doc_id", "spans"),
            spark.read.parquet(inputs.media))


def forced(df):
    """The forcing aggregate: the document count and an order-free digest
    of every (doc_id, spans) row. A bare ``count()`` would let Catalyst
    prune the extraction; the digest makes every span count."""
    return df.agg(F.count(F.lit(1)).alias("docs"),
                  F.bit_xor(F.xxhash64("doc_id", "spans")).alias("digest"))


def run_pass(raw, media, tracer: Tracer, outcomes: list) -> float:
    """One closed-loop extraction pass; returns its wall seconds and
    appends the pass's ``(docs, digest)``, or None when it raised, to
    ``outcomes`` (see ``judge``). A pass that raises does not end the
    run."""
    t0 = time.monotonic()
    try:
        with tracer.span("pass", "perfbench"):
            with tracer.span("plans.pipeline.extract", "plans.pipeline"):
                df = forced(extract(raw, media))
            with tracer.span("catalyst.plan", "plans.pipeline"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute", "spark"):
                row = df.collect()[0]
    except Exception:  # a failed pass is a measured outcome, not a crash
        traceback.print_exc()
        outcomes.append(None)
        return time.monotonic() - t0
    outcomes.append((row["docs"], row["digest"]))
    return time.monotonic() - t0


def golden_digest(spark, inputs: Inputs) -> tuple[int, int]:
    """``forced`` over the golden table: what every pass must return."""
    row = forced(spark.read.parquet(inputs.golden)
                 .select("doc_id", "spans")).collect()[0]
    return row["docs"], row["digest"]


def judge(outcomes: list, want: tuple[int, int], checks: Checks) -> None:
    """Count every pass as one operation; one that raised or whose digest
    differs from the golden digest ``want`` failed."""
    for got in outcomes:
        checks.record(got == want, "pass raised" if got is None else
                      f"pass output digest {got} != golden {want}")


def golden_match(out, golden) -> tuple[int, int]:
    """(documents whose spans equal the golden spans, golden documents)."""
    row = (golden.alias("g").join(out.alias("o"), "doc_id", "left")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum((F.col("o.spans") == F.col("g.spans")).cast("int"))
                .alias("ok"))
           .collect()[0])
    return row["ok"] or 0, row["n"]


def ocr_stage(spark, raw, media, tracer: Tracer) -> dict:
    """The OCR stage alone: ``ocr_lines`` over the marker-joined pages,
    cached first so the timing holds the Arrow transfer and the decode."""
    pages = media.join(media_markers(raw), "media_ref").cache()
    n_pages = pages.count()
    walls, row = [], None
    for _ in range(3):
        t0 = time.monotonic()
        with tracer.span("operators.ocr.ocr_lines", "operators.ocr"):
            row = ocr_lines(pages, passthrough=("doc_id", "seg"),
                            emit_qr=True).agg(
                F.count(F.lit(1)).alias("lines"),
                F.sum((F.col("block") == QR_BLOCK).cast("int")).alias("qr"),
            ).collect()[0]
        walls.append(time.monotonic() - t0)
    pages.unpersist()
    wall = stats.median(walls)
    return {"ocr.pages_in": n_pages, "ocr.wall_s": wall,
            "ocr.pages_per_s": n_pages / wall,
            "ocr.lines_out": row["lines"], "ocr.qr_lines": row["qr"] or 0}


def glyph_kernel(spark, inputs: Inputs, tracer: Tracer) -> dict:
    """``decode_batch_columns`` on the pool's first GLYPH_SAMPLE pages by
    media_ref, the same sample for every workload and seed."""
    media = spark.read.parquet(inputs.pool_media)
    blobs = [bytes(r.glyph_grid) for r in media.select(
        "media_ref", "glyph_grid").orderBy("media_ref")
        .limit(GLYPH_SAMPLE).collect()]
    walls = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.monotonic()
        with tracer.span("glyph.decode_batch_columns", "glyph"):
            decode_batch_columns(blobs)
        walls.append(time.monotonic() - t0)
    return {"glyph.decode_us_per_page": stats.median(walls) / len(blobs) * 1e6}


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def commit_path(spark, inputs: Inputs, media, out_dir: str,
                tracer: Tracer, checks: Checks) -> dict:
    """The production write path on the commit subset, into a fresh
    directory: snapshot commit, lineage rows written, the resume no-op,
    the committed retry ladder and its no-op re-run."""
    subset = F.col("doc_id").isin(inputs.commit_ids)
    raw = spark.read.parquet(inputs.raw).select("doc_id", "spans") \
        .where(subset)
    golden = spark.read.parquet(inputs.golden).select("doc_id", "spans") \
        .where(subset)
    n_docs = len(inputs.commit_ids)
    d = os.path.join(out_dir, uuid.uuid4().hex[:12])
    table = os.path.join(d, "documents_extracted")
    m: dict = {}

    tracer.new_trace()
    t0 = time.monotonic()
    with tracer.span("plans.snapshot.snapshot_append", "plans.snapshot"):
        manifest = snapshot_append(extract(raw, media), table)
    m["snapshot.commit_s"] = time.monotonic() - t0
    m["snapshot.bytes_written"] = _bytes_under(manifest["data_dir"])
    committed = read_snapshots(spark, table)
    ok, n = golden_match(committed, golden)
    checks.record(ok == n == n_docs,
                  f"committed table matches golden on {ok}/{n} docs")

    tracer.new_trace()
    t0 = time.monotonic()
    with tracer.span("plans.lineage.lineage_rows", "plans.lineage"):
        lineage_rows(committed, "perfbench").write.mode("overwrite") \
            .parquet(os.path.join(d, "lineage"))
    m["lineage.s"] = time.monotonic() - t0
    docs_in = [r.docs_in for r in spark.read.parquet(
        os.path.join(d, "lineage")).collect() if r.docs_in > 0]
    m["lineage.partition_skew"] = (max(docs_in) / stats.median(docs_in)
                                   if docs_in else 0.0)
    checks.record(sum(docs_in) == n_docs,
                  f"lineage counts {sum(docs_in)} docs of {n_docs}")

    tracer.new_trace()
    t0 = time.monotonic()
    with tracer.span("plans.pipeline.resume_filter", "plans.pipeline"):
        left = resume_filter(raw, committed).count()
    m["resume.noop_s"] = time.monotonic() - t0
    checks.record(left == 0, f"resume no-op returned {left} docs")

    tracer.new_trace()
    t0 = time.monotonic()
    with tracer.span("plans.cascade.cascade_ladder_committed",
                     "plans.cascade"):
        final = cascade_ladder_committed(spark, raw, media, d)
    m["ladder.s"] = time.monotonic() - t0
    passes = read_snapshots(spark, os.path.join(d, "fields_passes"))
    per_rung = dict(passes.groupBy("pass_no").count().collect())
    for rung in range(1, 5):
        m[f"ladder.rung_docs.{rung}"] = per_rung.get(rung, 0)
    retried = sum(per_rung.get(r, 0) for r in (2, 3, 4))
    rescued = final.where(F.col("must_ok")
                          & (F.col("total_amount_pass") > 1)).count()
    m["ladder.retried"] = retried
    m["ladder.rescued"] = rescued
    m["ladder.useful_ratio"] = rescued / retried if retried else 0.0
    checks.record(final.count() == n_docs, "ladder lost documents")

    before = [len(committed_snapshots(os.path.join(d, t)))
              for t in ("fields_passes", "fields_ladder")]
    tracer.new_trace()
    t0 = time.monotonic()
    with tracer.span("plans.cascade.cascade_ladder_committed",
                     "plans.cascade"):
        cascade_ladder_committed(spark, raw, media, d)
    m["ladder.noop_s"] = time.monotonic() - t0
    after = [len(committed_snapshots(os.path.join(d, t)))
             for t in ("fields_passes", "fields_ladder")]
    checks.record(before == after,
                  f"ladder re-run appended snapshots: {before} -> {after}")
    shutil.rmtree(d, ignore_errors=True)
    return m
