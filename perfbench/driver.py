"""The untraced and the traced run of one workload."""

from __future__ import annotations

import json
import os
import time

from angola_erp_ocr_spark.plans.pipeline import extract
from angola_erp_ocr_spark.stagelog import event_log_path

from . import sparklog, stats
from .corpus import Inputs
from .host import RssSampler
from .trace import Tracer, self_times
from .workloads import (Checks, commit_path, glyph_kernel, golden_digest,
                        golden_match, judge, ocr_stage, read_inputs,
                        run_pass, start_session)

# Untimed passes between the cold pass and the timed window, for at least
# WARMUP_S and WARMUP_PASSES: passes keep speeding up for several seconds
# after set-up while the JVM compiles the hot code.
WARMUP_S = 8.0
WARMUP_PASSES = 2
MIN_PASSES = 3
# The traced run splits its window in two phases of at least this many.
MIN_PHASE_PASSES = 3
# The layers spans are recorded for, named by the module called into.
LAYERS = ("perfbench", "session", "plans.pipeline", "spark", "operators.ocr",
          "glyph", "plans.snapshot", "plans.lineage", "plans.cascade")


def _timed_passes(raw, media, seconds: float, tracer, outcomes: list,
                  windows: list | None = None,
                  min_passes: int = MIN_PASSES) -> list[float]:
    walls: list[float] = []
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end or len(walls) < min_passes:
        tracer.new_trace()
        e0 = int(time.time() * 1000)
        walls.append(run_pass(raw, media, tracer, outcomes))
        if windows is not None:
            windows.append((e0, int(time.time() * 1000)))
    return walls


def _check(spark, raw, media, inputs: Inputs, outcomes: list,
           checks: Checks) -> float:
    """Judge every pass against the golden digest and return the share of
    documents whose spans equal the golden spans. Only when a pass failed
    is the output joined with the golden table, doc by doc."""
    want = golden_digest(spark, inputs)
    judge(outcomes, want, checks)
    if all(got == want for got in outcomes):
        return 1.0
    ok, n = golden_match(extract(raw, media),
                         spark.read.parquet(inputs.golden))
    return ok / n if n else 0.0


def measure(args, inputs: Inputs, work: str,
            t_start: float) -> tuple[dict, Checks, dict]:
    """The untraced run. ``setup_s`` runs from ``t_start``, the driver's
    start, through session start, input reads and the cold first pass.
    Then the untimed warm-up, then passes timed for ``args.seconds``."""
    checks, off, outcomes = Checks(), Tracer(False), []
    spark = start_session(work)
    raw, media = read_inputs(spark, inputs)
    run_pass(raw, media, off, outcomes)
    setup_s = time.monotonic() - t_start
    _timed_passes(raw, media, WARMUP_S, off, outcomes,
                  min_passes=WARMUP_PASSES)
    walls = _timed_passes(raw, media, args.seconds, off, outcomes)
    match = _check(spark, raw, media, inputs, outcomes, checks)
    spark.stop()
    pass_s = stats.median(walls)
    metrics = {"docs_per_s": inputs.docs / pass_s, "pass_s": pass_s,
               "setup_s": setup_s}
    detail = {"passes": walls, "golden_match": match, "inputs": vars(inputs)}
    return metrics, checks, detail


def trace_run(args, inputs: Inputs,
              work: str) -> tuple[dict, Checks, dict]:
    """The traced run: a session with the Spark event log on, in which a
    cold pass and the warm-up passes precede passes with a span around
    every call into a layer; then a fresh session with the same warm-up
    before its untraced passes; then one isolated measurement of
    each layer the passes do not separate."""
    checks, off, tracer, outcomes = Checks(), Tracer(False), Tracer(True), []
    t0 = time.monotonic()
    with tracer.span("session.get_spark", "session"):
        spark = start_session(work, os.path.join(work, "events"))
    session_s = time.monotonic() - t0
    raw, media = read_inputs(spark, inputs)
    run_pass(raw, media, off, outcomes)
    _timed_passes(raw, media, WARMUP_S, off, outcomes,
                  min_passes=WARMUP_PASSES)

    # Traced passes, then untraced ones in a fresh session after the same
    # warm-up. The untraced phase runs later in
    # the JVM's life, so any warm-up drift makes the overhead read high,
    # never low.
    phase = args.seconds / 2
    windows: list = []
    first_traced = len(tracer.spans)
    traced = _timed_passes(raw, media, phase, tracer, outcomes, windows,
                           MIN_PHASE_PASSES)
    pass_spans = tracer.spans[first_traced:]
    log = event_log_path(spark)
    spark.stop()

    spark = start_session(work)
    raw, media = read_inputs(spark, inputs)
    run_pass(raw, media, off, outcomes)
    _timed_passes(raw, media, WARMUP_S, off, outcomes,
                  min_passes=WARMUP_PASSES)
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    try:
        untraced = _timed_passes(raw, media, phase, off, outcomes,
                                 min_passes=MIN_PHASE_PASSES)
    finally:
        sampler.stop()

    shape = sparklog.plan_shape(extract(raw, media), inputs.raw)
    tracer.new_trace()
    ocr = ocr_stage(spark, raw, media, tracer)
    tracer.new_trace()
    glyph = glyph_kernel(spark, inputs, tracer)
    commit = commit_path(spark, inputs, media, os.path.join(work, "commit"),
                         tracer, checks)
    match = _check(spark, raw, media, inputs, outcomes, checks)
    spark.stop()
    log = log.removesuffix(".inprogress")  # renamed when its session stopped
    spark_stats = sparklog.pass_stats(log, windows)
    os.remove(log)

    def span_s(name: str) -> float:
        return stats.median([s["end"] - s["start"] for s in pass_spans
                             if s["name"] == name])

    per_pass: dict[str, list[float]] = {}
    for trace_id in sorted({s["trace"] for s in pass_spans}):
        own = self_times([s for s in pass_spans if s["trace"] == trace_id])
        for layer, v in own.items():
            per_pass.setdefault(layer, []).append(v)
    pass_ids = {s["id"] for s in pass_spans}
    others = self_times([s for s in tracer.spans if s["id"] not in pass_ids])
    self_s = {layer: (stats.median(per_pass[layer]) if layer in per_pass
                      else 0.0) + others.get(layer, 0.0) for layer in LAYERS}

    metrics = {
        "session.start_s": session_s,
        "pipeline.build_s": span_s("plans.pipeline.extract"),
        "pipeline.plan_s": span_s("catalyst.plan"),
        "pipeline.exec_s": span_s("spark.execute"),
        "pipeline.exchanges": shape["exchanges"],
        "pipeline.raw_scans": shape["raw_scans"],
        **{f"spark.{k}": v for k, v in spark_stats.items()
           if k not in ("stage_rows", "task_tail_pct", "task_tail_beyond")},
        **ocr, **glyph, **commit,
        **{f"self_s.{layer}": v for layer, v in self_s.items()},
        "memory.peak_rss_mb": sampler.peak_mb,
        "trace.pass_s": stats.median(traced),
        "trace.untraced_pass_s": stats.median(untraced),
        "trace.overhead_pct":
            (stats.median(traced) / stats.median(untraced) - 1) * 100,
    }
    detail = {"plan_digest": shape["digest"],
              "task_tail_pct": spark_stats["task_tail_pct"],
              "task_tail_beyond": spark_stats["task_tail_beyond"],
              "stages": spark_stats["stage_rows"],
              "golden_match": match,
              "passes_traced": traced,
              "passes_untraced": untraced,
              "inputs": vars(inputs), "spans": tracer.spans}
    return metrics, checks, detail


def write_record(record: dict, work: str) -> str:
    """Append-only: every run gets a new file; an existing one is never
    opened for writing."""
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}-"
            f"{record['workload']}-s{record['seed']}-t{record['trace']}-"
            f"{os.getpid()}.json")
    path = os.path.join(runs, name)
    with open(path, "x") as f:
        json.dump(record, f, indent=1, default=str)
    return path
