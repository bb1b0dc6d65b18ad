"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload mixed_corpus --seed 1 --seconds 10 --trace 0

One driver process, one client, closed loop: a pass starts only after the
previous one has finished. ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones. Every metric is printed
by name with its unit; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Each run also appends a
record to ``.perfbench/runs/`` (see ``perfbench/compare.py``)."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose one of {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "angola_erp_ocr_spark")):
        print("perfbench: the angola_erp_ocr_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2

    # Spark's Python workers import the package from the checkout too, and
    # every scratch file stays inside the checkout.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    from perfbench import host

    stamp = host.stamp(ROOT, args.seed)
    cpu_before = host.cpu_times()
    # Inputs are generated (first run in a checkout) or drawn for the seed
    # in a process of their own, so no JVM warmed by generation runs the
    # timed work.
    t0 = time.monotonic()
    prep = subprocess.run(
        [sys.executable, "-m", "perfbench.corpus", "--workload",
         args.workload, "--seed", str(args.seed), "--cache",
         os.path.join(WORK, "cache"), "--work", WORK], cwd=ROOT)
    if prep.returncode != 0:
        print("perfbench: preparing the inputs failed", file=sys.stderr)
        return 1
    stamp["inputs_s"] = round(time.monotonic() - t0, 3)

    # The driver starts here: setup_s counts from this point.
    t_start = time.monotonic()
    from perfbench.corpus import Sizes, ensure_inputs
    from perfbench.driver import measure, trace_run, write_record
    from perfbench.workloads import stop_jvm

    inputs = ensure_inputs(args.workload, args.seed, Sizes(),
                           os.path.join(WORK, "cache"), WORK)
    try:
        if args.trace:
            metrics, checks, detail = trace_run(args, inputs, WORK)
        else:
            metrics, checks, detail = measure(args, inputs, WORK, t_start)
    finally:
        stop_jvm()
    stamp["steal_share"] = round(
        host.steal_share(cpu_before, host.cpu_times()), 4)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
           for m in wanted}
    result = {"correct": checks.failed == 0 and detail["golden_match"] == 1.0,
              "attempted": checks.attempted, "failed": checks.failed,
              "metrics": out}
    path = write_record({"workload": args.workload, "seed": args.seed,
                         "seconds": args.seconds, "trace": args.trace,
                         "stamp": stamp, "result": result,
                         "failures": checks.notes, "detail": detail}, WORK)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={stamp['cpus']} probe_s={stamp['probe_s']} "
          f"load={stamp['loadavg'][0]:.2f} steal={stamp['steal_share']} "
          f"sha={stamp['git_sha']} "
          f"src={stamp['source_digest']}")
    for name, m in out.items():
        print(f"  {name:<32} {m['value']:>14.6g} {m['unit']}")
    if "passes" in detail:
        print(f"  {'passes timed':<32} {len(detail['passes']):>14d} count")
    print(f"  {'golden_match':<32} {detail['golden_match']:>14.6g} share")
    print(f"  {'failed_share':<32} "
          f"{checks.failed / max(checks.attempted, 1):>14.6g} share")
    for note in checks.notes:
        print(f"  FAILED: {note}")
    print(f"  record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
