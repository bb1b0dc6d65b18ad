"""Compare two sets of run records, metric by metric and workload by
workload.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are directories (or single files) of records that
``perfbench/run.py`` appended to ``.perfbench/runs/``, one set per
commit. Runs pair by workload, trace mode and seed, in record order.
Every (metric, workload) pair is labelled better, worse, unchanged or
unresolved by ``stats.verdict``, with the bounds of BENCHMARK.json."""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __package__ in (None, ""):
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def load(path: str) -> list[dict]:
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def pair_values(base: list[dict], change: list[dict], workload: str,
                trace: int, metric: str) -> tuple[list[float], list[float]]:
    """Values of ``metric`` from runs of both sets that share a seed; the
    k-th base run of a seed pairs with the k-th change run of that seed."""
    def by_seed(records):
        out: dict[int, list[float]] = {}
        for r in records:
            m = r["result"]["metrics"].get(metric)
            if r["workload"] == workload and r["trace"] == trace and m:
                out.setdefault(r["seed"], []).append(m["value"])
        return out

    b, c = by_seed(base), by_seed(change)
    bv, cv = [], []
    for seed in sorted(set(b) & set(c)):
        for x, y in zip(b[seed], c[seed]):
            bv.append(x)
            cv.append(y)
    return bv, cv


def compare(base: list[dict], change: list[dict], spec: dict) -> list[dict]:
    rows = []
    workloads = [w["name"] for w in spec["workloads"]]
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        for m in spec[key]:
            for w in workloads:
                bv, cv = pair_values(base, change, w, trace, m["name"])
                if not bv:
                    continue
                rows.append({
                    "metric": m["name"], "workload": w, "unit": m["unit"],
                    "pairs": len(bv),
                    "base_median": stats.median(bv),
                    "change_median": stats.median(cv),
                    "base_spread": stats.spread(bv),
                    "verdict": stats.verdict(bv, cv, m["better"],
                                             m.get("bound")),
                })
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--spec", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.spec) as f:
        spec = json.load(f)
    rows = compare(load(args.base), load(args.change), spec)
    if not rows:
        print("no runs of the same workload and seed in both sets",
              file=sys.stderr)
        return 1
    for r in rows:
        print(f"{r['metric']:<28} {r['workload']:<14} {r['verdict']:<10} "
              f"{r['base_median']:>12.5g} -> {r['change_median']:<12.5g} "
              f"{r['unit']:<8} pairs={r['pairs']} "
              f"base_spread={r['base_spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
