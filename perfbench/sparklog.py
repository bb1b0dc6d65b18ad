"""What Spark did, read from outside the package: the plan shape of a
DataFrame and the stages and tasks of the event log."""

from __future__ import annotations

import json
import re

from angola_erp_ocr_spark.planpin import plan_digest
from angola_erp_ocr_spark.stagelog import parse_stages

from . import stats

_NODE_RE = re.compile(r"^\((\d+)\) (.+?)\s*$")


def _plan_nodes(df) -> list[tuple[str, str]]:
    """(node name, detail block) per node of the formatted physical plan."""
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    nodes: list[tuple[str, list[str]]] = []
    for line in text.splitlines():
        m = _NODE_RE.match(line)
        if m:
            nodes.append((m.group(2), []))
        elif nodes:
            nodes[-1][1].append(line)
    return [(name, "\n".join(body)) for name, body in nodes]


def plan_shape(df, raw_location: str) -> dict:
    """Hash exchanges and scans of ``raw_location`` in ``df``'s physical
    plan, plus its normalized digest (``planpin.plan_digest``)."""
    exchanges = scans = 0
    for name, body in _plan_nodes(df):
        if name == "Exchange" and "hashpartitioning(" in body:
            exchanges += 1
        elif name.startswith("Scan ") and raw_location in body:
            scans += 1
    return {"exchanges": exchanges, "raw_scans": scans,
            "digest": plan_digest(df)}


def _tasks(log_path: str) -> list[dict]:
    out = []
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:  # torn tail line of a live log
                continue
            info = ev.get("Task Info", {})
            if info.get("Failed") or info.get("Killed"):
                continue
            out.append({"stage_id": ev.get("Stage ID"),
                        "ms": info.get("Finish Time", 0)
                        - info.get("Launch Time", 0)})
    return out


def pass_stats(log_path: str, windows: list[tuple[int, int]]) -> dict:
    """Stage and task figures of the passes run in ``windows`` (epoch ms).

    Sums are per pass (divided by the number of windows). Task times pool
    every pass, so the tail has as many samples as the run gives;
    ``task_skew`` is the median over passes of max/median task time in the
    pass's widest stage."""
    n = len(windows)
    stages = [s for lo, hi in windows for s in parse_stages(log_path, lo, hi)]
    stage_ids = {s["stage_id"] for s in stages}
    tasks = [t for t in _tasks(log_path) if t["stage_id"] in stage_ids]
    ms = sorted(t["ms"] for t in tasks)
    pct, tail_ms, beyond = stats.tail(ms)
    skews = []
    for lo, hi in windows:
        in_pass = [s for s in stages if lo <= s["submitted_ms"] <= hi]
        if not in_pass:
            continue
        widest = max(in_pass, key=lambda s: s["tasks"] or 0)["stage_id"]
        w = [t["ms"] for t in tasks if t["stage_id"] == widest]
        if w and stats.median(w) > 0:
            skews.append(max(w) / stats.median(w))
    return {
        "stages": len(stages) / n,
        "tasks": len(tasks) / n,
        "exec_run_s": sum(s["exec_run_ms"] for s in stages) / 1e3 / n,
        "exec_cpu_s": sum(s["exec_cpu_ms"] for s in stages) / 1e3 / n,
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages) / n,
        "shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages) / n,
        "task_ms_p50": stats.percentile(ms, 50) if ms else 0.0,
        "task_ms_tail": tail_ms,
        "task_tail_pct": pct,
        "task_tail_beyond": beyond,
        "task_skew": stats.median(skews) if skews else 0.0,
        "stage_rows": stages,
    }
