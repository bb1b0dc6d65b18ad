"""A tiny run of each workload, untraced and traced, end to end through
the package's Spark pipeline (about a minute per case)."""

import argparse
import os
import time

import pytest

from perfbench.corpus import Sizes, ensure_inputs
from perfbench.driver import measure, trace_run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
TINY = Sizes(pool_docs=200, light_docs=40, heavy_pages=120, digital_docs=30,
             commit_docs=12)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.mark.parametrize("workload", ["mixed_corpus", "born_digital"])
def test_untraced_run_is_correct(work, workload):
    args = argparse.Namespace(workload=workload, seed=5, seconds=0.1)
    inputs = ensure_inputs(workload, 5, TINY, os.path.join(work, "cache"),
                           work)
    metrics, checks, detail = measure(args, inputs, work, time.monotonic())
    assert checks.failed == 0, checks.notes
    assert detail["golden_match"] == 1.0
    assert checks.attempted >= 6
    assert detail["inputs"]["docs"] > 0
    assert metrics["docs_per_s"] > 0 and metrics["setup_s"] > 0


@pytest.mark.parametrize("workload", ["mixed_corpus", "born_digital"])
def test_traced_run_reports_layers(work, workload):
    args = argparse.Namespace(workload=workload, seed=5, seconds=0.1)
    inputs = ensure_inputs(workload, 5, TINY, os.path.join(work, "cache"),
                           work)
    metrics, checks, detail = trace_run(args, inputs, work)
    assert checks.failed == 0, checks.notes
    assert metrics["pipeline.exchanges"] >= 1
    assert metrics["pipeline.raw_scans"] >= 1
    assert metrics["spark.stages"] > 0 and metrics["spark.tasks"] > 0
    assert metrics["glyph.decode_us_per_page"] > 0
    assert metrics["ladder.rung_docs.1"] == TINY.commit_docs
    assert metrics["self_s.spark"] > 0
    assert metrics["memory.peak_rss_mb"] > 0
    if workload == "born_digital":
        assert metrics["ocr.pages_in"] == 0
    else:
        assert metrics["ocr.pages_in"] == detail["inputs"]["pages"]
