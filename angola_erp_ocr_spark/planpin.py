"""Plan-shape pinning — the CI tripwire for plan regressions (r5, VERDICT
r4 task 6).

``bench.py`` records plan digests every round, but a digest drift there is
only caught when a human reads the bench artifacts. This module pins the
normalized PHYSICAL-plan digest of every headline query so an accidental
plan change — a lost broadcast, a new exchange, a filter that stopped
pushing down — fails a pytest (tests/test_plan_pins.py) at commit time
instead of surfacing a round later.

Digests here are INPUT-PATH-INDEPENDENT (scan locations stripped), so the
same pin validates at sf0.01 in tests and sf0.1 in the bench. They DO
depend on session config that changes plan shape (shuffle partition
counts appear in Exchange nodes), so pin and verify under the same session
settings — both the tool and the test use local[8] /
shuffle_partitions=8, the tests' standard session.

``forced`` is the one aggregate the bench harness times a query through
(``bench.py`` and the ``bench/run.py`` scaling legs, which ship only the
package zip, both import it from here).

Regenerate after an INTENTIONAL plan change:

    python tools/pin_plans.py          # rewrites BENCH/plans_pinned.json
"""

from __future__ import annotations

import hashlib
import re

# the headline queries: pinned here, timed by bench.py; importable
# without a SparkSession
PINNED_QUERIES = [
    "flagship_extract",
    "l13_header_fields",
    "dedup_exact",
    "minhash_signatures",
    "simhash_values",
    "textstats",
    "fingerprint",
    "embedding_cosine_topk",
    "join_sortmerge_qa",
    "window_event_counts",
]

PIN_FILE = "BENCH/plans_pinned.json"


def normalized_plan(df) -> str:
    """Formatted physical plan with run-varying ids AND input paths
    stripped — changes only when the plan SHAPE changes."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    norm = re.sub(r"#\d+[L]?", "#x", plan)
    norm = re.sub(r"\[plan_id=\d+\]", "[plan_id=x]", norm)
    norm = re.sub(r"\(\d+\)", "(n)", norm)
    norm = re.sub(r"cvalue_\d+", "cvalue_x", norm)
    # lambda variables (x_1, y_3, …) are numbered by a session-global
    # counter — any lambda-bearing query run EARLIER in the session
    # shifts the numbers in every later plan, which is ordering noise,
    # not shape. The suffix rides on the variable name before the
    # (already-normalized) expr id: `lambda y_3#x` → `lambda y_n#x`.
    norm = re.sub(r"_\d+#x", "_n#x", norm)
    # RDD ids (`MapPartitionsRDD[8] at applySchemaToPythonRDD…` from
    # createDataFrame'd dim tables) are another session-global counter
    norm = re.sub(r"RDD\[\d+\]", "RDD[n]", norm)
    # …and their creation callsite varies with the invoking stack
    # (`at NativeMethodAccessorImpl.java:0` vs `at <unknown>:0`)
    norm = re.sub(r" at [\w<>.$/]+:\d+", " at x:0", norm)
    norm = re.sub(r"Location: \S+", "Location: x", norm)
    norm = re.sub(r"file:[^\s,\]]+", "file:/x", norm)
    return norm


def plan_digest(df) -> str:
    return hashlib.md5(normalized_plan(df).encode()).hexdigest()[:12]


def forced(df):
    """The forcing aggregate every timed query runs through: the row count
    and an order-free digest of every output column. A bare ``count()``
    lets Catalyst prune each projection it does not need (the MinHash
    signatures, the span assembly), so it times little more than the
    scan."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("rows"),
                  F.bit_xor(F.xxhash64(*df.columns)).alias("digest"))
