"""The bench harness's shared pieces: the forcing aggregate every timed
query runs through, and the host probe's choice of cores."""
from __future__ import annotations


def test_forced_aggregate_references_every_output_column(spark):
    """A bare ``count()`` lets Catalyst prune every projection it does not
    need, so a headline time would leave out most of the query's work.
    ``forced`` must read every output column of every headline query."""
    import __spark_entry__ as contract

    from angola_erp_ocr_spark.planpin import PINNED_QUERIES, forced

    qs = contract.queries()
    for name in PINNED_QUERIES:
        df = qs[name](spark, contract.SF0001)
        agg = forced(df)._jdf.queryExecution().analyzed()
        assert agg.nodeName() == "Aggregate", name
        child = agg.child()
        assert child.output().size() == len(df.columns), name
        assert child.outputSet().subsetOf(agg.references()), name


def test_probe_cores_stay_inside_the_affinity_set(monkeypatch):
    """The probe pins one child per core: the first min(8, n) CPUs this
    process may run on, never one outside them (cores 0-7 on a host with
    fewer CPUs made every child fail). Starts no process."""
    import os

    import bench

    assert set(bench.probe_cores()) <= os.sched_getaffinity(0)
    for allowed, want in [
        ({4, 5, 6, 7}, [4, 5, 6, 7]),
        ({0, 1, 2, 3}, [0, 1, 2, 3]),
        (set(range(32)), list(range(8))),
        ({1, 3, 5, 7, 9, 11, 13, 15, 17, 19}, [1, 3, 5, 7, 9, 11, 13, 15]),
        ({6}, [6]),
    ]:
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: allowed)
        got = bench.probe_cores()
        assert got == want
        assert set(got) <= allowed
