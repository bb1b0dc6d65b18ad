"""The benchmark's arithmetic on synthetic numbers."""

import pytest

from perfbench import stats
from perfbench.compare import pair_values
from perfbench.corpus import Sizes, select_docs
from perfbench.trace import Tracer, self_times


@pytest.mark.parametrize("values, want", [
    (list(range(1, 101)), (90.0, 90, 10)),
    (list(range(1, 1001)), (99.0, 990, 10)),
    (list(range(1, 10001)), (99.9, 9990, 10)),
    ([1] * 50 + [100] * 20, (50.0, 1, 20)),
    (list(range(1, 16)), (0.0, 15, 0)),
    ([], (0.0, 0.0, 0)),
])
def test_tail_is_highest_percentile_with_ten_beyond(values, want):
    assert stats.tail(values) == want


def test_quartiles_and_spread_match_statistics_quantiles():
    values = [10, 11, 9, 10, 12, 10, 8, 11, 10, 9]
    q1, q3 = stats.quartiles(values)
    assert (q1, q3) == (9.0, 11.0)
    assert stats.spread(values) == pytest.approx(2 / 10)
    assert stats.spread([5.0]) == 0.0


def _span(sid, layer, start, end, parent=None):
    return {"id": sid, "name": layer, "layer": layer, "parent": parent,
            "trace": 1, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, parent=0),
        _span(2, "b", 3.0, 6.0, parent=0),   # overlaps a: union is [1, 6]
        _span(3, "c", 2.0, 3.0, parent=1),
        _span(4, "b", 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    got = self_times(spans)
    assert got["root"] == pytest.approx(10 - 5 - 1)
    assert got["a"] == pytest.approx(3 - 1)
    assert got["b"] == pytest.approx(3 + 3)
    assert got["c"] == pytest.approx(1)


def test_tracer_nests_spans_and_is_inert_when_off():
    t = Tracer(True)
    t.new_trace()
    with t.span("outer", "x"):
        with t.span("inner", "y"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert {s["trace"] for s in t.spans} == {1}
    off = Tracer(False)
    with off.span("outer", "x"):
        pass
    assert off.spans == []


def test_verdict_better_needs_nine_in_ten_wins_and_median_beyond_iqr():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    faster = [b - 1.0 for b in base]
    assert stats.verdict(base, faster, "lower", 0.1) == "better"
    # eight wins in ten is not enough
    mixed = faster[:8] + [b + 0.05 for b in base[8:]]
    assert stats.verdict(base, mixed, "lower", 0.1) == "unchanged"
    # higher-is-better metrics flip the sign
    assert stats.verdict(base, faster, "higher", 0.1) == "worse"


def test_verdict_worse_beyond_bound_and_unresolved_when_noisy():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    slower = [b * 1.15 for b in base]
    assert stats.verdict(base, slower, "lower", 0.1) == "worse"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert stats.verdict(noisy, base, "lower", 0.1) == "unresolved"
    # ... unless every change run beats every base run
    assert stats.verdict(noisy, [1.0] * 10, "lower", 0.1) == "better"
    # same numbers: unchanged
    assert stats.verdict(base, list(base), "lower", 0.1) == "unchanged"


def test_verdict_needs_ten_pairs():
    assert stats.verdict([10.0], [5.0], "lower", 0.1) == "unresolved"
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9]
    assert stats.verdict(base, [b - 1 for b in base], "lower",
                         0.1) == "unresolved"


def test_select_docs_is_seeded_and_keeps_the_page_budget():
    pages = [(f"d{i:03d}", 0 if i % 3 == 0 else 1 + i % 2) for i in range(60)]
    pages += [(f"h{i}", 50 + 10 * i) for i in range(8)]
    sizes = Sizes(light_docs=20, heavy_pages=200, digital_docs=5)
    got = select_docs("mixed_corpus", pages, sizes, seed=1)
    assert got == select_docs("mixed_corpus", pages, sizes, seed=1)
    assert got != select_docs("mixed_corpus", pages, sizes, seed=2)
    assert got == sorted(got)
    by_id = dict(pages)
    light = [d for d in got if by_id[d] < 3]
    heavy = [d for d in got if by_id[d] >= 3]
    assert len(light) == 20
    assert heavy and sum(by_id[d] for d in heavy) <= 200
    digital = select_docs("born_digital", pages, sizes, seed=1)
    assert len(digital) == 5 and all(by_id[d] == 0 for d in digital)
    with pytest.raises(ValueError):
        select_docs("nope", pages, sizes, seed=1)


def _record(workload, seed, value, trace=0):
    return {"workload": workload, "seed": seed, "trace": trace,
            "result": {"metrics": {"pass_s": {"value": value, "unit": "s"}}}}


def test_compare_pairs_runs_by_seed():
    base = [_record("w", 1, 1.0), _record("w", 2, 2.0), _record("w", 3, 3.0),
            _record("v", 1, 9.0)]
    change = [_record("w", 2, 2.5), _record("w", 1, 1.5),
              _record("w", 1, 1.7)]
    assert pair_values(base, change, "w", 0, "pass_s") == ([1.0, 2.0],
                                                           [1.5, 2.5])


def test_steal_share_is_steal_over_all_cpu_time():
    from perfbench.host import steal_share
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [160, 0, 70, 900, 0, 0, 0, 70]  # 200 jiffies, 20 stolen
    assert steal_share(before, after) == pytest.approx(0.1)
    assert steal_share(before, before) == 0.0
