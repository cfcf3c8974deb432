"""Tests of the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

import datetime as dt

import pytest

import stats
from stats import Span


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30, 75.0, 40)
    assert sum(x > value for x in xs) == 10


def test_tail_of_few_samples_is_the_max_and_says_so():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_tail_below_twenty_samples_is_the_max_not_the_median():
    # 15 samples: the 33rd percentile has 10 beyond it, but it is no tail
    xs = [float(x) for x in range(15)]
    assert stats.tail(xs) == (14.0, 100.0, 15)
    assert stats.tail(xs + [15.0] * 5) == (9.0, 50.0, 20)


def test_self_time_shares_overlap_between_concurrent_stages():
    # op [0,10] > phase [1,9] > two DAG stages running at once: A [2,6], B [4,8]
    spans = [
        Span(1, "op:x", 0, 10, None, 1),
        Span(2, "runner.silver", 1, 9, 1, 1),
        Span(3, "scd2.load:a", 2, 6, 2, 1),
        Span(4, "appends.load:b", 4, 8, 2, 1),
    ]
    got = stats.self_times(spans)
    assert got == pytest.approx({1: 2.0, 2: 2.0, 3: 3.0, 4: 3.0})
    assert sum(got.values()) == pytest.approx(10.0)
    assert stats.layer_self_times(spans) == pytest.approx(
        {"op": 2.0, "runner": 2.0, "scd2": 3.0, "appends": 3.0})


def test_self_time_of_a_stage_with_a_busy_child():
    # stage A [2,6] calls tableio [3,5] while stage B [4,8] runs beside it
    spans = [
        Span(1, "op:x", 0, 10, None, 1),
        Span(2, "scd2.load:a", 2, 6, 1, 1),
        Span(3, "tableio.write", 3, 5, 2, 1),
        Span(4, "appends.load:b", 4, 8, 1, 1),
    ]
    got = stats.self_times(spans)
    # A: [2,3] alone + [5,6] shared with B; tableio: [3,4] alone + [4,5] shared
    assert got[2] == pytest.approx(1.5)
    assert got[3] == pytest.approx(1.5)
    assert got[4] == pytest.approx(0.5 + 0.5 + 2.0)
    assert sum(got.values()) == pytest.approx(10.0)


def test_inclusive_ids_walk_up_to_the_phase():
    spans = [
        Span(1, "op:q", 0, 4, None, 1),
        Span(2, "queries.build:q", 0, 3, 1, 1),
        Span(3, "pin", 1, 2, 2, 1),
        Span(4, "queries.write:q", 3, 4, 1, 1),
    ]
    assert stats.inclusive_ids(spans, ("queries.build", "queries.write")) == {
        2: "queries.build", 3: "queries.build", 4: "queries.write"}


def test_change_batches_are_fixed_by_the_seed():
    from medallion import plan_batches

    keys = list(range(1500))
    last = dt.date(2001, 8, 1)
    a, b = plan_batches(7, keys, last), plan_batches(7, list(reversed(keys)), last)
    assert a == b
    assert plan_batches(8, keys, last) != a
    assert last - dt.timedelta(days=60) <= a.batches[-1].upper <= last
    for prev, nxt in zip(a.batches, a.batches[1:]):
        assert nxt.lower == prev.upper and nxt.replay_from == prev.lower
    touched = [k for x in a.batches for k in x.changed_customers + x.unchanged_customers]
    assert len(touched) == len(set(touched))


def test_query_selection_keeps_hot_paths_and_every_module():
    from querymix import HOT_PATHS, pass_order, select_queries

    modules = {q: "hot" for q in HOT_PATHS}
    modules.update({"a1": "a", "a2": "a", "b1": "b", "c1": "c"})
    chosen = select_queries(modules, ["a2", "a1", "b1"])
    assert chosen == [*HOT_PATHS, "a2", "b1", "c1"]
    assert pass_order(chosen, 3, 0) == pass_order(chosen, 3, 0)
    assert sorted(pass_order(chosen, 3, 1)) == sorted(chosen)


def _result(nproc, value, data="sf0.01", trace=0):
    return {"workload": "w", "data": data, "trace": trace,
            "exec": {"nproc": nproc, "master": f"local[{nproc}]",
                     "default_parallelism": nproc, "driver_memory": "3g"},
            "metrics": {"run_s": value}}


def test_compare_refuses_different_exec_stamps():
    with pytest.raises(stats.ExecMismatch, match="nproc"):
        stats.compare_results([_result(4, 1.0)], [_result(32, 1.0)])


@pytest.mark.parametrize("field, other", [("data", {"data": "sf0.1"}), ("trace", {"trace": 1})])
def test_compare_refuses_other_input_or_tracing(field, other):
    with pytest.raises(stats.ExecMismatch, match=field):
        stats.compare_results([_result(4, 1.0)], [_result(4, 1.0, **other)])


def test_compare_reports_median_change_on_equal_stamps():
    got = stats.compare_results([_result(4, 1.0), _result(4, 3.0)], [_result(4, 3.0)])
    assert got["w"]["run_s"] == {"base": 2.0, "new": 3.0, "change": 0.5}
