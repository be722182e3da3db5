"""Unit tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import random

import pytest

import stats
from spans import Tracer


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(range(10)) is None
    assert stats.tail(range(11)) == (9, 0.0)  # one sample, ten beyond it
    # 60 batches: the 50th value has exactly ten after it
    pct, value = stats.tail(range(1, 61))
    assert value == 50 and pct == 83
    assert sum(1 for x in range(1, 61) if x > value) == 10


def test_tail_is_order_free():
    xs = [random.Random(3).random() for _ in range(57)]
    assert stats.tail(xs) == stats.tail(sorted(xs, reverse=True))


def test_freshness_maps_cumulative_rows_to_files():
    # 2 backlog files (2000 rows) were read before the open-loop phase;
    # files are due at t=10, 11, 12; the second and third share a batch
    scheduled = [10.0, 11.0, 12.0]
    batches = [(5.0, 1000), (6.0, 2000), (10.5, 3000), (12.75, 5000)]
    got = stats.freshness_ms(scheduled, batches, rows_per_file=1000, rows_before=2000)
    assert got == pytest.approx([500.0, 1750.0, 750.0])


def test_freshness_counts_from_schedule_not_drop():
    # a generator that dropped the file late must not shorten freshness
    got = stats.freshness_ms([0.0], [(3.0, 1000)], rows_per_file=1000)
    assert got == [3000.0]


def test_freshness_rejects_uncommitted_file():
    with pytest.raises(ValueError):
        stats.freshness_ms([0.0, 1.0], [(0.5, 1000)], rows_per_file=1000)


def test_drain_runs_from_first_start_to_last_backlog_commit():
    # backlog of 5 files; the slow fourth batch counts, the open-loop
    # commit after the backlog does not
    commits = [(0.5, 1000), (1.0, 2000), (1.5, 3000), (3.5, 4000), (4.0, 5000), (9.0, 6000)]
    assert stats.drain_s(0.1, commits, backlog_rows=5000) == pytest.approx(3.9)
    with pytest.raises(ValueError):
        stats.drain_s(0.1, commits[:3], backlog_rows=5000)


def test_generator_lateness():
    assert stats.lateness_ms([1.0, 2.0, 3.0], [1.001, 2.25, 3.0]) == pytest.approx(250.0)
    assert stats.lateness_ms([1.0], [0.9]) == 0.0  # early is not late
    assert stats.lateness_ms([], []) == 0.0


def test_self_time_plus_children_equals_parent():
    kids = [(1.0, 2.0), (3.0, 4.5)]
    own = stats.self_time(0.0, 5.0, kids)
    assert own + sum(hi - lo for lo, hi in kids) == pytest.approx(5.0)
    # overlapping children are covered once; parts outside are ignored
    assert stats.self_time(0.0, 5.0, [(1.0, 3.0), (2.0, 4.0), (4.5, 9.0)]) == pytest.approx(1.5)


def test_tracer_spans_nest_and_sum():
    tr = Tracer()
    with tr.span("root", trace=7):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("b.inner"):
                pass
    root = tr.roots("root")[0]
    kids = tr.children()
    direct = kids[root[0]]
    assert [s[1] for s in direct] == ["a", "b"]
    assert all(s[5] == 7 for s in tr.closed())  # trace id inherited
    total = tr.self_ms(root, kids) + sum((s[3] - s[2]) * 1000 for s in direct)
    assert total == pytest.approx((root[3] - root[2]) * 1000)
    assert len(tr.descendants()[root[0]]) == 3


def test_tracer_wrap_restores():
    class Owner:
        def f(self, x):
            return x + 1

    tr = Tracer()
    orig = Owner.f
    tr.wrap(Owner, "f", "owner.f", nested_only=True)
    assert Owner().f(1) == 2 and tr.closed() == []  # outside any span: untimed
    with tr.span("root"):
        Owner().f(1)
    assert sorted(s[1] for s in tr.closed()) == ["owner.f", "root"]
    tr.restore()
    assert Owner.f is orig


ROWS = [(1, "click", 2.5), (2, "view", None), (3, "click", 0.1)]


def test_checksum_is_order_free():
    assert stats.multiset_checksum(ROWS) == stats.multiset_checksum(ROWS[::-1])


def test_checksum_catches_one_duplicated_row():
    n, s = stats.multiset_checksum(ROWS)
    dup_n, dup_s = stats.multiset_checksum(ROWS + [ROWS[0]])
    assert dup_s != s
    # same count, one row duplicated in place of another
    swap_n, swap_s = stats.multiset_checksum([ROWS[0], ROWS[0], ROWS[2]])
    assert swap_n == n and swap_s != s


def test_checksum_distinguishes_types_and_values():
    assert stats.multiset_checksum([(1,)]) != stats.multiset_checksum([(1.0,)])
    assert stats.multiset_checksum([("a", "b")]) != stats.multiset_checksum([("ab", "")])


def test_normalize_sorts_rows_and_columns():
    a = stats.normalize([(2, "x"), (1, "y")], ["b", "a"])
    b = stats.normalize([("y", 1), ("x", 2)], ["a", "b"])
    assert a == b


def test_event_log_attributes_jobs_and_tasks_to_query_windows(tmp_path):
    import json

    import qmix

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000, "Stage IDs": [2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3]},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "7"}]},
            "Task Metrics": {
                "Executor CPU Time": 2_000_000,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor CPU Time": 9_000_000}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    # query "a" ran twice (two passes); job 2 falls outside every window
    windows = [("a", 900, 1100), ("b", 4000, 6000), ("a", 7000, 8000)]
    got = qmix.event_log_layers(str(tmp_path), windows)
    assert got["a"] == {"jobs": 1, "executor_cpu_ms": 2.0, "shuffle_write_bytes": 100, "python_worker_ms": 7.0}
    assert got["b"] == {"jobs": 1}
