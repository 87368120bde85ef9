"""Self-tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import stream_load  # noqa: E402
from tracing import Tracer  # noqa: E402


# -- the percentile rule ---------------------------------------------------------


def test_tail_is_p95_from_200_samples():
    values = list(range(1, 201))  # 1..200
    pct, v = stats.tail(values)
    assert pct == 95.0
    assert v == 190  # rank ceil(0.95 * 200); 10 samples lie beyond it
    assert sum(x > v for x in values) == 10


def test_tail_below_200_keeps_ten_samples_beyond():
    for n in (11, 24, 48, 100, 199):
        values = [float(x) for x in range(n)]
        pct, v = stats.tail(values)
        assert sum(x > v for x in values) == 10, n
        assert pct == 100.0 * (n - 10) / n


def test_tail_caps_at_p95_and_needs_eleven_samples():
    pct, v = stats.tail(list(range(1000)))
    assert pct == 95.0 and v == 949  # rank 950; 50 beyond, not p99
    assert stats.tail(list(range(10))) == (None, None)
    assert stats.tail([]) == (None, None)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail(values) == (100.0 * 2 / 12, 1.0)


# -- freshness from the due time, and generator lateness ---------------------------


def test_freshness_counts_from_due_not_write_time():
    due = [0.0, 0.5, 1.0]
    written = [0.0, 0.9, 1.0]  # the second file was written 0.4 s late
    committed = [2.0, 2.0, 3.5]
    assert stats.freshness(due, committed) == [2.0, 1.5, 2.5]
    late = stats.lateness(due, written)
    assert [round(x, 9) for x in late] == [0.0, 0.4, 0.0]


def test_freshness_skips_files_never_committed():
    assert stats.freshness([0.0, 1.0], [1.5, None]) == [1.5]
    assert stats.lateness([0.0, 1.0], [0.1, None]) == [0.1]


def test_open_loop_fails_when_a_file_misses_its_freshness_sample():
    assert stream_load.open_loop_problems([1.0, 2.0], stalled=False) == []
    # a stalled loop leaves files for the drain; the run must not be correct
    problems = stream_load.open_loop_problems([1.0, None, None], stalled=True)
    assert len(problems) == 2 and "2 of 3 files" in problems[1]
    assert stream_load.open_loop_problems([None], stalled=False)


# -- DAG timings on a toy net -------------------------------------------------------
#
#   a ─┬─> b ──> d
#      └─> c ──┘        two slots; c waits 1 s for a slot after a ends


DEPS = {"a": set(), "b": {"a"}, "c": {"a"}, "d": {"b", "c"}}
START = {"a": 0.0, "b": 2.0, "c": 3.0, "d": 7.0}
END = {"a": 2.0, "b": 5.0, "c": 6.5, "d": 8.0}


def test_critical_path_on_toy_dag():
    # a (2) + c (3.5) + d (1) = 6.5 beats a + b + d = 6
    assert stats.critical_path(DEPS, START, END) == 6.5


def test_ready_wait_on_toy_dag():
    # a: 0 (dispatch 0); b: 2-2 = 0; c: 3-2 = 1; d: 7 - max(5, 6.5) = 0.5
    assert stats.ready_wait(DEPS, START, END, dispatch=0.0) == 1.5


def test_busy_union_and_slot_share():
    intervals = [(START[j], END[j]) for j in START]
    assert stats.union_length(intervals) == 7.5  # idle from 6.5 to 7
    assert stats.union_length([(0, 1), (2, 3), (2.5, 4)]) == 3.0
    # busy 2 + 3 + 3.5 + 1 = 9.5 slot-seconds of 2 * 8
    assert stats.slot_busy_frac(START, END, slots=2) == 9.5 / 16


# -- tracing overhead and layer aggregation -----------------------------------------


def test_tracing_overhead_cancels_linear_drift():
    # untraced units drift down 1 s per unit; traced ones cost 10 % more
    walls = [10.0, 9.0 * 1.1, 8.0, 7.0 * 1.1, 6.0]
    traced = [False, True, False, True, False]
    assert math.isclose(stats.tracing_overhead(walls, traced), 0.1)


def test_layer_medians_count_missing_keys_as_zero():
    units = [Counter(a=1.0, b=4.0), Counter(a=3.0), Counter(a=2.0, b=2.0)]
    assert stats.layer_medians(units) == {"a": 2.0, "b": 2.0}


def test_rewrite_ratio_counts_both_writers():
    unit = Counter({"engine.save_table.rows": 30, "engine.save_table_bucketed.rows": 10})
    assert stats.rewrite_ratio(unit, 20) == 2.0
    assert stats.rewrite_ratio(unit, 0) == 0.0


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    assert math.isclose(stats.quartile_spread(values), (17.25 - 11.75) / 14.5)


# -- the tracer's wrappers ----------------------------------------------------------


class _Store:
    @classmethod
    def open(cls, name):
        return cls()

    def write(self, rows):
        return rows


def test_wrappers_count_only_traced_units_and_nest_spans():
    tracer = Tracer()
    tracer.wrap(_Store, "open", "store.open", "store.open_s", "store.open.calls")
    tracer.wrap(_Store, "write", "store.write", "store.write_s", None, "store.rows")

    tracer.begin_unit("untraced", False)
    _Store.open("x").write(5)
    assert tracer.end_unit() is None

    tracer.begin_unit("traced", True)
    store = _Store.open("x")  # the classmethod still binds its class
    assert isinstance(store, _Store)
    assert store.write(7) == 7
    unit = tracer.end_unit()
    assert unit["store.open.calls"] == 1 and unit["store.rows"] == 7
    assert unit["store.open_s"] >= 0 and "store.write.calls" not in unit
    by_name = {name: (sid, parent) for sid, name, _, _, parent in tracer.spans}
    unit_id = by_name["traced"][0]
    assert by_name["store.open"][1] == unit_id and by_name["store.write"][1] == unit_id
    assert by_name["traced"][1] is None


# -- seeded inputs ----------------------------------------------------------------


def test_inputs_depend_only_on_the_seed():
    assert datagen.documents(7, 50) == datagen.documents(7, 50)
    assert datagen.documents(7, 50) != datagen.documents(8, 50)
    a = datagen.event_files(3, {"open": 4})
    assert a == datagen.event_files(3, {"open": 4})
    names = [f[0] for f in a["open"]]
    assert names == sorted(names)


def test_event_files_carry_their_row_counts_and_id_sums():
    files = datagen.event_files(5, {"first": 2, "open": 3})
    ids = []
    for name, payload, n, id_sum in files["first"] + files["open"]:
        lines = payload.decode().splitlines()
        assert len(lines) == n
        got = [int(line.split('"event_id": ')[1].split(",")[0]) for line in lines]
        assert sum(got) == id_sum
        ids += got
    assert ids == list(range(len(ids)))  # ids never repeat across phases


# -- process clean-up ------------------------------------------------------------


def test_stop_descendants_reaches_processes_in_other_groups():
    # like Spark's Python worker daemon: a grandchild in a group of its own
    subprocess.Popen(["sh", "-c", "setsid sleep 60 & sleep 60"])
    deadline = time.monotonic() + 5
    while len(run.descendants(os.getpid())) < 3 and time.monotonic() < deadline:
        time.sleep(0.01)
    assert len(run.descendants(os.getpid())) >= 3
    run.stop_descendants()
    assert run.descendants(os.getpid()) == []
