"""Tests for the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import time
import types

import pytest

from perfbench import eventlog, harness
from perfbench.kg import expected_rows
from perfbench.trace import Tracer

# --------------------------------------------------------------- percentiles


@pytest.mark.parametrize("n, q", [
    (1, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (1000, 99), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert harness.tail_percentile(n) == q


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 90) == 90
    assert harness.percentile(list(reversed(xs)), 90) == 90
    assert harness.percentile([7.0], 99) == 7.0


def test_summarize_reports_count_median_and_supported_tail():
    assert harness.summarize([]) == {"n": 0}
    s = harness.summarize([float(x) for x in range(10)])
    assert s == {"n": 10, "p50": 4.5}  # no tail: p50 has only 5 beyond
    s = harness.summarize([float(x) for x in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0
    assert "p95" not in s


# ------------------------------------------------------------------- quality


def test_precision_recall():
    got = {("a", "p", "b"), ("c", "p", "d"), ("x", "p", "y")}
    want = {("a", "p", "b"), ("c", "p", "d"), ("e", "p", "f"), ("g", "p", "h")}
    assert harness.precision_recall(got, want) == (2 / 3, 2 / 4)
    assert harness.precision_recall(set(), want) == (0.0, 0.0)


def test_neighbour_quality_counts_missing_queries_as_empty():
    exact = {0: {1, 2, 3}, 1: {4, 5, 6}, 2: {7, 8, 9}}
    approx = {0: {1, 2, 3}, 1: {4, 10}}  # query 2 returned nothing
    assert harness.neighbour_quality(approx, exact) == (4, 5, 9)


def test_interval_union():
    assert harness.interval_union([]) == 0.0
    assert harness.interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert harness.interval_union([(3, 4), (0, 10)]) == pytest.approx(10.0)


def test_expected_rows_by_lookup_kind():
    rows = [("A", "p", "B", "m1"), ("A", "q", "C", "m2"), ("D", "p", "B", "m3")]
    assert expected_rows(rows, "entity", ("A", None)) == rows[:2]
    assert expected_rows(rows, "entity", (None, "B")) == [rows[0], rows[2]]
    assert expected_rows(rows, "entity", ("A", "B")) == [rows[0]]
    assert expected_rows(rows, "relation", ("p",)) == [rows[0], rows[2]]
    assert expected_rows(rows, "triplet", ("D", "p", "B")) == [rows[2]]
    assert expected_rows(rows, "triplet", ("Z", "p", "B")) == []


# -------------------------------------------------------------- closed loop


def test_closed_loop_runs_min_ops_then_stops_at_time():
    calls = []
    assert harness.closed_loop(0.0, lambda i: calls.append(i) or i, min_ops=3) == [0, 1, 2]
    assert calls == [0, 1, 2]
    assert len(harness.closed_loop(0.05, lambda i: time.sleep(0.01))) >= 3


def test_outcome_counts_failures():
    out = harness.Outcome()
    out.check(True, "a")
    out.check(False, "b")
    assert (out.attempted, out.failed, out.errors) == (2, 1, ["b"])


# ---------------------------------------------------------------- event log


def _canned_log() -> list[dict]:
    """Two jobs in two groups over a 10 s window [1000, 1010] s:
    stage 0 (group g1) runs 1001-1004 with tasks of 1, 1 and 4 s;
    stage 1 (group g2) runs 1003-1006 with one 2 s task; 5 s of the
    window is covered by no stage."""
    def task(stage, run_ms, **m):
        metrics = {"Executor Run Time": run_ms, "JVM GC Time": 100,
                   "Shuffle Write Metrics": {"Shuffle Bytes Written": m.get("sw", 0)},
                   "Shuffle Read Metrics": {"Local Bytes Read": m.get("sr", 0),
                                            "Remote Bytes Read": 0},
                   "Disk Bytes Spilled": m.get("spill", 0), "Memory Bytes Spilled": 0,
                   "Input Metrics": {"Bytes Read": m.get("inp", 0)}}
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics}

    def stage(sid, group, sub, comp):
        props = {"Properties": {eventlog.GROUP_KEY: group}}
        info = {"Stage ID": sid, "Submission Time": sub, "Completion Time": comp}
        return [{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}, **props},
                {"Event": "SparkListenerStageCompleted", "Stage Info": info}]

    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_900,
         "Stage IDs": [0], "Properties": {eventlog.GROUP_KEY: "g1"}},
        *stage(0, "g1", 1_001_000, 1_004_000),
        task(0, 1000, sw=10, inp=100), task(0, 1000, sw=10), task(0, 4000, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_004_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_003_000,
         "Stage IDs": [1], "Properties": {eventlog.GROUP_KEY: "g2"}},
        *stage(1, "g2", 1_003_000, 1_006_000),
        task(1, 2000, sr=5),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_006_000},
    ]


def test_read_events_skips_torn_lines(tmp_path):
    lines = [json.dumps(e) for e in _canned_log()]
    (tmp_path / "app-1").write_text("\n".join(lines) + '\n{"Event": "SparkListenerTa')
    assert list(eventlog.read_events(str(tmp_path))) == _canned_log()


def test_group_totals_and_task_skew():
    log = eventlog.fold(_canned_log())
    g1 = eventlog.group_totals(log["stages"], {"g1"})
    assert g1["task_s"] == pytest.approx(6.0)
    assert g1["gc_s"] == pytest.approx(0.3)
    assert (g1["shuffle_write"], g1["spill"], g1["input_bytes"]) == (20, 7, 100)
    assert g1["task_skew"] == pytest.approx(4.0)  # max 4 s / median 1 s
    both = eventlog.group_totals(log["stages"], {"g1", "g2"})
    assert both["task_s"] == pytest.approx(8.0) and both["shuffle_read"] == 5
    assert eventlog.group_totals(log["stages"], {"none"})["task_s"] == 0


def test_runner_totals_busy_frac_and_gap():
    log = eventlog.fold(_canned_log())
    rt = eventlog.runner_totals(log, [(1000.0, 1010.0)], cores=4)
    assert (rt["jobs"], rt["stages"]) == (2, 2)
    assert rt["task_s"] == pytest.approx(8.0)
    assert rt["busy_frac"] == pytest.approx(8.0 / (4 * 10.0))
    assert rt["gap_s"] == pytest.approx(10.0 - 5.0)  # stages cover 1001-1006
    # a window that clips the stages counts only the covered part
    clip = eventlog.runner_totals(log, [(1000.5, 1002.0)], cores=4)
    assert clip["stages"] == 1 and clip["gap_s"] == pytest.approx(0.5)
    # stages that ended before a window cover none of it
    late = eventlog.runner_totals(log, [(1007.0, 1010.0)], cores=4)
    assert late["stages"] == 0 and late["gap_s"] == pytest.approx(3.0)
    # a stage submitted before the window covers the part inside it
    mid = eventlog.runner_totals(log, [(1005.0, 1008.0)], cores=4)
    assert mid["stages"] == 0 and mid["gap_s"] == pytest.approx(2.0)
    two = eventlog.runner_totals(log, [(1000.0, 1002.0), (1005.0, 1008.0)], cores=4)
    assert two["gap_s"] == pytest.approx(1.0 + 2.0)


# ------------------------------------------------------------------- tracer


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_spans_groups_and_patches():
    sc = _FakeSc()
    tracer = Tracer(sc)
    mod = types.SimpleNamespace(work=lambda x: (x, sc.getLocalProperty(eventlog.GROUP_KEY)))
    tracer.patch(mod, "work", "extract")

    assert mod.work(1) == (1, None)  # inactive: no span, no group
    assert tracer.spans == []

    tracer.active = True
    with tracer.span("op", "workload", root=True) as op:
        value, group = mod.work(2)
        assert sc.getLocalProperty(eventlog.GROUP_KEY) == op["group"]
    assert sc.getLocalProperty(eventlog.GROUP_KEY) is None
    inner = next(s for s in tracer.spans if s["name"] == "extract.work")
    assert group == inner["group"] != op["group"]
    assert inner["parent"] == op["id"]
    assert tracer.layer_groups("extract") == {inner["group"]}
    assert tracer.layer_wall("extract") == pytest.approx(inner["end"] - inner["start"])

    with tracer.span("write", "io", attribute=False) as w:
        assert w["group"] is None and sc.getLocalProperty(eventlog.GROUP_KEY) is None

    tracer.restore()
    assert mod.work(3) == (3, None)


def test_tracer_parents_pool_thread_spans_to_the_root():
    import threading

    sc = _FakeSc()
    tracer = Tracer(sc)
    tracer.active = True
    seen = {}

    def in_pool():
        with tracer.span("stage.kg_triples", "runner") as rec:
            seen["rec"] = rec

    with tracer.span("op", "workload", root=True) as op:
        t = threading.Thread(target=in_pool)
        t.start()
        t.join(timeout=10)
    assert not t.is_alive()
    assert seen["rec"]["parent"] == op["id"]


def test_traced_ops_alternate_abba():
    assert [harness.traced_op(i) for i in range(8)] == [
        False, True, True, False, False, True, True, False]


def test_runner_layer_is_per_operation():
    log = eventlog.fold(_canned_log())
    layer = eventlog.runner_layer(log, [(1000.0, 1002.0), (1002.0, 1010.0)], cores=4)
    assert layer["runner.jobs"] == pytest.approx(1.0)  # 2 jobs over 2 windows
    assert layer["runner.task_s"] == pytest.approx(4.0)
    assert layer["runner.busy_frac"] == pytest.approx(8.0 / 40.0)
    assert layer["runner.gap_s"] == pytest.approx(5.0 / 2)


def test_repeated_setup_keeps_only_the_last_inputs(tmp_path):
    def make(root):
        (tmp_path / root).mkdir()
        return types.SimpleNamespace(root=root)

    data, times = harness.repeated_setup(make, str(tmp_path), 3)
    assert len(times) == 3 and all(t >= 0 for t in times)
    assert data.root.endswith("input2")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["input2"]


@pytest.mark.parametrize("seed", [0, 7, harness.SEED_SPACE - 1, 700_000_000, 2**32, 2**63, -1])
def test_data_seed_is_one_every_generator_accepts(seed):
    from imgfact_spark import synth

    s = harness.data_seed(seed)
    assert 0 <= s < harness.SEED_SPACE
    if 0 <= seed < harness.SEED_SPACE:
        assert s == seed
    synth.build_kb(s)
    # the duplicate-cluster branch seeds RandomState(seed * 7 + 0..31)
    assert s * 7 + 31 < 2**32
    for did in range(40):
        synth._tc_one_doc(s, did, 30_000)
