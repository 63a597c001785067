"""Fast checks of the benchmark's arithmetic on synthetic inputs (no
Spark): tail-percentile selection, fail_rate, span self time, and
attribution of event-log jobs and tasks to op windows.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, stats, sysmon
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.runner import MIN_SAMPLES, planned_passes, timed_passes
from perfbench.tracing import LAYERS, Span, Tracer, self_times

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---- tail percentile -------------------------------------------------------

@pytest.mark.parametrize("n, expected", [
    (19, None),    # even the median has only 9 beyond
    (20, 50.0),    # median at rank 10 of 20: 10 beyond
    (24, 50.0),    # p60 rank 15 leaves 9
    (25, 60.0),    # p60 rank 15 leaves 10
    (33, 60.0),    # p70 rank 24 leaves 9
    (34, 70.0),
    (39, 70.0),    # p75 rank 30 leaves 9
    (40, 75.0),    # p75 rank 30 leaves 10
    (50, 80.0),
    (99, 80.0),    # p90 rank 90 leaves 9
    (100, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_percentile_is_highest_with_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_value_is_a_measured_sample_with_ten_above():
    values = [float(v) for v in range(1, 41)]  # 1..40
    pct, value = stats.tail(values, planned=40)
    assert pct == 75.0
    assert value == 30.0
    assert sum(v > value for v in values) == 10


def test_tail_percentile_follows_planned_count_not_extra_samples():
    values = [float(v) for v in range(1, 121)]  # three times the plan
    pct, value = stats.tail(values, planned=40)
    assert pct == 75.0  # not p90, which 120 samples would allow
    assert value == 90.0


def test_tail_rejects_fewer_samples_than_planned():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 30, planned=40)


# ---- fail_rate ---------------------------------------------------------------

def test_fail_rate_counts_raises_and_oracle_mismatches():
    samples = [("a", True), ("b", False), ("c", True), ("c", True), ("d", True)]
    failed = stats.count_failed(samples, mismatched={"c"})
    assert failed == 3  # b raised once; both samples of mismatched c fail
    assert stats.fail_rate(len(samples), failed) == pytest.approx(0.6)


def test_fail_rate_zero_and_bad_input():
    assert stats.fail_rate(10, 0) == 0.0
    with pytest.raises(ValueError):
        stats.fail_rate(0, 0)
    with pytest.raises(ValueError):
        stats.fail_rate(3, 4)


# ---- span self time ------------------------------------------------------------

def test_self_time_subtracts_direct_children_once():
    spans = [
        Span("catalog", "load", 0.0, 10.0),
        Span("sources", "read", 1.0, 4.0, parent=0),
        Span("sources", "read", 3.0, 6.0, parent=0),   # overlaps its sibling
        Span("staging", "dir", 2.0, 3.0, parent=1),    # grandchild of span 0
        Span("catalog", "other", 20.0, 21.5),
    ]
    got = self_times(spans)
    assert got == pytest.approx([10.0 - 5.0, 3.0 - 1.0, 3.0, 1.0, 1.5])


def test_self_time_clips_children_to_parent():
    spans = [Span("a", "x", 0.0, 2.0), Span("b", "y", 1.5, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_tracer_records_nesting_failure_and_op():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))

    inner = tracer.wrap("sources", "inner", lambda: None)

    def outer_body():
        inner()
        raise KeyError("boom")

    outer = tracer.wrap("catalog", "outer", outer_body)
    tracer.op = [0, "q"]
    with pytest.raises(KeyError):
        outer()
    first, second = tracer.spans
    assert (first.layer, first.parent, first.ok, first.op) == ("catalog", None, False, [0, "q"])
    assert (second.layer, second.parent, second.ok) == ("sources", 0, True)
    assert self_times(tracer.spans) == pytest.approx([4.0 - 2.0, 1.0])


# ---- event-log attribution -------------------------------------------------------

def _job(job_id, t):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t}


def _task(stage, launch, run_ms=100, shuffle_write=0, accum=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms,
                      "Accumulables": [{"Name": n, "Update": str(u)} for n, u in accum]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write}},
    }


def test_jobs_and_tasks_attributed_by_window():
    windows = [eventlog.Window("a", 1000, 1200, 2000), eventlog.Window("b", 2100, 2150, 3000)]
    evs = [
        _job(0, 1100),          # a, during build: eager work
        _job(1, 1500),          # a, in the action
        _job(2, 2050),          # between windows: unattributed
        _job(3, 2100),          # b, at its start edge, during its build
        _job(4, 900),           # before the first window: not counted
        _task(0, 1510, shuffle_write=64),
        _task(0, 1520, shuffle_write=36),
        _task(1, 2990, accum=[("data sent to Python workers", 500),
                              ("time to run Python workers", 250)]),
        _task(2, 3500),         # after every window: dropped
        {"Event": eventlog._PROGRESS, "progress": {"timestamp": "1970-01-01T00:00:02.500Z"}},
    ]
    out, unattributed = eventlog.attribute(evs, windows)
    a, b = out["a"].counters, out["b"].counters
    assert unattributed == 1
    assert (a["spark.jobs"], a["queries.build_jobs"]) == (2, 1)
    assert (b["spark.jobs"], b["queries.build_jobs"]) == (1, 1)
    assert (a["spark.tasks"], a["spark.stages"], a["spark.shuffle_write_bytes"]) == (2, 1, 100)
    assert a["spark.executor_run_s"] == pytest.approx(0.2)
    assert a["spark.executor_cpu_s"] == pytest.approx(0.2)
    assert (b["spark.tasks"], b["python.bytes_sent"]) == (1, 500)
    assert b["python.run_s"] == pytest.approx(0.25)
    assert b["streaming.batches"] == 1


def test_attributor_edges():
    att = eventlog.Attributor([eventlog.Window(1, 10, 10, 20), eventlog.Window(2, 20, 20, 30)])
    assert att.find(9) is None
    assert att.find(10).key == 1
    assert att.find(20).key == 2  # a shared edge goes to the op that starts there
    assert att.find(30).key == 2
    assert att.find(31) is None


def test_event_log_reader_skips_unneeded_lines(tmp_path):
    log = tmp_path / "app-1"
    lines = [_job(0, 5), {"Event": "SparkListenerTaskStart"}, _task(0, 6)]
    log.write_text("\n".join(json.dumps(e) for e in lines) + "\n")
    kinds = [e["Event"] for e in eventlog.events(str(tmp_path))]
    assert kinds == ["SparkListenerJobStart", "SparkListenerTaskEnd"]


# ---- timed pass count --------------------------------------------------------

def test_timed_passes_fill_the_seconds_but_never_fall_below_the_plan():
    spec = {"ops": ["op"] * 13, "warm_pass_s": 9.6}
    assert timed_passes(spec, 25) == 3    # round(2.6)
    assert timed_passes(spec, 5) == 2     # 26 samples need two passes of 13
    assert timed_passes({"ops": ["op"] * 7, "warm_pass_s": 4.2}, 25) == 6


# ---- BENCHMARK.json agrees with the runner ---------------------------------------

def test_benchmark_json_lists_the_runner_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m[:3]) for m in PER_LAYER]
    with open(os.path.join(REPO, "perfbench", "workloads.json"), encoding="utf-8") as fh:
        workloads = json.load(fh)["workloads"]
    assert [w["name"] for w in bench["workloads"]] == list(workloads)
    for spec in workloads.values():
        planned = planned_passes(len(spec["ops"])) * len(spec["ops"])
        assert planned >= MIN_SAMPLES and stats.tail_percentile(planned) is not None
    # The listed layers are wrapped ones, and each has its metrics.
    listed = set().union(*(spec["layers"] for spec in workloads.values()))
    assert listed <= set(LAYERS)
    assert {m[0].rsplit(".", 1)[0] for m in PER_LAYER if m[0].endswith(".calls")} == listed


# ---- scratch-disk reading --------------------------------------------------------

def test_scratch_disk_counts_only_shuffles_newer_than_last_reading(tmp_path):
    (tmp_path / "stage").mkdir()
    (tmp_path / "stage" / "part-0.parquet").write_bytes(b"x" * 100)
    (tmp_path / "shuffle_3_0_0.data").write_bytes(b"x" * 10)
    disk = sysmon.ScratchDisk(str(tmp_path))
    assert disk.read() == 110             # first reading: every shuffle is new
    (tmp_path / "shuffle_4_0_0.data").write_bytes(b"x" * 20)
    (tmp_path / "shuffle_4_0_0.index").write_bytes(b"x" * 5)
    assert disk.read() == 125             # shuffle 3 is an earlier op's
    assert disk.read() == 100             # nothing new since


def test_tracer_pickles_empty():
    import pickle

    tracer = Tracer()
    tracer.wrap("catalog", "f", len)([1])
    clone = pickle.loads(pickle.dumps(tracer))
    assert len(tracer.spans) == 1 and clone.spans == []


# ---- op selection from the sizing rows -------------------------------------------

def _row(name, module, warm_s, layers, fills=(), stages=False, oracle_ok=True):
    return {"name": name, "module": module, "warm_s": warm_s, "build_s": warm_s / 2,
            "layers": layers, "fills": list(fills), "stages": stages, "oracle_ok": oracle_ok}


def test_select_weighted_cover_then_strata_within_budget(monkeypatch):
    from perfbench import sizing

    monkeypatch.setattr(sizing, "PASS_BUDGET_S", {"bi_read": 2.0, "curation_write": 3.0})
    rows = [
        _row("a_slow_all", "analytics", 4.0, ["catalog", "governance", "sources"]),
        _row("a_cat", "analytics", 0.5, ["catalog"]),
        _row("a_gov", "analytics", 0.5, ["catalog", "governance"]),
        _row("a_src", "analytics", 0.4, ["sources"]),
        _row("w_1", "window_analytics", 0.2, ["catalog"]),
        _row("w_2", "window_analytics", 0.6, ["catalog"]),
        _row("w_3", "window_analytics", 1.0, ["catalog"]),
        _row("bad", "join_grouping", 0.1, ["operators.joins"], oracle_ok=False),
        _row("r_stage", "relational", 0.3, ["staging"], stages=True),
        _row("llm_a", "llm_queries", 0.4, ["operators.dedup"]),
        _row("llm_c", "llm_queries", 0.6, ["operators.dedup"], fills=["cache"]),
        _row("ev_state", "event_queries", 1.0, ["streaming.stateful"]),
    ]
    picked = sizing.select(rows)
    # Cover: w_1 (weight 2 / 0.2 s), a_src (2 / 0.4), a_gov (2 / 0.5);
    # w_1 is then dropped, as a_gov reaches catalog too. The lowest
    # latency quartile brings w_1 back; the top one's typical op
    # (a_slow_all, tied with w_3 and first by name) does not fit.
    assert picked["bi_read"] == ["a_src", "a_gov", "w_1"]
    # Cover: r_stage (2 / 0.3 s); then ev_state (5 / 1.0: stateful
    # streaming also feeds the state-store metrics), llm_a and llm_c tie
    # at 5 per second and go by name; llm_c adds its cache (1 / 0.6).
    # llm_a is dropped (llm_c reaches its layer) and comes back as the
    # typical op of the second latency quartile.
    assert picked["curation_write"] == ["r_stage", "ev_state", "llm_c", "llm_a"]
