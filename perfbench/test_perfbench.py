"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench.trace import (
    REFERENCE_LOOP_S, Span, Tracer, loop_seconds, read_event_log, scale, span_costs, union_length,
)
from perfbench.workloads import Ledger, compare_rows, normalize

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _expected(rows, cols):
    cols = sorted(cols)
    return cols, normalize(rows, cols)


def test_wrong_expected_answer_counts_as_failure():
    ledger = Ledger()
    rows = [{"k": 1, "v": 2.5}, {"k": 2, "v": 3.0}]
    good = _expected(rows, ["k", "v"])
    wrong = _expected([{"k": 1, "v": 2.5}, {"k": 2, "v": 3.1}], ["k", "v"])
    dt, _ = ledger.attempt("right", lambda: rows, lambda got: compare_rows(got, ["k", "v"], good))
    assert dt is not None and (ledger.attempted, ledger.failed) == (1, 0)
    dt, _ = ledger.attempt("wrong", lambda: rows, lambda got: compare_rows(got, ["k", "v"], wrong))
    assert dt is None and (ledger.attempted, ledger.failed) == (2, 1)


def test_exception_counts_as_failure_and_run_goes_on():
    ledger = Ledger()

    def boom():
        raise RuntimeError("engine error")

    assert ledger.attempt("boom", boom) == (None, None)
    assert ledger.attempt("next", lambda: 7)[1] == 7
    assert (ledger.attempted, ledger.failed) == (2, 1)


def test_compare_rows_finds_each_kind_of_difference():
    exp = _expected([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], ["a", "b"])
    assert compare_rows([{"a": 2, "b": "y"}, {"a": 1, "b": "x"}], ["b", "a"], exp) is None
    assert "columns" in compare_rows([{"a": 1}], ["a"], exp)
    assert "rows" in compare_rows([{"a": 1, "b": "x"}], ["a", "b"], exp)
    assert "row 1" in compare_rows([{"a": 1, "b": "x"}, {"a": 2, "b": "z"}], ["a", "b"], exp)


def test_floats_may_differ_by_one_unit_in_the_last_rounded_place():
    exp = _expected([{"id": 1, "q": 0.78375}, {"id": 2, "q": 0.5}], ["id", "q"])
    # Spark rounds 0.78375 half-up to 0.7838; DuckDB gets 0.7837
    assert compare_rows([{"id": 1, "q": 0.7838}, {"id": 2, "q": 0.5}], ["id", "q"], exp) is None
    assert compare_rows([{"id": 1, "q": 0.7839}, {"id": 2, "q": 0.5}], ["id", "q"], exp) is not None
    money = _expected([{"n": "a", "rev": 4502836.93}], ["n", "rev"])
    assert compare_rows([{"n": "a", "rev": 4502836.94}], ["n", "rev"], money) is None
    assert compare_rows([{"n": "a", "rev": 4502836.95}], ["n", "rev"], money) is not None
    whole = _expected([{"n": "a", "qty": 12.0}], ["n", "qty"])
    assert compare_rows([{"n": "a", "qty": 13.0}], ["n", "qty"], whole) is not None
    nan = _expected([{"id": 1, "q": float("nan")}], ["id", "q"])
    assert compare_rows([{"id": 1, "q": float("nan")}], ["id", "q"], nan) is None
    assert compare_rows([{"id": 1, "q": 0.0}], ["id", "q"], nan) is not None


def test_union_length_counts_overlaps_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_union_of_concurrent_children():
    tr = Tracer("t")
    parent = Span("crawl.run_epoch", 0.0, 10.0, id=0)
    kids = [Span("state.stage.frontier", 2.0, 6.0, id=1), Span("state.stage_packed", 4.0, 8.0, id=2)]
    tr.spans = [parent, *kids]
    assert tr.self_time(parent, "state.") == pytest.approx(4.0)


def test_wrapped_function_records_a_span_and_can_be_removed(tmp_path):
    class Layer:
        def work(self, x):
            return x + 1

    tr = Tracer("t")
    tr.install(Layer, "work", "layer.work")
    assert Layer().work(1) == 2
    tr.uninstall()
    assert Layer().work(1) == 2
    assert [s.name for s in tr.named("layer.")] == ["layer.work"]
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    (span,) = [json.loads(line) for line in out.read_text().splitlines()]
    assert span["name"] == "layer.work" and span["run"] == "t" and span["end"] >= span["start"]


def test_speed_probe_reads_for_its_duration_and_scales_by_it():
    t0 = time.perf_counter()
    loop_s = loop_seconds(0.2)
    assert 0.2 <= time.perf_counter() - t0 < 1.0 and loop_s > 0
    assert scale(10.0, loop_s) == pytest.approx(10.0 * REFERENCE_LOOP_S / loop_s)
    assert scale(10.0, 2 * REFERENCE_LOOP_S) == pytest.approx(5.0)


def test_event_log_costs_by_job_id_range(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}, "Memory Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 3}}},
    ]
    d = tmp_path / "app"
    d.mkdir()
    (d / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path))
    assert (jobs[0].stages, jobs[0].tasks, jobs[0].shuffle_write, jobs[0].spill) == (1, 1, 100, 5)
    both = span_costs(Span("q", 0, 1, job0=0, job1=2), jobs)
    assert (both.stages, both.tasks, both.shuffle_read, both.shuffle_write) == (2, 2, 10, 100)
    assert span_costs(Span("q", 0, 1, job0=1, job1=2), jobs).shuffle_write == 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
