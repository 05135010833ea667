"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stats
from perfbench.harness import END_TO_END, PER_LAYER
from perfbench.tracer import Tracer
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentiles -----------------------------------------------------------


def test_percentile_interpolates_between_ranks():
    assert stats.percentile([4, 1, 3, 2], 50) == 2.5
    assert stats.percentile([1, 2, 3, 4, 5], 0) == 1
    assert stats.percentile([1, 2, 3, 4, 5], 100) == 5
    assert stats.percentile([7], 90) == 7


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None),
        (19, None),  # the median would have 9.5 samples beyond it
        (20, 50),
        (39, 50),
        (40, 75),
        (100, 90),
        (199, 90),
        (200, 95),
        (1000, 99),
    ],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


# -- span self time --------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    # children overlap each other and stick out of the parent on the right
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)


def test_self_time_ignores_children_outside_the_span():
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 9.0)]) == pytest.approx(1.0)
    assert stats.self_time(0.0, 2.0, []) == 2.0


def test_union_length_merges_touching_and_nested_intervals():
    assert stats.union_length([(0, 1), (1, 2), (0.5, 0.7), (5, 6)]) == pytest.approx(3.0)


def test_tracer_layer_times_report_count_total_and_self():
    tr = Tracer()
    tr.pass_index = 1
    with tr.span("queries.build"):
        with tr.span("io.scan"):
            pass
        with tr.span("io.scan"):
            pass
    times = tr.layer_times(lambda s: s.pass_index == 1)
    n, total, own = times["queries.build"]
    scans = [s for s in tr.spans if s.name == "io.scan"]
    assert n == 1 and times["io.scan"][0] == 2
    assert own == pytest.approx(total - sum(s.end - s.start for s in scans))
    assert all(s.parent == next(p.id for p in tr.spans if p.name == "queries.build") for s in scans)


def test_tracer_rebinds_names_imported_into_query_modules():
    pytest.importorskip("pyspark")
    from projectmapreduce_spark import io
    from projectmapreduce_spark.queries import llm_pipeline

    original = io.scan
    assert llm_pipeline.scan is original
    tr = Tracer()
    tr.install()
    try:
        assert io.scan is not original and llm_pipeline.scan is io.scan
        assert io.scan.__wrapped__ is original
        tr.install()  # idempotent: no wrapper around a wrapper
        assert io.scan.__wrapped__ is original
    finally:
        tr.uninstall()
    assert io.scan is original and llm_pipeline.scan is original


# -- seeded job order ------------------------------------------------------


def test_permutation_is_fixed_by_seed_and_pass():
    jobs = [f"j{i}" for i in range(8)]
    assert stats.permuted(jobs, 7, 3) == stats.permuted(jobs, 7, 3)
    assert sorted(stats.permuted(jobs, 7, 3)) == jobs
    orders = {tuple(stats.permuted(jobs, seed, p)) for seed in range(3) for p in range(3)}
    assert len(orders) > 1
    assert jobs == [f"j{i}" for i in range(8)]  # input left alone


# -- names -----------------------------------------------------------------


@pytest.mark.parametrize("name", ["pass_s", "job_s.p50", "io.scan.calls", "9lives", "a-b"])
def test_valid_names_pass(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_invalid_names_raise(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    for m in bench["end_to_end"] + bench["per_layer"]:
        stats.check_name(m["name"])
        stats.check_unit(m["unit"])
    for w in WORKLOADS.values():
        stats.check_name(w.name)
        assert len(set(w.jobs)) == len(w.jobs)


def test_quartile_spread():
    assert stats.quartile_spread([10, 10, 10, 10]) == 0
    assert stats.quartile_spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def test_every_job_is_a_registered_query_with_an_oracle():
    pytest.importorskip("pyspark")
    from projectmapreduce_spark.queries import ORACLES, QUERIES

    for w in WORKLOADS.values():
        for job in w.jobs:
            assert job in QUERIES and job in ORACLES, (w.name, job)


# -- input tables ----------------------------------------------------------


def test_generated_tables_are_the_same_in_every_run():
    from perfbench import datagen

    first, second = datagen.tables(), datagen.tables()
    assert first.keys() == second.keys()
    assert all(first[t].equals(second[t]) for t in first)
    assert {t: first[t].num_rows for t in datagen.ROWS} == datagen.ROWS


# -- JIT compiler CPU --------------------------------------------------------


def test_jit_cpu_keeps_the_time_of_compiler_threads_that_ended():
    import ctypes
    import threading
    import time

    from perfbench.counters import JitCpu

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    named, go = threading.Barrier(3, timeout=10), threading.Event()

    def burn(name: bytes) -> None:
        prctl(15, ctypes.c_char_p(name), 0, 0, 0)  # PR_SET_NAME of this thread
        named.wait()
        go.wait(10)
        end = time.thread_time() + 0.3
        while time.thread_time() < end:
            pass

    threads = [threading.Thread(target=burn, args=(n,)) for n in (b"C2 CompilerThre", b"worker")]
    for t in threads:
        t.start()
    named.wait()
    jit = JitCpu(os.getpid(), interval_s=0.02).start()
    try:
        before = jit.total_s()
        go.set()
        for t in threads:
            t.join(10)
            assert not t.is_alive()
        time.sleep(0.1)
        # Only the thread named like a compiler thread counts, and its time
        # stays after it has ended.
        assert 0.1 <= jit.total_s() - before <= 0.5
    finally:
        jit.stop()
