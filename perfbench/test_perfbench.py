"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py

The sink self-check needs the build (`python3 perfbench/build.py`, run
from the root of a checkout); the other tests are pure Python.
"""
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_sink_fails_a_query_whose_projected_column_throws():
    """The count() trap: pruning makes count() succeed on a query whose
    projected column throws; the benchmark's sink must fail it."""
    if not os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")):
        pytest.skip("run from the root of a checkout")
    cp = build.build()
    out = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData"] + build.ADD_OPENS +
                         ["-cp", cp, "perfbench.SinkCheck"],
                         capture_output=True, text=True, timeout=170).stdout
    probes = dict(line.split("=") for line in out.split() if "=" in line)
    assert probes == {"count_succeeds": "true", "sink_succeeds": "false",
                      "sink_succeeds_on_good": "true"}


def _op(phase, idx, seconds, ok=True, kind="read", name="q", passno=0):
    return layers.Op([phase, str(passno), str(idx), name, kind, "0",
                      str(int(seconds * 1e9)), "1" if ok else "0", "", "0", "0"])


def test_failed_operations_are_counted_and_left_out_of_latency():
    ops = [_op("timed", i, 1.0 + i) for i in range(30)]
    ops[3] = _op("timed", 3, 99.0, ok=False)
    s = run.summarize(ops, wrong=set(), extra_failed=0, split=False)
    assert (s["attempted"], s["failed"]) == (30, 1)
    assert s["metrics"]["failed_ratio"][0] == pytest.approx(1 / 30)
    assert s["metrics"]["latency_tail_s"][0] < 99.0
    # a wrong output counts as a failure too
    s = run.summarize(ops, wrong={("timed", 0, 5)}, extra_failed=0, split=False)
    assert s["failed"] == 2


def test_tail_has_ten_samples_beyond_it():
    lat = list(range(1, 101))
    p50, tail, q = run.percentile_stats(lat)
    assert p50 == 50.5 and tail == 90 and q == 0.9
    assert sum(1 for v in lat if v > tail) == 10


def test_small_group_has_no_tail():
    """Below 22 samples the tail would be the median or below it."""
    assert run.percentile_stats(list(range(21)))[1:] == (None, None)
    p50, tail, _ = run.percentile_stats(list(range(22)))
    assert tail == 11 and tail > p50


def test_inputs_are_deterministic_in_the_seed():
    a = workloads.query_passes(7, 20, False)
    assert a == workloads.query_passes(7, 20, False)
    assert a != workloads.query_passes(8, 20, False)
    assert all(sorted(p) == sorted(workloads.LLM_PIPELINE) for p in a)
    s1 = workloads.session_inputs(7, 20, False)
    s2 = workloads.session_inputs(7, 20, False)
    assert s1[:3] == s2[:3]


def test_session_stream_mixes_reads_and_writes_and_checks_outputs():
    setup, stream, expected, model = workloads.session_inputs(3, 20, False)
    kinds = [k for k, _, _ in stream]
    assert 0.3 < kinds.count("write") / len(kinds) < 0.7
    # every read is checked against the model
    assert all(check for k, check, _ in stream if k == "read")
    assert {i for (_, i) in expected} == {i for i, (_, c, _) in enumerate(stream) if c}
    # the model's final rows are the initial load plus the stream's effect
    ids = {r[0] for r in model.final_tables()["orders"][1]}
    assert ids and max(ids) < model.next_order
    assert model.logical_bytes() > 0


def test_interval_union_and_difference():
    assert layers.union([(0, 2), (1, 3), (5, 6)]) == [(0, 3), (5, 6)]
    assert layers.minus([(0, 10)], [(2, 3), (5, 7)]) == [(0, 2), (3, 5), (7, 10)]
    assert layers.measure(layers.clip([(0, 10)], 2, 4)) == 2


def test_row_compare_reports_the_first_difference():
    assert oracle._rows_equal([(1, "a")], [(1, "a")]) is None
    assert "row 0 col 1" in oracle._rows_equal([(1, "a")], [(1, "b")])
    assert "rows" in oracle._rows_equal([], [(1,)])
