"""The benchmark's own tests; they need no JVM.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import metrics as M  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402
import workloads as W  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metrics_emitted():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == worker.PER_LAYER
    assert spec["paths"] == ["perfbench"]


def test_benchmark_json_records_why_each_workload_was_chosen():
    workloads = _spec()["workloads"]
    assert [w["name"] for w in workloads] == list(W.WORKLOADS)
    assert all(w["why"].strip() and "\n" not in w["why"] for w in workloads)


def test_headline_queries_each_in_at_most_one_workload():
    from bench import HEADLINE

    ops = [op for wl in W.WORKLOADS.values() for op in wl.ops]
    headline = [op for op in ops if op in HEADLINE]
    assert len(headline) == len(set(headline)) >= 4


def _fake_ops(calls: list[str], raise_on: str = ""):
    def make(name: str, build: float, ex: float):
        def run():
            calls.append(name)
            if name == raise_on:
                raise RuntimeError("boom")
            return build, ex, True
        return name, run
    return [make("a", 0.2, 0.1), make("b", 0.1, 0.3), make("c", 0.3, 0.3)]


class _Clock:
    """Advances 0.5 s per reading."""

    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        self.t += 0.5
        return self.t


def test_end_to_end_carries_every_loop_metric():
    samples, window = M.closed_loop(_fake_ops([]), 1.0, clock=_Clock())
    e2e = M.end_to_end(samples, window, cpu_s=3.0)
    loop_metrics = set(worker.END_TO_END) - {"setup_s", "retained_mb"}
    assert loop_metrics | {"error_rate", "latency_p90_over_p50"} == set(e2e)
    assert e2e["error_rate"] == 0.0
    assert e2e["latency_p50_geomean_s"] == pytest.approx((0.3 * 0.4 * 0.6) ** (1 / 3))


def test_per_layer_carries_every_layer_metric():
    phase = dict.fromkeys(tracing.STAGE_COUNTERS, 1.0)
    phase.update(py4j_calls=10, materialize_calls=1, materialize_s=0.1, job_wall_s=0.2)
    recs = [{"op": "a", "build_s": 0.5, "exec_s": 0.5, "live_rdds": 2, "storage_mb": 1.0,
             "phases": {"build": dict(phase), "exec": dict(phase)}}]
    setup = {"session.get_session_s": 5.0, "registry.load_all_queries_s": 1.0}
    layers = worker.per_layer(recs, setup, cores=4, overhead_s=0.01)
    assert set(layers) == set(worker.PER_LAYER)
    assert layers["build.self_s"] == pytest.approx(0.3)
    assert layers["exec.core_util"] == pytest.approx(0.5)


def test_raising_op_counts_as_failed_and_the_loop_goes_on():
    calls: list[str] = []
    samples, window = M.closed_loop(_fake_ops(calls, raise_on="b"), 4.7, clock=_Clock())
    assert calls == ["a", "b", "c"] * 4  # whole cycles, never aborted
    failed = [s for s in samples if not s.ok]
    assert [s.op for s in failed] == ["b"] * 4
    assert "RuntimeError: boom" in failed[0].error
    e2e = M.end_to_end(samples, window, cpu_s=1.0)
    assert e2e["error_rate"] == pytest.approx(4 / 12)
    assert e2e["ops_per_s"] == pytest.approx(8 / window)


def test_loop_runs_at_least_min_cycles():
    calls: list[str] = []
    M.closed_loop(_fake_ops(calls), 0.1, clock=_Clock())
    assert calls == ["a", "b", "c"] * M.MIN_CYCLES


def test_wrong_fingerprint_is_caught():
    pdf = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]})
    want = W.fingerprint(pdf)
    assert W.check_fingerprint("q", pdf.iloc[::-1], want)  # row order is free
    assert not W.check_fingerprint("q", pdf.assign(v=[0.5, 1.25]), want)
    assert not W.check_fingerprint("q", pdf, {**want, "sha256": "0" * 64})


def test_recorded_fingerprints_refuse_other_tables():
    with open(W.FINGERPRINTS) as f:
        rec = json.load(f)
    for wl in W.WORKLOADS.values():
        entry = rec[f"sf{wl.sf:g}"]
        assert set(W.load_fingerprints(wl.sf, entry["digest"])) >= set(wl.ops) - {W.CLI_OP}
        with pytest.raises(RuntimeError, match="re-certify"):
            W.load_fingerprints(wl.sf, "0" * 64)


def test_kmeans_output_check(tmp_path):
    fx = os.path.join(REPO, W.FIXTURES)
    os.makedirs(tmp_path / "assignments")
    with open(os.path.join(fx, "golden_assignments.txt")) as f:
        lines = f.readlines()
    (tmp_path / "assignments" / "part-00000").write_text("".join(lines[::-1]))
    shutil.copy(os.path.join(fx, "golden_centers.txt"), tmp_path / "centers.txt")
    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        assert W.check_kmeans_output(str(tmp_path))
        (tmp_path / "assignments" / "part-00000").write_text("".join(lines[1:]))
        assert not W.check_kmeans_output(str(tmp_path))
    finally:
        os.chdir(cwd)


def test_union_of_job_intervals():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_s([]) == 0


def test_generated_tables_are_deterministic():
    import datagen

    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert datagen.digest(a) == datagen.digest(b)
    assert a["lineitem"].num_rows == 6000
