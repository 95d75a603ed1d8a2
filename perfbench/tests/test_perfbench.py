"""Self-tests of the benchmark: input determinism, the metric list, and
sensitivity of the per-step fold and of ``wall_s`` to a step of known
cost.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pytest

from perfbench import run
from perfbench.workloads import MODE, WORKLOADS, ConvertJob

STEP_COST_S = 0.002


@pytest.fixture(scope="module")
def bench_env():
    """The benchmark's pinned environment (engine importable by the Python
    workers, temp files in the work dir), restored after the module."""
    with run.pinned_env(run.WORK):
        yield run.WORK


def busy_step(cost: float):
    """A registry step that returns its input after ``cost`` seconds of CPU.
    Built in a closure so Spark ships it to the workers by value."""

    def bench_busy(s: str) -> str:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < cost:
            pass
        return s

    return bench_busy


class _StepInserted:
    def __init__(self, cost: float):
        from patent_decision_document_converter_spark.plans.registry import REGISTRY

        self.reg, self.cost = REGISTRY, cost

    def __enter__(self):
        self.reg.insert("main", 0, busy_step(self.cost))
        return self

    def __exit__(self, *exc):
        assert self.reg.remove_at("main", 0).name == "bench_busy"


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_identical_inputs(name):
    digests = []
    for seed in (5, 5, 6):
        wl = WORKLOADS[name](run.WORK, seed, 4)  # generate() writes nothing
        wl.generate()
        digests.append(wl.input_digest())
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.per_layer()
    assert all(len(m["name"]) <= 64 for m in bench["per_layer"])


def test_step_fold_sees_an_inserted_step():
    from perfbench.trace import step_fold

    wl = ConvertJob(run.WORK, 1, 4)
    wl.generate()
    texts = wl.text_runs()[:300]
    with _StepInserted(STEP_COST_S):
        fold = step_fold(texts, MODE)
    got = fold["registry.step.main.bench_busy_s"]
    assert got == pytest.approx(len(texts) * STEP_COST_S, rel=0.2)
    assert "registry.step.main.bench_busy_s" not in step_fold(texts[:5], MODE)


class _SmallConvertJob(ConvertJob):
    N_DOCS = 800


def test_wall_rises_by_the_inserted_step_cost(bench_env):
    """The inserted step costs ``runs * cost`` CPU seconds spread over the
    cores, so a call's wall should rise by about ``runs * cost / cores``.
    Calls with and without the step alternate, so JIT warm-up and host
    noise fall on both sides alike."""
    wl = _SmallConvertJob(os.path.join(bench_env, "sensitivity"), 1, run.nproc())
    base, slow = [], []
    spark = None
    try:
        spark, _ = run.setup(wl, 1)
        for k in range(4):
            ok, dt = run._call(wl, spark, 2 * k)
            assert ok
            base.append(dt)
            with _StepInserted(STEP_COST_S):
                ok, dt = run._call(wl, spark, 2 * k + 1)
            assert ok
            slow.append(dt)
    finally:
        run.shutdown(spark)
    delta = statistics.median(slow) - statistics.median(base)
    expected = len(wl.text_runs()) * STEP_COST_S / wl.cores
    assert 0.5 * expected < delta < 2.0 * expected, (delta, expected, base, slow)
