"""Self-tests of the benchmark (no Spark, no database):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

from perfbench import layers, measure, run
from perfbench.trace import Tracer
from perfbench.workloads import OpResult, Workload

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.mark.parametrize("n,p", [(100, 90), (99, 89), (1000, 99), (21, 52), (20, None), (5, None)])
def test_tail_percentile_has_ten_samples_beyond(n, p):
    samples = [float(v) for v in range(1, n + 1)]
    got = measure.tail_percentile(samples)
    if p is None:
        assert got is None
        return
    assert got[0] == p
    assert sum(1 for v in samples if v > got[1]) >= 10
    # one percentile higher would leave fewer than ten beyond it
    assert n * (100 - (p + 1)) / 100 < 10


class _Flaky(Workload):
    """Op 2 raises, op 4 returns a wrong answer, a final check fails."""

    name = "flaky"
    cycle = 3

    def op(self, i):
        if i == 2:
            raise RuntimeError("injected failure")
        time.sleep(0.01)
        return OpResult(0.01, ok=i != 4)

    def finish(self):
        self.record_check(True, "fine")
        self.record_check(False, "injected mismatch")


def test_fail_ratio_counts_every_failure():
    r = run.Run("flaky", seed=1, seconds=0.05, trace=False)
    try:
        wl = _Flaky(r)
        results, attempted, failed, _ = run.closed_loop(r, wl, spark=None)
        wl.finish()
    finally:
        shutil.rmtree(r.work)
    assert attempted % wl.cycle == 0 and attempted >= 6
    assert len(results) == attempted - 1  # the raising op has no result
    assert failed == 2  # the raise and the wrong answer
    attempted, failed = attempted + wl.checks, failed + wl.check_failures
    figures = run.workload_figures("flaky", results, attempted, failed)
    assert figures["fail_ratio"] == 3 / attempted


def test_list_metrics_prints_every_benchmark_metric():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--list-metrics"],
        capture_output=True, text=True, check=True,
    ).stdout.split("\n")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = [f"{k} {m['name']} {m['unit']} {m['better']}" for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert [line for line in out if line] == want


def test_computed_metrics_match_the_benchmark_names():
    spec = run.spec()
    e2e = run.end_to_end(1.0, [OpResult(0.1, note="a"), OpResult(0.2, note="b")], 100.0)
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    per_layer = layers.layer_metrics(Tracer(enabled=True), {
        "n_ops": 1, "round_s": 0.1, "rows": [0], "pg": None,
        "op_attrs": [{}], "span_cost_s": 1e-6,
    })
    assert sorted(per_layer) == sorted(m["name"] for m in spec["per_layer"])


def test_round_is_the_sum_of_template_bests():
    results = [OpResult(lat, note=name) for name, lat in
               [("a", 2.0), ("b", 3.0), ("a", 1.0), ("b", 5.0), ("a", 9.0), ("b", 4.0)]]
    assert run.end_to_end(1.0, results, 1.0)["round_s"] == 1.0 + 3.0


def test_loop_runs_at_least_two_rounds():
    r = run.Run("flaky", seed=1, seconds=0.0, trace=False)
    try:
        wl = _Flaky(r)
        wl.op = lambda i: OpResult(0.01, note=str(i % wl.cycle))
        _, attempted, _, _ = run.closed_loop(r, wl, spark=None)
    finally:
        shutil.rmtree(r.work)
    assert attempted == run.MIN_ROUNDS * wl.cycle


class _Replaying(Workload):
    """Records what each operation would replay."""

    name = "replaying"

    def op(self, i):
        self.seen = list(self.ctx.tracer.captured_reads), list(self.ctx.tracer.captured_writes)
        return OpResult(0.01)


def test_reads_captured_before_the_loop_are_not_replayed():
    r = run.Run("replaying", seed=1, seconds=0.001, trace=True)
    try:
        wl = _Replaying(r)
        r.tracer.captured_reads.append(("{}", None, []))  # as a warm-up read leaves it
        r.tracer.captured_writes.append(("{}", None))
        no_jobs = SimpleNamespace(getJobIdsForGroup=lambda group: [])
        spark = SimpleNamespace(sparkContext=SimpleNamespace(setJobGroup=lambda *a: None,
                                                             statusTracker=lambda: no_jobs))
        run.closed_loop(r, wl, spark)
    finally:
        shutil.rmtree(r.work)
    assert wl.seen == ([], [])


def test_self_times_add_up_to_the_root():
    t = Tracer(enabled=True)
    with t.span("replay"):
        with t.span("a"):
            time.sleep(0.01)
            with t.span("b"):
                time.sleep(0.01)
        time.sleep(0.005)
    root = t.spans[0]
    assert sum(t.self_times().values()) == pytest.approx(root.dur, rel=1e-9)
    assert t.self_times()["b"] == pytest.approx(t.spans[2].dur)
