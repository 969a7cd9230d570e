"""Tests of the benchmark itself, at a tiny input scale.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, workloads  # noqa: E402

SCALE = 0.05


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace", [
    ("validate_counts", 0), ("setlevel_hotkeys", 0),
    ("operator_queries", 1), ("validate_sink_resume", 1)])
def test_smoke_run_prints_every_metric(workload, trace):
    bench = _bench_json()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not run.descendants(os.getpid())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    session = run.start_spark(work, 2, 1)
    yield session
    run.stop_spark(session)


def _prepared(cls, spark, tmp_path, seed):
    wl = cls(spark, str(tmp_path / f"{cls.name}-{seed}"), seed, SCALE, 2)
    wl.prepare()
    return wl


def test_tampered_verdict_count_is_a_failed_iteration(spark, tmp_path):
    class Tampered(workloads.ValidateCounts):
        def run(self, i):
            res = super().run(i)
            res.verdicts[0]["n_violations"] += 1
            return res

    loop = run.Loop(_prepared(workloads.ValidateCounts, spark, tmp_path, 1))
    loop.once(timed=True)
    assert loop.failed == 0
    loop = run.Loop(_prepared(Tampered, spark, tmp_path, 1))
    loop.once(timed=True)
    assert loop.failed == 1


def test_second_seed_changes_inputs_and_passes_checks(spark, tmp_path):
    a, b = inputs.sequences(3_000, 1), inputs.sequences(3_000, 2)
    assert a.equals(inputs.sequences(3_000, 1))
    assert not a.column("tokens").equals(b.column("tokens"))
    for cls in (workloads.ValidateCounts, workloads.SetlevelHotkeys,
                workloads.OperatorQueries):
        first = _prepared(cls, spark, tmp_path, 1)
        second = _prepared(cls, spark, tmp_path, 2)
        if cls is workloads.OperatorQueries:
            assert first.facts["bytes"] != second.facts["bytes"]
        else:
            assert first.expected != second.expected
            # even at a tiny scale the registry stays above the runner's
            # inline limit, so the anti-join path is what runs
            assert second.facts["registry_rows"] > \
                inputs.RUNNER_INLINE_REF_MAX
        loop = run.Loop(second)
        loop.once(timed=False)
        assert loop.failed == 0
