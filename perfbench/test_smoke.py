"""Benchmark self-tests: the span arithmetic and a smoke run of every
workload on the small input scale, checked against the metric names and
units BENCHMARK.json declares.

    python3 -m pytest perfbench/test_smoke.py -q

The smoke runs start Spark once per (workload, trace) pair and take a few
minutes in total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, tracer  # noqa: E402


def _span(sid, start, end, parent, layer="x"):
    return tracer.Span(sid, f"s{sid}", layer, start, end, parent, 1)


def test_self_times_single_thread():
    """Nested spans on one thread: self = duration minus covered children."""
    spans = [
        tracer.Span(1, "op", "op", 0.0, 10.0, None, 1),
        _span(2, 1.0, 6.0, 1, "a"),
        _span(3, 2.0, 3.0, 2, "b"),
        _span(4, 4.0, 5.0, 2, "b"),
        _span(5, 7.0, 9.0, 1, "c"),
    ]
    root, layers, calls, other = tracer.summarize_op(spans)
    assert layers == pytest.approx({"a": 3.0, "b": 2.0, "c": 2.0})
    assert calls == {"a": 1, "b": 2, "c": 1}
    assert other == pytest.approx(3.0)


def test_self_times_overlapping_threads_add_up_to_wall():
    """Two pool-thread children of one span overlap: the overlap is split,
    and self times plus other_s still equal the op's wall time."""
    spans = [
        tracer.Span(1, "op", "op", 0.0, 10.0, None, 1),
        _span(2, 0.0, 10.0, 1, "a"),
        _span(3, 2.0, 6.0, 2, "b"),
        _span(4, 4.0, 8.0, 2, "c"),
    ]
    _, layers, _, other = tracer.summarize_op(spans)
    assert layers == pytest.approx({"a": 4.0, "b": 3.0, "c": 3.0})
    assert other == pytest.approx(0.0)
    assert sum(layers.values()) + other == pytest.approx(10.0)


def test_traced_wrapper_pickles_as_the_original():
    import pickle

    rec = tracer.Recorder()
    wrapped = tracer._Traced(rec, os.path.join, "os.path.join", "x")
    assert pickle.loads(pickle.dumps(wrapped)) is os.path.join


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = run.declared_metrics(bool(trace))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        # the layers each workload puts on its critical path are measured
        idle = [n for n in ACTIVE[workload] if out["metrics"][n]["value"] <= 0]
        assert not idle, f"idle on {workload}: {idle}"


ACTIVE = {
    "glm_path": ("glm.suffstats.calls", "glm.suffstats.s", "glm.path.self_s",
                 "glm.providers.local_s", "glm.sparse.s", "glm.cv.s", "glm.score.s",
                 "fit_multinomial.cpu_driver_s", "spark.jobs"),
    "corpus_curate": ("scrub.s", "queries.text_scrub.build_s", "curate.pii.exec_s",
                      "cpu.pyworker_s", "bm25.probe_s", "pq.probe_s", "bm25.probe_jobs",
                      "pq.probe_jobs", "maint.bm25_compact_s", "maint.pq_compact_s",
                      "setup.bm25_write_s", "index.pq_files"),
}
