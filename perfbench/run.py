"""Benchmark entry point.

    python3 perfbench/run.py --workload {glm_path,corpus_curate}
        --seed N --seconds S --trace {0,1} [--scale {bench,smoke}]

Run from the repository root. Builds the inputs from the seed, measures for
S seconds, checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones; their
names and units are the ones BENCHMARK.json at the repository root declares
(see perfbench/README.md). A line before it, prefixed "perfbench detail:",
carries untraced per-op timings for reading.

``--record`` instead runs the workload once and stores its outputs as the
expected values (perfbench/expected/<scale>.*).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

SPEC = os.path.join(_ROOT, "BENCHMARK.json")
WORKLOADS = ("glm_path", "corpus_curate")
DATA = os.path.join(_ROOT, "perfbench", "data")
# input scale -> directory under perfbench/data (copies of the repository
# test data: TESTDATA.md, seed 42)
SCALES = {"bench": "sf0.01", "smoke": "sf0.001"}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    ap.add_argument("--record", action="store_true")
    return ap.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for the mode."""
    with open(SPEC) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _library_present() -> bool:
    return os.path.isfile(os.path.join(_ROOT, "sgdnet_spark", "__init__.py"))


def main(argv=None) -> int:
    a = _args(argv)
    if not _library_present():
        print("perfbench: sgdnet_spark not found next to perfbench/; run from the "
              "repository root", file=sys.stderr)
        return 2
    declared = declared_metrics(bool(a.trace))

    from perfbench import harness

    harness.prepare_env(os.cpu_count() or 1)

    from perfbench import context, expected
    from perfbench.workloads import corpus_curate, glm_path

    workload = {"glm_path": glm_path, "corpus_curate": corpus_curate}[a.workload]
    harness.log("imports done")
    sf_dir = os.path.join(DATA, SCALES[a.scale])
    t = time.perf_counter()
    spark = harness.start_spark()
    spark_s = time.perf_counter() - t
    harness.log(f"spark up in {spark_s:.2f}s")
    try:
        ctx = context.Ctx(spark, sf_dir, a.seed, a.seconds, bool(a.trace),
                          {} if a.record else expected.load(a.scale))
        if a.record:
            values = workload.run(ctx, record=True)
            stored = expected.load(a.scale)
            stored.update(values)
            expected.save(a.scale, stored)
            print(f"perfbench: stored {len(values)} expected values for {a.scale}")
            return 0
        e2e = workload.run(ctx, record=False)
    finally:
        harness.log("workload done")
        harness.stop_spark(spark)
        harness.log("spark stopped")

    out = ctx.out
    e2e["driver_rss_mb"] = harness.driver_peak_rss_mb()
    layers = dict(out.layers)
    layers.update(ctx.layer_metrics())
    layers["setup.spark_s"] = spark_s
    layers["setup.warm_s"] = out.detail["setup.warm_s"]
    print("perfbench detail: " + json.dumps(
        {"workload": a.workload, "seed": a.seed, "e2e": e2e, "ops": out.detail,
         "errors": out.errors[:20]}))
    # a layer idle on this workload reads 0; every end-to-end metric is
    # measured on every workload
    values = {n: layers.get(n, 0.0) for n in declared} if a.trace else e2e
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in declared.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
