"""Per-run state: timed ops, the optional traced iterations, and the
reduction of both into the metrics run.py prints."""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import harness, tracer

# Layer -> the public functions and methods wrapped in the traced run.
# Hot scalar helpers called inside solver loops (solvers.soft_threshold,
# suffstats.xcols/ycols) are left out: wrapping them would measure the
# wrapper.
TARGETS: dict[str, list[tuple[str, str]]] = {
    "glm.sgdnet": [
        ("sgdnet_spark.glm.sgdnet", "sgdnet"),
        ("sgdnet_spark.glm.sgdnet", "SgdnetFit.predict"),
        ("sgdnet_spark.glm.sgdnet", "SgdnetFit.predict_np"),
        ("sgdnet_spark.glm.sgdnet", "SgdnetFit.coef"),
    ],
    "glm.suffstats": [
        ("sgdnet_spark.glm.suffstats", n) for n in (
            "assemble", "moments_jvm", "moments_and_gram", "moments_diag",
            "gradient_gaussian", "cov_vec", "gradient_binomial", "gradient_poisson",
            "gradient_multinomial", "weighted_quadratic", "multinomial_class_stats",
            "weighted_quadratic_multinomial_all", "collect_xy",
            "validate_weights_offsets",
        )
    ],
    "glm.path": [
        ("sgdnet_spark.glm.path", n) for n in (
            "gaussian_path", "mgaussian_path", "gaussian_path_fista",
            "binomial_path_fista", "multinomial_path_fista", "binomial_path",
            "poisson_path", "multinomial_path",
        )
    ],
    "glm.solvers": [
        ("sgdnet_spark.glm.solvers", n)
        for n in ("enet_cd_gram", "group_cd_gram", "wls_enet_cd", "log_space")
    ],
    "glm.providers.local": [
        ("sgdnet_spark.glm.providers", f"LocalXY.{n}") for n in (
            "moments_diag", "moments", "set_standardization", "gradient_gaussian",
            "cov_vec", "grad_binomial", "grad_poisson", "grad_multinomial",
            "irls_binomial", "irls_poisson", "poisson_null_intercept",
            "irls_multinomial_all",
        )
    ],
    "glm.providers.spark": [
        ("sgdnet_spark.glm.providers", f"SparkXY.{n}") for n in (
            "cache", "unpersist", "moments", "set_standardization", "moments_diag",
            "irls_binomial", "irls_poisson", "poisson_null_intercept",
            "gradient_gaussian", "irls_multinomial_all", "cov_vec", "grad_binomial",
            "grad_poisson", "grad_multinomial", "to_local",
        )
    ],
    "glm.sparse": [
        ("sgdnet_spark.glm.sparse", n) for n in (
            "assemble_sparse", "moments_diag_sparse", "sgdnet_sparse",
            "predict_sparse", "score_sparse", "cv_sgdnet_sparse",
        )
    ] + [
        ("sgdnet_spark.glm.sparse", f"SparseSparkXY.{n}") for n in (
            "cache", "unpersist", "moments_diag", "moments", "set_standardization",
            "gradient_gaussian", "cov_vec", "grad_binomial", "grad_multinomial",
            "moments_diag_onehot",
        )
    ],
    "glm.cv": [("sgdnet_spark.glm.cv", "cv_sgdnet"), ("sgdnet_spark.glm.cv", "summarize_cv")],
    "glm.score": [
        ("sgdnet_spark.glm.score", n)
        for n in ("score", "score_np", "auc_distributed", "auc_path_distributed", "eta_expr")
    ],
    "streaming": [
        ("sgdnet_spark.streaming.bm25_stream", f"Bm25StreamServer.{n}")
        for n in ("probe", "refresh")
    ] + [
        ("sgdnet_spark.streaming.ann_stream", f"PqStreamServer.{n}")
        for n in ("probe", "refresh")
    ],
    "operators.bm25": [
        ("sgdnet_spark.operators.bm25", n) for n in (
            "bm25_topk", "bm25_topk_indexed", "write_bm25_index", "append_bm25_index",
            "delete_from_bm25_index", "compact_bm25_index",
        )
    ],
    "operators.pq": [
        ("sgdnet_spark.operators.pq", n) for n in (
            "_topk_indexed_with_model", "write_pq_index", "append_pq_index",
            "delete_from_pq_index", "compact_pq_index", "load_codebooks",
        )
    ],
    "operators.maintenance": [
        ("sgdnet_spark.operators.maintenance", n)
        for n in ("compact_partitioned", "recover_partitioned", "read_tombstones")
    ],
}

# Layer -> per-layer metric name for its self time. Besides the library
# layers, "queries" is the umbrella/sub-entry builder call and "exec" the
# benchmark's forcing action (hash or collect), both spanned by the
# benchmark itself.
LAYER_METRICS = {
    "glm.sgdnet": "glm.sgdnet.s",
    "glm.suffstats": "glm.suffstats.s",
    "glm.path": "glm.path.self_s",
    "glm.solvers": "glm.solvers.s",
    "glm.providers.local": "glm.providers.local_s",
    "glm.providers.spark": "glm.providers.spark_s",
    "glm.sparse": "glm.sparse.s",
    "glm.cv": "glm.cv.s",
    "glm.score": "glm.score.s",
    "streaming": "streaming.s",
    "operators.bm25": "operators.bm25.s",
    "operators.pq": "operators.pq.s",
    "operators.maintenance": "operators.maintenance.s",
    "queries": "queries.s",
    "exec": "exec.s",
}


def is_split(op_name: str) -> bool:
    """A dotted op name (``scrub.pii``) is a traced-only re-run of one
    stage of its umbrella op, timed alone to split the umbrella by stage.
    It is not part of the iteration the workload defines."""
    return "." in op_name


@dataclass
class OpRecord:
    name: str
    iteration: int
    wall: float
    traced: bool
    ok: bool
    cpu: dict[str, float] | None = None
    jobs: dict[str, int] | None = None
    layers: dict[str, float] = field(default_factory=dict)
    calls: dict[str, int] = field(default_factory=dict)
    other: float = 0.0
    spans: list = field(default_factory=list)


class Ctx:
    def __init__(self, spark, sf_dir: str, seed: int, seconds: int, trace: bool,
                 expected: dict):
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.expected = expected
        self.out = harness.Outcome()
        self.rec = tracer.Recorder()
        self.patches = tracer.Patches(self.rec, TARGETS) if trace else None
        self.jobs = harness.JobCounter(spark) if trace else None
        self.ops: list[OpRecord] = []
        self.iteration = -1  # -1 = warm-up / set-up, not reported

    # ---------------------------------------------------------------- ops

    def set_traced(self, on: bool) -> None:
        """Install or remove the wrappers (traced runs only)."""
        if self.patches is None or on == self.rec.enabled:
            return
        if on:
            self.patches.install()
        else:
            self.patches.remove()
        self.rec.enabled = on

    def op(self, name: str, fn, *args, **kwargs):
        """Run one op; returns (ok, result). An exception counts as a
        failed op and is reported, never raised."""
        traced = self.rec.enabled
        self.out.attempted += 1
        c0 = harness.cpu_sample()
        token = self.jobs.begin(name) if traced else None
        if traced:
            self.rec.begin_op(name)
        t0 = time.perf_counter()
        ok, res = True, None
        try:
            res = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            ok = False
            self.out.fail((self.iteration, name), f"{type(e).__name__}: {str(e)[:300]}")
        wall = time.perf_counter() - t0
        rec = OpRecord(name, self.iteration, wall, traced, ok)
        if traced:
            root = self.rec.end_op()
            rec.wall = root.end - root.start
        rec.cpu = harness.cpu_delta(c0, harness.cpu_sample())
        if traced:
            rec.jobs = self.jobs.end(token)
            rec.spans = [s for s in self.rec.spans if s.op == root.sid]
            self.rec.spans = [s for s in self.rec.spans if s.op != root.sid]
            _, rec.layers, rec.calls, rec.other = tracer.summarize_op(rec.spans)
        if self.iteration >= 0:
            self.ops.append(rec)
        return ok, res

    def setup_op(self, name: str, fn, *args, **kwargs):
        """Run one set-up op (outside the timed loop); it counts as
        attempted and a failure counts as failed. Returns (ok, result,
        wall seconds)."""
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            res, ok = fn(*args, **kwargs), True
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            res, ok = None, False
            self.out.fail((-1, name), f"{type(e).__name__}: {str(e)[:300]}")
        return ok, res, time.perf_counter() - t0

    def span(self, name: str, layer: str, fn, *args, **kwargs):
        """A benchmark-side child span inside the current op."""
        return self.rec.call(name, layer, fn, args, kwargs)

    def check(self, ok: bool, op: str, what: str) -> None:
        """An output check of ``op`` in the current iteration; a failure
        marks that op failed."""
        self.out.check_at(self.iteration, op, ok, what)

    # ---------------------------------------------------------- reduction

    def op_walls(self, name: str, traced: bool = False) -> list[float]:
        return [o.wall for o in self.ops if o.name == name and o.ok and o.traced == traced]

    def traced_ops(self) -> list[OpRecord]:
        return [o for o in self.ops if o.traced]

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics from the traced ops: medians over traced
        iterations of per-iteration sums. Split ops (see ``is_split``)
        repeat work their umbrella op already did, so they are left out."""
        per_iter: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for o in self.traced_ops():
            if is_split(o.name):
                continue
            acc = per_iter[o.iteration]
            for layer, secs in o.layers.items():
                acc[LAYER_METRICS.get(layer, f"{layer}.s")] += secs
            acc["glm.suffstats.calls"] += o.calls.get("glm.suffstats", 0)
            for role, secs in o.cpu.items():
                acc[f"cpu.{role}_s"] += secs
            for kind, n in (o.jobs or {}).items():
                acc[f"spark.{kind}"] += n
        names = set(LAYER_METRICS.values()) | {"glm.suffstats.calls"} | {
            f"cpu.{r}_s" for r in harness.ROLES} | {
            f"spark.{k}" for k in ("jobs", "stages", "tasks")}
        return {n: harness.median(acc.get(n, 0.0) for acc in per_iter.values())
                for n in sorted(names)} if per_iter else dict.fromkeys(sorted(names), 0.0)

    def op_detail(self, name: str) -> dict[str, float]:
        """``<op>.other_s`` and the CPU split of one op, medians over its
        traced runs."""
        ops = [o for o in self.traced_ops() if o.name == name]
        return {
            f"{name}.other_s": harness.median(o.other for o in ops),
            f"{name}.cpu_driver_s": harness.median(o.cpu["driver"] for o in ops),
            f"{name}.cpu_exec_s": harness.median(
                o.cpu["jvm"] + o.cpu["pyworker"] for o in ops),
        }
