"""glm_path: the paper's surface — regularization paths per family, CV and
scoring — as one closed loop with a single caller.

One iteration runs, in this order: a gaussian elastic-net path, a binomial
path, a multinomial path, a sparse path over hashed token features, a
5-fold CV over two alphas (folds drawn from the seed), and predict + score
on the gaussian fit at an off-path lambda.
"""

from __future__ import annotations

import numpy as np

from perfbench import harness
from perfbench.workloads.common import closed_loop

FITS = ("fit_gaussian", "fit_binomial", "fit_multinomial", "fit_sparse")
OPS = FITS + ("cv", "score")
SPARSE_P = 1024

# Tolerances of the repository's own tests for the same comparisons:
# gaussian spark-vs-local (tests/test_gaussian.py), binomial parity
# (tests/test_binomial.py, also used for multinomial), sparse-vs-dense
# (tests/test_sparse_glm.py), distributed-vs-numpy score
# (tests/test_predict_score_cv.py).
TOL = {
    "fit_gaussian": {"lambdas": (1e-12, 0.0), "a0": (1e-8, 1e-10), "beta": (1e-8, 1e-10)},
    "fit_binomial": {"lambdas": (1e-6, 1e-9), "a0": (1e-6, 1e-9), "beta": (1e-6, 1e-9)},
    "fit_multinomial": {"lambdas": (1e-6, 1e-9), "a0": (1e-6, 1e-9), "beta": (1e-6, 1e-9)},
    "fit_sparse": {"lambdas": (1e-9, 0.0), "a0": (0.0, 1e-4), "beta": (0.0, 1e-5)},
}
SCORE_RTOL = 1e-9

# CV fold ids come from one of these fold seeds, picked by the workload
# seed. The expected CV selection for each is stored with the benchmark,
# certified at record time against the per-fold refit path (the slow
# reference costs more than a whole run, so it cannot run every time).
CV_FOLD_SEEDS = (101, 102, 103, 104)


def fold_seed(seed: int) -> int:
    return CV_FOLD_SEEDS[seed % len(CV_FOLD_SEEDS)]


def _cv(ff, feats, seed: int, use_fold_moments: bool = True):
    import sgdnet_spark.glm as G

    return G.cv_sgdnet(ff, feats, "y", family="gaussian", alpha=[0.5, 1.0], nfolds=5,
                       seed=seed, nlambda=50, use_fold_moments=use_fold_moments)


def _frames(ctx):
    from pyspark.sql import functions as F

    from sgdnet_spark import queries as Q
    from sgdnet_spark.operators.features import hashed_token_features_sparse

    ff = Q.feature_frame(ctx.spark, ctx.sf_dir)
    ffb = ff.withColumn("y_r", (F.col("l_returnflag") == "R").cast("double"))
    docs = ctx.spark.read.parquet(f"{ctx.sf_dir}/documents.parquet")
    sp = hashed_token_features_sparse(docs, n_features=SPARSE_P, keep_cols=["n_chars"])
    sp = sp.withColumn("n_chars", F.col("n_chars").cast("double"))
    return ff, ffb, sp, Q.FEATURE_NAMES


def _off_path_s(fit) -> float:
    """A lambda strictly between two path points (exercises interpolation)."""
    return float(np.sqrt(fit.lambdas[9] * fit.lambdas[10]))


def _predict_and_score(ctx, fit, ff, feats):
    from pyspark.sql import functions as F

    import sgdnet_spark.glm as G

    s = _off_path_s(fit)
    pred = fit.predict(ff, s=s, prefix="pred")
    row = ctx.span("exec", "exec", lambda: pred.select(
        F.sum(F.xxhash64(*pred.columns).cast("decimal(38,0)")), F.avg("pred")).collect()[0])
    mse = G.score(fit, ff, feats, "y", "mse", s=s)
    mae = G.score(fit, ff, feats, "y", "mae", s=s)
    return float(row[1]), float(np.ravel(mse)[0]), float(np.ravel(mae)[0])


def run(ctx, record: bool) -> dict[str, float]:
    import sgdnet_spark.glm as G

    ff, ffb, sp, feats = _frames(ctx)
    last: dict[str, object] = {}

    def iteration(warm_up: bool = False):
        ok, fit = ctx.op("fit_gaussian", G.sgdnet, ff, feats, "y", family="gaussian",
                         alpha=0.5, nlambda=50)
        last["fit_gaussian"] = fit if ok else None
        ok, f = ctx.op("fit_binomial", G.sgdnet, ffb, feats, "y_r", family="binomial",
                       alpha=0.5, nlambda=30, lambda_min_ratio=1e-2)
        last["fit_binomial"] = f if ok else None
        if not warm_up:
            ok, f = ctx.op("fit_multinomial", G.sgdnet, ff, feats, "l_returnflag",
                           family="multinomial", alpha=1.0, nlambda=20, lambda_min_ratio=1e-2)
            last["fit_multinomial"] = f if ok else None
        ok, f = ctx.op("fit_sparse", G.sgdnet_sparse, sp, "indices", "values", "n_chars",
                       p=SPARSE_P, alpha=1.0, nlambda=20, lambda_min_ratio=0.05)
        last["fit_sparse"] = f if ok else None
        if not warm_up:
            ok, cv = ctx.op("cv", _cv, ff, feats, fold_seed(ctx.seed))
            last["cv"] = cv if ok else None
        last["score"] = None
        if last["fit_gaussian"] is not None:  # else fit_gaussian already failed
            ok, sc = ctx.op("score", _predict_and_score, ctx, last["fit_gaussian"], ff, feats)
            last["score"] = sc if ok else None
        if not record:
            _check(ctx, last)

    # The warm-up leaves out the multinomial fit and the CV: cold, they
    # ran about 5% slower than warm once the other fits had warmed the
    # shared Spark code, against 2-6x for the ops it keeps.
    e2e = closed_loop(ctx, iteration, lambda: iteration(warm_up=True))
    if record:
        return _record(last, ff, feats)
    for name in OPS:
        ctx.out.detail[f"{name}_s"] = harness.median(ctx.op_walls(name))
        ctx.out.layers[f"{name}.s"] = harness.median(ctx.op_walls(name, traced=True))
        ctx.out.layers.update(ctx.op_detail(name))
    return e2e


def _check(ctx, last) -> None:
    exp = ctx.expected
    for name in FITS:
        fit = last.get(name)
        if fit is None:
            continue
        for field, (rtol, atol) in TOL[name].items():
            want = exp.get(f"{name}.{field}")
            got = np.asarray(getattr(fit, field))
            ctx.check(want is not None and got.shape == want.shape
                      and np.allclose(got, want, rtol=rtol, atol=atol),
                      name, f"{field} differs from the stored expected values")
    sc = last.get("score")
    if sc is not None:
        for key, got in zip(("pred_mean", "mse", "mae"), sc):
            want = exp.get(f"score.{key}")
            ctx.check(want is not None and np.isclose(got, want, rtol=SCORE_RTOL, atol=0.0),
                      "score", f"{key} = {got!r}, expected {want!r}")
    cv = last.get("cv")
    if cv is not None:
        fs = fold_seed(ctx.seed)
        for key in CV_KEYS:
            want = exp.get(f"cv.{fs}.{key}")
            ctx.check(want is not None and bool(np.isclose(getattr(cv, key), want)),
                      "cv", f"{key} = {getattr(cv, key)!r} for fold seed {fs}, expected {want!r}")


# compared as tests/test_predict_score_cv.py compares the fold-moment CV
# with the refit CV
CV_KEYS = ("alpha_min", "lambda_min", "lambda_1se")


def _record(last, ff, feats) -> dict:
    out: dict = {}
    for fs in CV_FOLD_SEEDS:
        fast, slow = _cv(ff, feats, fs), _cv(ff, feats, fs, use_fold_moments=False)
        for key in CV_KEYS:
            a, b = getattr(fast, key), getattr(slow, key)
            if not np.isclose(a, b):
                raise RuntimeError(f"fold seed {fs}: cv {key} {a!r} (fold moments) "
                                   f"!= {b!r} (refit)")
            out[f"cv.{fs}.{key}"] = float(a)
    for name in FITS:
        fit = last[name]
        for field in ("lambdas", "a0", "beta"):
            out[f"{name}.{field}"] = np.asarray(getattr(fit, field), dtype=np.float64)
    for key, v in zip(("pred_mean", "mse", "mae"), last["score"]):
        out[f"score.{key}"] = v
    return out
