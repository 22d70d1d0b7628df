"""corpus_curate: LLM-data curation and index serving over the document
corpus, as one closed loop with a single caller.

One iteration builds and hash-forces the text_scrub umbrella, then answers
one micro-batch of lexical and one of dense top-k queries from the BM25
and IVF-PQ indexes written in set-up (see serving.py). Outputs are forced
by ``SUM(xxhash64(all columns))``, not count(), so no computed column can
be pruned. In the traced iterations each text_scrub fold stage is also
built and forced alone, which splits the umbrella by stage.
"""

from __future__ import annotations

import os

from perfbench import harness
from perfbench.workloads.common import closed_loop
from perfbench.workloads.serving import Serving

UMBRELLA = "text_scrub"
# The umbrella took 19, 7.0, 6.1, 5.2, 5.3 and 5.3 s in its first six
# passes in one run: it is steady from the fourth.
WARM_SCRUB_PASSES = 3


def _build_and_force(ctx, label: str, build):
    df = ctx.span(f"queries.{label}", "queries", build)
    return ctx.span("exec", "exec", harness.hash_force, df)


def run(ctx, record: bool) -> dict[str, float]:
    from sgdnet_spark import queries as Q

    scrub = {tag: sub for tag, sub, _, _ in Q._TEXT_SCRUB_FOLD}
    hashes: dict[str, str] = {}
    serving = None if record else Serving(ctx, os.path.join(harness.WORK, "index"))

    def stage(tag: str, sub: str, op_name: str):
        def build():
            return Q.SUBQUERIES[sub](ctx.spark, ctx.sf_dir)

        ok, h = ctx.op(op_name, _build_and_force, ctx, sub, build)
        if ok:
            hashes[op_name] = h

    def scrub_pass():
        hashes.clear()
        ok, h = ctx.op("scrub", _build_and_force, ctx, UMBRELLA,
                       lambda: Q.QUERIES[UMBRELLA](ctx.spark, ctx.sf_dir))
        if ok:
            hashes["scrub"] = h
        if ctx.rec.enabled or record:
            for tag, sub in scrub.items():
                stage(tag, sub, f"scrub.{tag}")
        if not record:
            for name, h in hashes.items():
                want = ctx.expected.get(f"curate.{name}")
                ctx.check(h == want, name, f"output hash {h} != expected {want}")

    def iteration():
        scrub_pass()
        if serving is not None:
            serving.probe_round()

    def warm_up():
        # cold umbrella passes (JVM code generation and JIT, Python worker
        # start), then the indexes (maintained in traced runs only), one
        # probe round
        for _ in range(WARM_SCRUB_PASSES):
            scrub_pass()
        if serving is not None:
            serving.setup(maintain=ctx.trace)
            serving.probe_round()

    e2e = closed_loop(ctx, iteration, warm_up)
    if record:
        _validate_with_duckdb(ctx, scrub)
        return {f"curate.{k}": v for k, v in hashes.items()}
    serving.check()
    _serving_layers(ctx, serving)
    ctx.out.detail["scrub_s"] = harness.median(ctx.op_walls("scrub"))
    ctx.out.layers["scrub.s"] = harness.median(ctx.op_walls("scrub", traced=True))
    ctx.out.layers.update(ctx.op_detail("scrub"))
    # build/exec split: the builder call (including any eager stage work
    # it does) and the hash action, from the traced spans
    split: dict[str, list[float]] = {}
    for o in ctx.traced_ops():
        if o.name == "scrub":
            prefix = f"queries.{UMBRELLA}"
        elif o.name.startswith("scrub."):
            prefix = f"curate.{o.name.split('.', 1)[1]}"
        else:
            continue
        for part, layer in (("build_s", "queries"), ("exec_s", "exec")):
            split.setdefault(f"{prefix}.{part}", []).append(
                sum(s.end - s.start for s in o.spans if s.layer == layer))
    ctx.out.layers.update({k: harness.median(v) for k, v in split.items()})
    return e2e


def _serving_layers(ctx, serving) -> None:
    """Probe metrics: traced walls and Spark job counts per probe (the
    job count should not depend on the batch), batch sizes served."""
    layers = ctx.out.layers
    for op, kind in (("bm25_probe", "bm25"), ("pq_probe", "pq")):
        ctx.out.detail[f"{op}_s"] = harness.median(ctx.op_walls(op))
        layers[f"{kind}.probe_s"] = harness.median(ctx.op_walls(op, traced=True))
        jobs = [o.jobs["jobs"] for o in ctx.traced_ops() if o.name == op and o.jobs]
        layers[f"{kind}.probe_jobs"] = harness.median(jobs)
        ctx.out.detail[f"{kind}.probe_jobs_all"] = jobs
        layers.update(ctx.op_detail(op))
    layers["serve.batch_queries"] = harness.median(
        [len(a[1]) for a in serving.answers] + [len(a[3]) for a in serving.answers])


def _validate_with_duckdb(ctx, scrub) -> None:
    """Before hashes are stored, compare every output that has a SQL twin
    with DuckDB on the same files, row for row (the repository's oracle
    check). Stages whose oracle is golden constants for the repository
    test data have no twin here; their hashes are stored as produced."""
    import duckdb

    from sgdnet_spark import queries as Q
    from sgdnet_spark.testing import canonical_rows

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{ctx.sf_dir}/documents.parquet'")
    checks = [(sub, Q.SUBQUERIES[sub], Q.SUBORACLES.get(sub)) for sub in scrub.values()
              if sub not in Q.GOLDEN]
    checks.append((UMBRELLA, Q.QUERIES[UMBRELLA], Q.ORACLES.get(UMBRELLA)))
    for name, fn, sql in checks:
        if sql is None:
            continue
        df = fn(ctx.spark, ctx.sf_dir)
        got = canonical_rows(df.columns, [tuple(r) for r in df.collect()])
        res = con.execute(sql)
        want = canonical_rows([d[0] for d in res.description], res.fetchall())
        if got != want:
            raise RuntimeError(f"{name}: Spark output differs from its DuckDB oracle")
        print(f"record: {name} matches its DuckDB oracle ({len(got)} rows)", flush=True)
