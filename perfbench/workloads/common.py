"""Closed-loop driver shared by the glm_path and corpus_curate workloads."""

from __future__ import annotations

import time

from perfbench import harness


def closed_loop(ctx, iteration, warm_up) -> dict[str, float]:
    """An untimed warm-up (code generation, JIT, worker start), then
    iterations back to back until ``ctx.seconds`` have passed. In a traced
    run the odd iterations are traced and the even ones are not, so both
    sides of ``trace.overhead_ratio`` come from the same run; it runs at
    least two iterations.

    Returns the end-to-end metrics of the untraced iterations. ``iter_s``
    and ``cpu_s`` sum, over the ops of one iteration, each op's median
    across iterations: a slow outlier of one op in one iteration does not
    move them, and the statistic does not depend on whether the window
    held an odd or even number of iterations."""
    ctx.iteration = -1
    t = time.perf_counter()
    warm_up()
    ctx.out.detail["setup.warm_s"] = time.perf_counter() - t
    setup_s = harness.process_age()
    harness.log("warm-up done")
    untraced_walls: list[float] = []
    i = 0
    steal0 = harness.cpu_ticks()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds or (ctx.trace and i < 2):
        ctx.iteration = i
        traced = ctx.trace and i % 2 == 1
        ctx.set_traced(traced)
        t = time.perf_counter()
        iteration()
        if not traced:
            untraced_walls.append(time.perf_counter() - t)
        ctx.set_traced(False)
        i += 1
    ctx.iteration = -1
    harness.log(f"timed loop done: {i} iterations")
    steal1 = harness.cpu_ticks()
    ctx.out.detail["iter_walls"] = [round(w, 3) for w in untraced_walls]
    # noise yardstick for readers: host CPU time stolen during the window
    ctx.out.detail["host_steal_pct"] = round(
        100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2)

    def per_op(traced: bool, value) -> dict[str, float]:
        ops = [o for o in ctx.ops if o.traced == traced and o.ok]
        return {n: harness.median(value(o) for o in ops if o.name == n)
                for n in dict.fromkeys(o.name for o in ops)}

    wall = per_op(False, lambda o: o.wall)
    if ctx.trace:
        # same ops on both sides; traced-only ops (per-stage splits) excluded
        traced = per_op(True, lambda o: o.wall)
        common = [n for n in wall if n in traced]
        ctx.out.layers["trace.overhead_ratio"] = (
            sum(traced[n] for n in common) / sum(wall[n] for n in common))
    return {
        "setup_s": setup_s,
        "iter_s": sum(wall.values()),
        "cpu_s": sum(per_op(False, lambda o: sum(o.cpu.values())).values()),
    }
