"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 16 --trace 0

Run from the repository root. ``setup_s`` covers the session start, data
generation, ingest and index builds; the checked warm-up that follows is
not timed. Everything the run writes goes under a
per-run directory in ``.perfbench_tmp/`` that is removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it, prefixed
``perfbench detail``, carries the workload's own named figures.
Exits 1 after the result when an output check fails or a measured call
raised, and without a result when the run itself fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402

WORKLOADS = ("ann_serve", "corpus_batch")
E2E_UNITS = {"setup_s": "s", "calls_per_s": "1/s", "class_p50_geomean_ms": "ms",
             "cpu_ms_per_call": "ms"}


@dataclass
class Context:
    spark: object
    rundir: str
    seed: int
    cores: int
    tracer: object = None


def make_workload(name: str, ctx: Context):
    if name == "corpus_batch":
        from perfbench.corpus import CorpusBatch

        return CorpusBatch(ctx)
    from perfbench.ann import AnnServe

    return AnnServe(ctx)


def run(args, rundir: Path) -> dict:
    pins = harness.pin_environment(rundir)
    t_setup = time.perf_counter()
    spark, session_s = harness.start_session(rundir, event_log=bool(args.trace))
    try:
        ctx = Context(spark, str(rundir), args.seed, harness.host_cores())
        if args.trace:
            from perfbench.layers import TracedRun

            traced = TracedRun(ctx, session_s)
        wl = make_workload(args.workload, ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        wl.warm_up()
        before = harness.resource_counts(rundir)
        cpu0 = harness.tree_cpu_s()
        if args.trace:
            loop = traced.measure(wl, args.seconds)
        else:
            loop = harness.closed_loop(
                wl.next_op, wl.cycle, harness.cycles_for(args.seconds, wl.cycle_s))
        cpu_s = harness.tree_cpu_s() - cpu0
        after = harness.resource_counts(rundir)
        problems = wl.check()
        if loop.failed:
            problems.append(f"{loop.failed} of {loop.attempted} measured calls raised")
        detail = wl.detail(loop)
        if args.trace:
            metrics, units = traced.finish(wl, loop, before, after)
    finally:
        jvm_pid = _jvm_pid(spark)
        peak = harness.peak_rss_mb(jvm_pid)
        harness.stop_session(spark)
    if args.trace:
        metrics.update(traced.after_stop(peak))
    else:
        metrics = {"setup_s": setup_s, **harness.loop_metrics(loop),
                   "cpu_ms_per_call": cpu_s * 1000.0 / max(1, loop.attempted - loop.failed)}
        units = E2E_UNITS
    for cls, err in loop.errors.items():
        print(f"perfbench failure in {cls}:\n{err}", file=sys.stderr)
    for p in problems[:20]:
        print(f"perfbench check failed: {p}", file=sys.stderr)
    detail.update(harness.pooled_latency(loop), loop_cpu_s=cpu_s)
    detail.update(tmp_dirs_delta=after["tmp_dirs"] - before["tmp_dirs"],
                  memo_entries=after["memo_entries"],
                  memo_growth=after["memo_entries"] - before["memo_entries"])
    detail.update(session_start_s=session_s, setup_s=setup_s, loop_s=loop.wall_s,
                  attempted=loop.attempted, failed=loop.failed,
                  ops_failed_frac=loop.failed / loop.attempted,
                  problems=len(problems), env=pins)
    print("perfbench detail " + json.dumps({args.workload: detail}, default=float))
    return {
        "correct": not problems,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _jvm_pid(spark):
    try:
        return int(spark._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured time, as whole cycles of the workload's call mix "
                         "at its nominal cycle time on 4 cores")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    rundir = harness.RUNS_PARENT / f"run-{os.getpid()}"
    cwd = os.getcwd()
    try:
        result = run(args, rundir)
    finally:
        os.chdir(cwd)
        harness.remove_rundir(rundir)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
