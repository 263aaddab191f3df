"""The engine's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload ingest_ticks --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. Builds a Spark
session on ``local[nproc]``, generates the workload's inputs from the
seed, sets up, runs one untimed warm-up op, then runs a closed loop with
one client for ``--seconds``,
checks every output and prints, as the last line of standard output,
``{"correct", "attempted", "failed", "metrics"}``. The line before it
stamps the environment (nproc, Spark/Java/Python versions, session
confs, seed).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half the
time untraced and half traced, then one untraced and one traced op of each
other workload at smoke size (their outputs checked too), so every
per-layer metric is reported on every workload; it also
writes the spans to ``.perfbench_out/``. Exits 1 when an output check
fails and 2 when the engine package is not there.
"""

from __future__ import annotations

import argparse
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "global_market_index_etl_spark" / "__init__.py"


def workloads():
    from perfbench import curation, ingest, market, quotes

    return {
        "ingest_ticks": (ingest.IngestTicks, market.FULL, market.SMOKE),
        "quotes_queries": (quotes.QuotesQueries, market.FULL, market.SMOKE),
        "curation_batch": (curation.CurationBatch, curation.FULL, curation.SMOKE),
    }


def end_to_end(loop, setup_s: float, rss: float) -> dict:
    from perfbench.harness import metric

    return {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(rss, "MB"),
        "op_p50_s": metric(statistics.median(loop.latencies), "s"),
        "work_per_s": metric(loop.units / loop.elapsed_s, "1/s"),
    }


def per_layer(spark, name, wl, args, work, session_s):
    """Run the traced half and the probes; returns (metrics, loop results).
    The probes' ops and failed output checks count in the loop results."""
    from perfbench.harness import LoopResult, metric, timed_loop
    from perfbench.trace import JobWindow, Tracer

    table = workloads()
    half = args.seconds / 2
    window = JobWindow(spark, "untraced")
    with window.active():
        plain = timed_loop(wl.op, half, prepare=wl.before_op)
    tracer = Tracer(spark, name)
    traced = timed_loop(lambda: wl.traced_op(tracer), half, prepare=wl.before_op)
    layers = dict(wl.layer_metrics(tracer, window, len(plain.latencies)))
    probe_ops = probe_failed = 0
    for other, (cls, _, smoke) in table.items():
        if other == name:
            continue
        probe = cls(spark, work / other, args.seed, smoke)
        (work / other).mkdir(parents=True, exist_ok=True)
        probe.setup()
        probe_window = JobWindow(spark, other)
        with probe_window.active():
            probe.before_op()
            probe.op()
        tracer.workload = other
        probe.probe(tracer)
        probe_ops += 2
        probe_failed += min(2, probe.check())
        layers.update(probe.layer_metrics(tracer, probe_window, 1))
    tracer.workload = name
    tracer.write(ROOT / ".perfbench_out" / f"trace-{name}-seed{args.seed}.jsonl")
    overhead = (statistics.median(traced.latencies) / statistics.median(plain.latencies) - 1
                if plain.latencies and traced.latencies else 0.0)
    failed_tasks = sum(s["failed_tasks"] for s in tracer.spans) + window.collect()["failed_tasks"]
    layers.update({
        "session.start_s": (session_s, "s"),
        "tracing.overhead_ratio": (overhead, "ratio"),
        "spark.failed_tasks": (failed_tasks, "count"),
    })
    merged = LoopResult(latencies=plain.latencies + traced.latencies,
                        units=plain.units + traced.units,
                        attempted=plain.attempted + traced.attempted + probe_ops,
                        failed=plain.failed + traced.failed + probe_failed,
                        elapsed_s=plain.elapsed_s + traced.elapsed_s,
                        steal_s=plain.steal_s + traced.steal_s)
    return {k: metric(v, u) for k, (v, u) in layers.items()}, merged


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's self-test")
    args = ap.parse_args(argv)
    if not PACKAGE.is_file():
        print(f"engine package not found at {PACKAGE.parent}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import (emit, metric, peak_rss_mb, prepare_environment,
                                   stamp, start_session, stop_session, timed_loop)

    table = workloads()
    if args.workload not in table:
        print(f"unknown workload {args.workload!r}; one of {sorted(table)}", file=sys.stderr)
        return 2
    cls, full, smoke = table[args.workload]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work, ROOT)
    spark, session_s = start_session(work)
    try:
        wl = cls(spark, work, args.seed, smoke if args.size == "smoke" else full)
        t0 = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()  # JIT and Python worker start-up
        warm_s = time.perf_counter() - t0
        setup_s = session_s + inputs_s + warm_s
        if args.trace:
            metrics, loop = per_layer(spark, args.workload, wl, args, work, session_s)
        else:
            loop = timed_loop(wl.op, args.seconds, prepare=wl.before_op)
        attempted = loop.attempted
        t0 = time.perf_counter()
        failed = loop.failed + min(wl.check(), attempted - loop.failed)
        print(f"phases: session {session_s:.1f}s, setup {inputs_s:.1f}s, "
              f"warm-up {warm_s:.1f}s, loop {loop.elapsed_s:.1f}s "
              f"(CPU steal {loop.steal_s:.1f}s), "
              f"check {time.perf_counter() - t0:.1f}s, "
              f"op latencies {[round(x, 2) for x in loop.latencies]}", file=sys.stderr)
        rss_python, rss_jvm = peak_rss_mb(spark)
        if args.trace:
            metrics["failed_ops_ratio"] = metric(failed / attempted, "ratio")
        else:
            metrics = end_to_end(loop, setup_s, rss_python + rss_jvm)
        env = stamp(spark, args.workload, args.seed, bool(args.trace))
        env.update(loop_cpu_steal_s=loop.steal_s, peak_rss_mb_python=rss_python,
                   peak_rss_mb_jvm=rss_jvm)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work directory is still there
            pass
    correct = failed == 0
    emit(correct, attempted, failed, metrics, env)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
