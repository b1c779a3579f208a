"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run starts a ``local[4]`` Spark
session, generates the workload's input from ``--seed``, runs the first
(cold) execution and untimed warm-up executions, then repeats the timed
execution for about ``--seconds``, checking every output against a DuckDB
reference. With ``--trace 1`` it alternates untraced and layer-by-layer
traced executions instead and reports per-layer metrics. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}.
Scratch files live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

LAYER_SPANS = ("spark.scan", "sources.transcripts", "operators.grouping", "streaming.job", "streaming.sink")
PER_LAYER = (
    [f"{s}.s" for s in LAYER_SPANS]
    + ["spark.scan.rows"]
    + [f"sources.transcripts.{k}" for k in ("exchanges", "exchange_bytes", "sort_ms")]
    + [f"operators.grouping.{k}" for k in
       ("exchanges", "exchange_bytes", "agg_ms", "joins", "spill_bytes", "rows_in", "rows_out")]
    + [f"streaming.{layer}.{k}" for layer in ("binding", "pipeline") for k in
       ("state_rows_peak", "state_bytes_peak", "commit_ms", "update_ms", "dropped_late")]
    + ["streaming.binding.pairs_dropped_vs_batch"]
    + [f"streaming.job.{k}" for k in
       ("batches", "query_planning_s", "wal_commit_s", "commit_offsets_s", "latest_offset_s", "add_batch_s")]
    + ["streaming.sink.commits", "streaming.sink.rows", "jvm.gc_s", "jvm.plan_s", "trace.overhead_s"]
    + ["wall.turns_per_s", "wall.microbatch_p50_s"]
)
END_TO_END = ("turns_per_cpu_s", "setup_s", "peak_rss_mb")


def _unit(name: str) -> str:
    if name.endswith(("_bytes", "_bytes_peak")):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith((".s", "_s")):
        return "s"
    return "count"


def _measure(spark, seconds: float, runs: list, run_fn, min_runs: int = 1) -> list:
    """Repeat ``run_fn`` at least ``min_runs`` times and then until the
    execution boundary nearest to ``seconds``: another execution starts only
    if, lasting as long as the last one, it ends closer to ``seconds`` than
    stopping now. The number of executions thus follows from their length,
    not from where the deadline falls within one; later executions of a
    workload run cheaper (JIT), so a count that varies from run to run
    would move the median. Returns (execution, layer metrics) pairs; every
    execution, failed or not, is also appended to ``runs``."""
    from workloads import Execution

    out = []
    t0, last_s = time.perf_counter(), 0.0
    while len(out) < min_runs or time.perf_counter() - t0 + last_s / 2 < seconds:
        start = time.perf_counter()
        try:
            ex = run_fn(spark)
        except Exception as e:  # a raising execution is counted, not fatal
            traceback.print_exc()
            ex = Execution(float("nan"), [f"{type(e).__name__}: {e}"])
        last_s = time.perf_counter() - start
        ex, layers = ex if isinstance(ex, tuple) else (ex, {})
        runs.append(ex)
        out.append((ex, layers))
    return out


def _completed(pairs) -> list:
    """Executions that ran to the end; their output check may have failed,
    which the result reports, but their wall time is measured."""
    done = [ex for ex, _ in pairs if not math.isnan(ex.wall_s)]
    if not done:
        raise RuntimeError("every execution raised: " + "; ".join(pairs[-1][0].errors))
    return done


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.abspath(".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)


def _run(args, base: str, work: str) -> int:
    import session
    import sqlmetrics
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    spark = session.start(work)
    try:
        session_s = time.perf_counter() - t0
        workload.prepare(spark, work, args.seed)
        runs: list = []
        (cold,) = _completed(_measure(spark, 0, runs, workload.execute))
        # executions keep getting cheaper for several repetitions after the
        # cold one (JIT), so untimed executions come first: a fixed number,
        # so that a slow host does not shorten the warm-up, and at least a
        # third of --seconds; they are checked and counted, but not timed
        _measure(spark, args.seconds / 3, runs, workload.execute, workload.warmup_runs)
        steal0 = tracing.cpu_ticks()
        self_test: list[str] = []
        if args.trace:
            self_test = sqlmetrics.self_test(spark, work)
            untraced, spans = [], []

            def pair(s):
                # untraced and traced executions alternate, so that both see
                # the same JIT and cache state
                untraced.append(workload.execute(s))
                runs.append(untraced[-1])
                tracer = tracing.Tracer()
                ex, m = workload.execute_traced(s, tracer)
                m.update({f"{k}.s": v for k, v in tracer.self_times().items() if k in LAYER_SPANS})
                spans[:] = [tracer]
                return ex, m

            gc0 = tracing.jvm_gc_s(spark)
            traced = _measure(spark, args.seconds, runs, pair)
            gc_s = (tracing.jvm_gc_s(spark) - gc0) / len(traced)
            timed = _completed([(ex, {}) for ex in untraced])
            metrics = _per_layer(traced, timed, gc_s)
            metrics.update({f"wall.{k}": v for k, v in _wall_metrics(workload, timed).items()})
            spans[0].write(os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            timed = _completed(_measure(spark, args.seconds, runs, workload.execute))
            cpu_s = statistics.median(ex.cpu_s for ex in timed)
            metrics = {
                "turns_per_cpu_s": (workload.turns / cpu_s, "1/cpu_s"),
                "setup_s": (session_s + cold.wall_s, "s"),
                "peak_rss_mb": (tracing.jvm_peak_rss_mb(spark), "MB"),
            }
            metrics = _wall_metrics(workload, timed) | metrics
        steal = [b - a for a, b in zip(steal0, tracing.cpu_ticks())]
    finally:
        try:
            workload.close()
        finally:
            session.stop(spark)
    failed = sum(1 for ex in runs if ex.errors)
    for err in ([e for ex in runs for e in ex.errors] + self_test)[:5]:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed} turns={workload.turns} executions={len(runs)} "
        f"error_frac={failed / len(runs):.4f} samples={len(timed)} "
        f"cpu_steal={steal[0] / max(steal[1], 1):.3f} "
        + " ".join(f"{k}={v:.6g}({u})" for k, (v, u) in metrics.items())
        + " cpus=" + ",".join(f"{ex.cpu_s:.2f}" for ex in timed)
        + " walls=" + ",".join(f"{ex.wall_s:.2f}" for ex in runs)
    )
    declared = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0 and not self_test,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if k in declared},
    }
    print(json.dumps(result))
    return 0


def _wall_metrics(workload, timed) -> dict:
    """Wall-clock throughput and micro-batch latency of the timed
    executions; a batch workload's whole backfill is its one batch."""
    walls = [ex.wall_s for ex in timed]
    batch_s = [b for ex in timed for b in ex.batch_s] or walls
    return {
        "turns_per_s": (workload.turns / statistics.median(walls), "1/s"),
        "microbatch_p50_s": (statistics.median(batch_s), "s"),
    }


def _per_layer(traced, untraced, gc_s) -> dict:
    """Median over the traced executions of every per-layer metric; layers
    the workload does not run read 0."""
    values: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    for _, m in traced:
        for k, v in m.items():
            values[k].append(v)
    out = {k: (statistics.median(v) if v else 0.0, _unit(k)) for k, v in values.items()}
    out["jvm.gc_s"] = (gc_s, "s")
    overhead = statistics.median(ex.wall_s for ex in _completed(traced)) - statistics.median(
        ex.wall_s for ex in untraced
    )
    out["trace.overhead_s"] = (overhead, "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
