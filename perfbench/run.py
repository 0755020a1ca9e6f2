"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one driver process on ``local[nproc]``
(``PERFBENCH_CPUS`` overrides) as a closed loop: one caller, each timed
operation starting after the previous one ends, until ``--seconds`` have
passed and the workload's operation set is complete. Set-up (session
start and input generation) is repeated and timed on its own; one
untimed warm-up pass then compiles the operation's plans, once per JVM.
Every operation's output is checked against an expected result computed
once per seed outside the timed region. Each report records the host's
steal share over the run and marks the run ``contended`` above
``harness.CONTENDED_STEAL_FRAC``.

The last stdout line is the result object. With ``--trace 0`` its metrics
are the end-to-end metrics. With ``--trace 1`` the loop runs traced
(Spark event log on, spans around every layer call), then untraced, each
for at least ``trace_min_ops`` operations, and the metrics are the
per-layer metrics. The line before it is
the full report (run context, workload-named metrics, per-layer
breakdown), also written under ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness as H  # noqa: E402
from perfbench.wl_analytics import Analytics  # noqa: E402
from perfbench.wl_crawl import CrawlBulk  # noqa: E402

SETUP_REPS = 3
WORKLOADS = {w.name: w for w in (CrawlBulk, Analytics)}


def measure(wl, spark, expected, seconds: float, tracer=None, min_ops: int = 1):
    """Closed loop of timed operations, for ``seconds`` and at least
    ``min_ops`` operations. Blocks created by an operation are released
    after it; the inputs set-up persisted are kept."""
    keep = H.persistent_rdd_ids(spark)
    ops, attempted, failed = [], 0, 0
    t0 = time.perf_counter()
    while (
        time.perf_counter() - t0 < seconds
        or attempted < min_ops
        or not wl.complete(attempted)
    ):
        attempted += 1
        span = tracer.span("op", label=f"{wl.name}/op") if tracer else nullcontext()
        try:
            with span:
                r = wl.op(spark, expected)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        finally:
            H.release_new_blocks(spark, keep)
        if r["correct"]:
            ops.append(r)
        else:
            print(f"{wl.name}: operation output failed its check", file=sys.stderr)
            failed += 1
    return ops, attempted, failed


def setup_repeated(wl, reps: int):
    """Set up once cold (starting the JVM), then ``reps`` times more in
    the running JVM; returns the live session, the cold set-up's seconds
    and each warm set-up's seconds."""
    spark, times = None, []
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = H.start_session(H.cpus())
        wl.setup(spark)
        times.append(time.perf_counter() - t0)
    return spark, times[0], times[1:]


def warmup(wl, spark) -> float:
    t0 = time.perf_counter()
    wl.warmup(spark)
    return time.perf_counter() - t0


def end_to_end(wl, seed: int, seconds: float) -> tuple[dict, dict]:
    load_before, cpu_before = os.getloadavg()[0], H.cpu_times()
    spark, setup_cold_s, setup_times = setup_repeated(wl, SETUP_REPS)
    warmup_s = warmup(wl, spark)
    t0 = time.perf_counter()
    expected = wl.expected(spark)
    expected_s = time.perf_counter() - t0
    ops, attempted, failed = measure(wl, spark, expected, seconds)
    if not ops:
        raise RuntimeError(f"{wl.name}: no operation completed correctly")
    summary = wl.summarize(ops)
    report = {
        "context": H.run_context(spark, wl.name, seed, wl.sizes()),
        "setup_cold_s": setup_cold_s,
        "setup_s_each": setup_times,
        "setup_s": H.median(setup_times),
        "warmup_s": warmup_s,
        "expected_s": expected_s,
        "jvm_peak_rss_mb": H.jvm_peak_rss_mb(spark),
        "attempted": attempted,
        "failed": failed,
        "ops_failed_frac": failed / attempted,
        "op_wall_s": [op["wall_s"] for op in ops],
        **summary,
    }
    spark.stop()
    report["context"]["loadavg_1m_before"] = load_before
    report["context"]["loadavg_1m_after"] = os.getloadavg()[0]
    report["context"].update(H.host_load(cpu_before, H.cpu_times()))
    return report, {"attempted": attempted, "failed": failed}


# step_s_p50 and jvm_peak_rss_mb stay in the report only: their spread
# over ten seeds reached 0.36 (step_s_p50, on a contended host) and 0.25
# (peak RSS under G1's heap sizing), wider than any allowed bound.
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.jobs_per_step": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.no_task_frac": "fraction",
    "trace.overhead_frac": "fraction",
    "trace.ops_untraced": "count",
    "trace.ops_traced": "count",
}


def untraced_loop(wl, expected, seconds: float):
    """A fresh untraced session in the JVM the traced session warmed up:
    set-up, then the timed loop of at least ``trace_min_ops`` operations.
    (A warm-up here would add a crawl to a run that must end in 180 s; on
    a 4-CPU host the first crawl of a fresh session in a warm JVM took
    10.0 s against 8.9 s for the second, and 9.7-9.9 s after a warm-up.)"""
    spark = H.start_session(H.cpus())
    wl.setup(spark)
    result = measure(wl, spark, expected, seconds, min_ops=wl.trace_min_ops)
    spark.stop()
    return result


def traced(wl, seed: int, seconds: float) -> tuple[dict, dict]:
    """The loop traced, then untraced, each in its own session, measuring
    for half of ``seconds`` and at least ``trace_min_ops`` operations.
    The traced session comes first and runs the warm-up, so it runs in
    the colder JVM and ``trace.overhead_frac`` leans high rather than low.
    The traced session then runs the workload's layer probes under their
    own spans, and its event log is read."""
    from perfbench import eventlog
    from perfbench.trace import Tracer

    load_before, cpu_before = os.getloadavg()[0], H.cpu_times()
    marks = [time.perf_counter()]
    part = seconds / 2
    log_dir = os.path.join(H.WORK_DIR, "eventlog", f"{wl.name}-seed{seed}")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = H.start_session(H.cpus(), event_log_dir=log_dir)
    tracer = Tracer(spark)
    with tracer.span("setup", label=f"{wl.name}/setup"):
        wl.setup(spark)
    with tracer.span("expected", label=f"{wl.name}/expected"):
        expected = wl.expected(spark)
    with tracer.span("warmup", label=f"{wl.name}/warmup"):
        wl.warmup(spark)
    wl.patch_layers(tracer)
    try:
        ops, attempted, failed = measure(wl, spark, expected, part, tracer, wl.trace_min_ops)
    finally:
        tracer.unpatch()
    if not ops:
        raise RuntimeError(f"{wl.name}: no traced operation completed correctly")
    marks.append(time.perf_counter())
    layers = wl.trace_layers(spark, tracer, ops)
    checks = layers.pop("checks", {})
    context = H.run_context(spark, wl.name, seed, wl.sizes())
    spark.stop()
    marks.append(time.perf_counter())
    base_ops, base_attempted, base_failed = untraced_loop(wl, expected, part)
    marks.append(time.perf_counter())
    if not base_ops:
        raise RuntimeError(f"{wl.name}: no untraced operation completed correctly")
    attempted += base_attempted + len(checks)
    failed += base_failed + sum(not ok for ok in checks.values())
    layers.update(wl.trace_extra(layers))
    marks.append(time.perf_counter())

    (log_path,) = glob.glob(os.path.join(log_dir, "*"))
    rows = eventlog.summarize(log_path, tracer.spans)
    op_rows = eventlog.rollup(rows, f"{wl.name}/op")
    layers.update(wl.from_event_log(rows, layers))
    n_ops, n_steps = len(ops), wl.steps(ops)
    base_rate = wl.summarize(base_ops)["throughput_per_s"]
    per_layer = {
        "spark.jobs": op_rows["jobs"] / n_ops,
        "spark.jobs_per_step": op_rows["jobs"] / n_steps,
        "spark.tasks": op_rows["tasks"] / n_ops,
        "spark.executor_run_s": op_rows["executor_run_s"] / n_ops,
        "spark.executor_cpu_s": op_rows["executor_cpu_s"] / n_ops,
        "spark.gc_s": op_rows["gc_s"] / n_ops,
        "spark.shuffle_read_bytes": op_rows["shuffle_read_bytes"] / n_ops,
        "spark.shuffle_write_bytes": op_rows["shuffle_write_bytes"] / n_ops,
        "spark.spill_bytes": op_rows["spill_bytes"] / n_ops,
        "spark.no_task_frac": rows[f"{wl.name}/op"]["no_task_frac"],
        "trace.overhead_frac": base_rate / wl.summarize(ops)["throughput_per_s"] - 1.0,
        "trace.ops_untraced": len(base_ops),
        "trace.ops_traced": n_ops,
    }
    context["loadavg_1m_before"] = load_before
    context["loadavg_1m_after"] = os.getloadavg()[0]
    context.update(H.host_load(cpu_before, H.cpu_times()))
    report = {
        "context": context,
        # wall seconds of each part of the traced run
        "part_s": dict(zip(
            ("traced_loop", "layer_probes", "untraced_loop", "extra_probes"),
            (b - a for a, b in zip(marks, marks[1:])),
        )),
        "per_layer": per_layer,
        "layers": layers,
        "checks": checks,
        "span_self_times": tracer.self_times(),
        "span_calls": tracer.calls,
        "lazy_note": (
            "spans marked lazy only build a plan; their execution is "
            "counted in the next eager span (local_ckpt, ordered_seq_counted, "
            "commit_wave or the op's own materialization)"
        ),
        "event_log_by_label": rows,
        "op_wall_s_untraced": [op["wall_s"] for op in base_ops],
        "op_wall_s_traced": [op["wall_s"] for op in ops],
    }
    return report, {"attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        H.prepare_process()
    except H.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    # the generators take seeds in [0, 2**31); any integer maps into it
    wl = WORKLOADS[args.workload](args.seed % 2**31)
    try:
        if args.trace:
            report, counts = traced(wl, args.seed, args.seconds)
            metrics = {k: {"value": report["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            report, counts = end_to_end(wl, args.seed, args.seconds)
            metrics = {k: {"value": report[k], "unit": u} for k, u in E2E.items()}
    finally:
        wl.cleanup()
        H.shutdown_jvm()
    name = f"{args.workload}-{'trace' if args.trace else 'e2e'}-seed{args.seed}.json"
    H.write_json(os.path.join(H.WORK_DIR, "results", name), report)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
