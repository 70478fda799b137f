"""Lakehouse benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 25 --trace 0

Run from the repository root. One client issues each operation after
the previous one completes, on ``local[min(4, nproc)]``. Set-up (session
start, seeded staging, a warm-up round) is timed apart from the measured
phase. The measured phase is a fixed number of rounds, sized from
``--seconds`` and the workload's nominal round time (``round_count``).
Every output is checked, and a wrong or failed operation counts in
``failed``.

The last line of stdout is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
whose odd rounds are traced (the even, untraced rounds give the tracing
overhead). A human-readable report, including each workload's own
latency figures with their sample counts, goes to stderr. See
``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = min(4, len(os.sched_getaffinity(0)))
SETUP_REPS = 3
DRIVER_HEAP = "1g"
WORKLOADS = {
    "medallion_batch": ("medallion", "Medallion"),
    "table_commits": ("commits", "Commits"),
    "query_mix": ("querymix", "QueryMix"),
}
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MiB",
}
SPARK_LAYER = {
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


def per_layer_units(workload: str) -> dict[str, str]:
    """Every per-layer metric of a workload with its unit. The workloads
    BENCHMARK.json lists all report the same set, 0 where one does not
    exercise the layer; ``query_mix``, which it does not list, adds its
    ``registry`` and ``query`` layers."""
    units = {
        "sources.read_s": "s",
        "plans.pipeline.bronze_s": "s",
        "plans.pipeline.silver_s": "s",
        "plans.pipeline.gold_s": "s",
        "operators.sinks.bytes_written": "bytes",
        "operators.sinks.files_written": "count",
        "operators.catalog.register_s": "s",
    }
    for kind in ("append", "merge", "delete", "optimize", "read", "time_travel", "scan", "snapshot"):
        units[f"operators.txnlog.{kind}_s"] = "s"
    units.update(
        {
            "operators.txnlog.log_files_replayed": "count",
            "operators.txnlog.files_per_scan": "count",
            "spark.tasks_per_read": "count",
            "operators.txnlog.rows_rewritten_per_row_changed": "ratio",
            "operators.txnlog.bytes_data_written": "bytes",
            "operators.txnlog.bytes_log_written": "bytes",
        }
    )
    units.update(SPARK_LAYER)
    units["trace.overhead_share"] = "ratio"
    if workload == "query_mix":
        from querymix import QUERIES

        units["registry.plan_s"] = "s"
        units.update({f"query.{q}_s": "s" for q in QUERIES})
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def round_count(seconds: float, nominal_round_s: float, traced: bool) -> int:
    """Rounds in the measured phase: as many as last ``seconds`` at the
    workload's nominal round time (its warm round on 4 cores of a
    2.0 GHz Xeon), at least one. The count depends on the arguments
    alone, never on the clock: warm rounds keep getting faster for a
    minute or more (JIT), so a phase cut by time would do more, faster
    rounds on a fast minute of a shared host and fewer, slower ones on a
    slow minute, and its median would amplify the host's drift. A fixed
    count also gives a change and its parent the same work to do.
    A traced run has at least three rounds, so a traced round sits
    between two untraced ones."""
    return max(3 if traced else 1, round(seconds / nominal_round_s))


def prepare_environment(work: str) -> None:
    """Everything the engine's processes inherit comes from here:
    Python workers (pandas UDFs) import the package through PYTHONPATH,
    and Spark's and the JVM's scratch files stay inside ``work``."""
    for sub in ("spark-local", "tmp", "derby", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP


def start_session(work: str):
    from data_lakehouse_project_spark import get_spark

    # a fixed, pre-touched heap: peak RSS then does not depend on when
    # the collector chose to grow the heap (heap pressure shows in GC time)
    java_opts = (
        f"-Dderby.system.home={os.path.join(work, 'derby')} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Duser.timezone=UTC "
        f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        shuffle_partitions=SLOTS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            # stage totals (CPU time, spill) are read from the status
            # store, which must keep every stage of the run
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, work: str) -> dict:
    import importlib

    from common import gmean, median, vm_hwm_mb
    from harness import Run
    from tracing import counter_delta, executor_counters

    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(module), cls)()

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.seed, SLOTS)
        staging = []
        for rep in range(SETUP_REPS):
            root = os.path.join(work, f"setup-{rep}")
            t0 = time.perf_counter()
            workload.stage(run, root)
            staging.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(root)
        t0 = time.perf_counter()
        workload.warm(run)
        warm_s = time.perf_counter() - t0

        run.timed = True
        before = executor_counters(spark)
        t0 = time.perf_counter()
        rounds = round_count(args.seconds, workload.nominal_round_s, bool(args.trace))
        for i in range(rounds):
            # with --trace 1, odd rounds are traced and even rounds give
            # the untraced baseline for the tracing overhead
            run.round(workload.round, traced=bool(args.trace) and i % 2 == 1)
        timed_s = time.perf_counter() - t0
        shuffle = counter_delta(executor_counters(spark), before)["shuffle_write_bytes"]
        state = workload.end_state(run)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    finally:
        stop_session(spark)

    write_amp = (state["bytes_written"] + shuffle / rounds) / state["input_bytes"]
    untraced = run.samples[False]
    e2e = {
        "setup_s": session_s + median(staging) + warm_s,
        "round_s": median(run.round_s[False]),
        "op_p50_s": gmean([median(v) for v in untraced.values() if v]),
        "rows_per_s": run.rows / timed_s,
        "write_amp": write_amp,
        "space_amp": state["disk_bytes"] / state["live_bytes"],
        "peak_rss_mb": peak_rss,
    }
    out = {
        "run": run,
        "workload": workload,
        "rounds": rounds,
        "timed_s": timed_s,
        "setup": {"session_s": session_s, "staging_s": staging, "warm_s": warm_s},
        "state": state,
        "e2e": e2e,
    }
    if args.trace:
        out["layers"] = layer_metrics(run, workload)
    return out


def layer_metrics(run, workload) -> dict:
    from common import median

    traced_rounds = len(run.round_s[True])
    layers = run.tracer.layer_totals()
    metrics = dict.fromkeys(per_layer_units(workload.name), 0.0)
    metrics.update(workload.layer_metrics(run, layers, traced_rounds))
    # a layer the traced rounds never entered has no median: report 0
    metrics = {k: 0.0 if math.isnan(v) else v for k, v in metrics.items()}
    c = run.counters
    metrics.update(
        {
            "spark.tasks": c["tasks"] / traced_rounds,
            "spark.executor_run_s": c["executor_run_ms"] / 1e3 / traced_rounds,
            "spark.cpu_busy_ratio": c["cpu_ns"] / 1e9 / (c["wall_ms"] / 1e3 * SLOTS),
            "spark.gc_s": c["gc_ms"] / 1e3 / traced_rounds,
            "spark.shuffle_write_bytes": c["shuffle_write_bytes"] / traced_rounds,
            "spark.spill_bytes": c["spill_bytes_disk"] / traced_rounds,
            # the first round still carries residual warm-up, so the
            # untraced baseline is the untraced rounds after it
            "trace.overhead_share": median(run.round_s[True]) / median(run.round_s[False][1:]) - 1,
        }
    )
    return metrics


def report(args, res) -> None:
    run, e2e = res["run"], res["e2e"]
    lines = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{res['rounds']} rounds in {res['timed_s']:.2f} s, slots={SLOTS}",
        f"  set-up: session {res['setup']['session_s']:.3f} s, staging "
        + ", ".join(f"{s:.3f}" for s in res["setup"]["staging_s"])
        + f" s, warm-up {res['setup']['warm_s']:.3f} s",
    ]
    for name, unit in END_TO_END.items():
        lines.append(f"  {name:<28} {e2e[name]:.6g} {unit}")
    for name, (value, unit, n) in res["workload"].report(run).items():
        lines.append(f"  {name:<28} {value:.6g} {unit} (n={n})")
    error_rate = run.failed / max(1, run.attempted)
    lines.append(f"  {'error_rate':<28} {error_rate:.6g} ({run.failed}/{run.attempted})")
    lines.append("  end state: " + json.dumps(res["state"], sort_keys=True))
    if args.trace:
        for name, value in res["layers"].items():
            lines.append(f"  {name:<52} {value:.6g}")
    print("\n".join(lines), file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import data_lakehouse_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)
    try:
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run = res["run"]
    report(args, res)
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            {"counters": dict(run.counters), "metrics": res["layers"], "end_to_end": res["e2e"]},
        )
        units = per_layer_units(args.workload)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in res["e2e"].items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
