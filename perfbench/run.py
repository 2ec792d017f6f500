"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|lifecycle --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the same workload with
engine wrappers and the Spark event log on and reports the per-layer
metrics instead. ``--smoke`` shrinks every workload to about 2k docs.

Output: a ``perfbench report`` line (the workload's own metrics with
units, including ``failed_frac``), a ``perfbench diagnostics`` line
(steal, container CPU, tracing overhead, reconciliation), and as the
last line the result object. Exit code 0 only when every operation
succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import traceback

sys.dont_write_bytecode = True

from harness import (  # noqa: E402
    ROOT, WORK, Run, cpu_s, perf, prepare_env, start_session, steal_s, stop_session,
)

RECONCILE_LIMIT = 0.10
DEADLINE_S = 170


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (about 2k docs); checks that the benchmark runs")
    return ap.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, frame):
    # unwind through the finally blocks: stop the JVM, remove the run dir
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import elasticsearch_osmosis_plugin_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    try:
        prepare_env(run_dir)
        return _measure(args, spec, run_dir)
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, spec, run_dir: str) -> int:
    from layers import Tracer, install_engine_wrappers, per_layer, read_event_log
    from workloads import WORKLOADS

    ncpu = len(os.sched_getaffinity(0))
    ev_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    tracer = Tracer() if args.trace else None
    steal0, cpu0, t0 = steal_s(), cpu_s(), perf()
    spark = start_session(run_dir, ncpu, ev_dir)
    session_s = perf() - t0
    run = Run(spark, run_dir, args.seed, args.seconds, args.smoke, tracer)
    run.setup["session_s"] = session_s
    crashed = None
    try:
        if tracer is not None:
            install_engine_wrappers(tracer)
        WORKLOADS[args.workload](run)
    except Exception:
        crashed = traceback.format_exc()
        print(crashed, file=sys.stderr)
        run.failed += 1
        run.attempted = max(run.attempted, 1)
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)

    setup_s = sum(run.setup.values())
    run.e2e["setup_s"] = setup_s
    named = {"setup_s": (setup_s, "s"), **run.named}
    diag = {"workload": args.workload, "seed": args.seed, "smoke": args.smoke,
            "trace": args.trace, "ncpu": ncpu,
            "steal_s": steal_s() - steal0, "container_cpu_s": cpu_s() - cpu0,
            "wall_s": perf() - t0, "setup": run.setup,
            "op_walls_s": {k: {"n": len(v), "sum": sum(v), "max": max(v)}
                           for k, v in run.walls.items()}}
    result_key = f"{args.workload}-{args.seed}-{'smoke' if args.smoke else 'full'}"
    results_dir = os.path.join(os.path.dirname(run_dir), "results")

    if args.trace:
        metrics_spec = spec["per_layer"]
        values = {}
        if crashed is None:
            values = per_layer(run, tracer, read_event_log(ev_dir))
            for key in ("trace.serve_reconcile_err", "trace.build_reconcile_err"):
                run.attempted += 1
                run.expect(values[key] <= RECONCILE_LIMIT,
                           f"{key}={values[key]:.3f} exceeds {RECONCILE_LIMIT}")
        diag["missing_wrappers"] = tracer.missing
        diag["spans"] = len(tracer.spans)
        diag["trace_overhead"] = _overhead(results_dir, result_key, run.e2e)
    else:
        metrics_spec = spec["end_to_end"]
        values = run.e2e
        if crashed is None and run.failed == 0:
            os.makedirs(results_dir, exist_ok=True)
            with open(os.path.join(results_dir, result_key + ".json"), "w") as f:
                json.dump(run.e2e, f)

    missing = [m["name"] for m in metrics_spec if m["name"] not in values]
    if missing and crashed is None:
        run.attempted += 1
        run.expect(False, f"metrics not measured: {missing}")
    named["failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
    diag["failures"] = run.failures[:20]
    print("perfbench report " + json.dumps(
        {"workload": args.workload,
         "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}))
    print("perfbench diagnostics " + json.dumps(diag))
    correct = crashed is None and run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics_spec if m["name"] in values},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def _overhead(results_dir: str, key: str, traced: dict) -> dict | str:
    """Traced minus untraced value per end-to-end metric, against the
    last untraced run of the same workload, seed and size."""
    path = os.path.join(results_dir, key + ".json")
    if not os.path.exists(path):
        return "no untraced run of this workload and seed to compare with"
    with open(path) as f:
        base = json.load(f)
    return {k: traced[k] - base[k] for k in base if k in traced}


if __name__ == "__main__":
    sys.exit(main())
