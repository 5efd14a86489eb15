"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout: the package is imported from there
and every file the run writes stays under `.perfbench/` there (inputs are
cached by seed and size in `.perfbench/cache`; the rest is removed at the
end). With `--trace 0` the result holds the end-to-end metrics; with
`--trace 1` the per-layer metrics, from span wrappers and the Spark event
log. Failed operations and failed correctness checks are counted in
`failed`; `correct` is false when any occurred.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aqueduct_core_spark", "__init__.py")):
        print("run from the root of a source checkout: aqueduct_core_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of Python and of the JVMs inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData " + os.environ.get("JAVA_TOOL_OPTIONS", "")
    try:
        result = run_workload(args, work, os.path.join(base, "cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_workload(args, work: str, cache: str) -> dict:
    import metrics
    import tracing
    from harness import Run, Session, peak_rss_mb, process_cpu_s, steal_and_total_ticks

    run = Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
              work=work, cache=cache)
    tracer = tracing.Tracer() if run.trace else None
    from workloads import WORKLOADS

    steal0, ticks0 = steal_and_total_ticks()
    t_inputs = time.perf_counter()
    wl = WORKLOADS[args.workload](run, tracer)  # input generation: not set-up
    phases = {"inputs": time.perf_counter() - t_inputs}
    session = Session(work, run.trace)
    try:
        starts = [session.start() for _ in range(SETUP_REPEATS)]
        phases["sessions"] = sum(starts)
        spark = session.spark
        if tracer is not None:
            tracer.install()
        t0 = time.perf_counter()
        wl.prepare(spark)
        phases["prepare"] = time.perf_counter() - t0
        setup_s = statistics.median(starts) + phases["prepare"]

        t0 = time.perf_counter()
        e2e = wl.measure(args.seconds)
        phases["measure"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.check()
        phases["check"] = time.perf_counter() - t0
        layers = wl.layers() if tracer is not None else {}
        rss = peak_rss_mb(session.jvm_pid()) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        cpu_s = process_cpu_s(session.jvm_pid()) + time.process_time()
        app_id = spark.sparkContext.applicationId
    finally:
        if tracer is not None:
            tracer.uninstall()
        session.stop()

    if tracer is None:
        values = {"setup_s": setup_s, "peak_rss_mb": rss, **e2e}
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
    else:
        values = traced_layers(tracer, session, app_id, layers, work)
        values["harness.session_start_s"] = starts[0]
        units = {n: u for n, u, _, _ in metrics.PER_LAYER}
    # how busy the machine was: the driver's and Python's CPU time, and the
    # share of all CPU time the hypervisor gave to other machines
    steal1, ticks1 = steal_and_total_ticks()
    print("phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
          + f", cpu {cpu_s:.1f}s, steal {(steal1 - steal0) / max(ticks1 - ticks0, 1):.1%}",
          file=sys.stderr)
    print("wall: " + ", ".join(f"{k} {v:.3f}s" for k, v in wl.wall.items()), file=sys.stderr)
    for f in run.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    return {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        # a per-layer metric of a layer the workload does not exercise is 0
        "metrics": {n: {"value": float(values[n] if tracer is None else values.get(n, 0.0)),
                        "unit": u} for n, u in units.items()},
    }


def traced_layers(tracer, session, app_id: str, layers: dict, work: str) -> dict:
    import metrics
    import tracing

    spans = tracer.spans
    tracing.attribute_worker_spans(spans)
    log = tracing.event_log_file(session.event_log_dir, app_id)
    jobs = tracing.parse_event_log(log) if log else []
    tracing.attribute_jobs(jobs, spans)
    out = metrics.layer_metrics(spans, jobs, layers.pop("_units", 0),
                                layers.pop("_events", 0), layers.pop("_live_bytes", 0))
    out.update(layers)
    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{app_id}.jsonl"))
    return out


if __name__ == "__main__":
    code = main()
    if "pyspark" in sys.modules:
        from harness import shutdown_jvm

        shutdown_jvm()
    sys.exit(code)
