#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up (session start, cached seeded
input, warm-up) is repeated and its median reported as setup_s; then
the workload's call runs closed-loop, one at a time, for --seconds and
the median call is reported. Outputs are checked outside the timed
region. --trace 1 additionally re-runs the loop with a Spark event log
and in-memory spans, splits the call into layers, probes the media
kernel, and reports per-layer metrics instead of end-to-end ones.

The last stdout line is the JSON result; the exit code is non-zero when
an output check fails or the package is not found. Every process the
run starts (the JVM and its Python workers, the oracle's pool) has
ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PACKAGE = "cadastral_map_ocr_system_spark"

SETUP_REPS = 3
# untimed full-size calls between set-up and the timed loop: the JIT keeps
# speeding the call up for its first several runs after a context starts
STEADY_SECONDS = 4
STEADY_CALLS = 2
# the metrics of the JSON result, in BENCHMARK.json order
END_TO_END = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.task_skew": "ratio", "spark.driver_gap_s": "s",
}
TRACE_METRICS = {
    "trace.job_s": "s", "trace.overhead_s": "s",
    "trace.stage_sum_s": "s", "trace.residual_s": "s",
}


def per_layer_names() -> list[str]:
    from layers import FAMILIES

    names = list(SPARK_METRICS) + list(TRACE_METRICS)
    for prefix in ("synth.payload_ms", "png.decode_ms", "normalize.ms",
                   "mediapath.extract_ms", "mediapath.regions_ms"):
        names += [f"{prefix}.{fam}" for fam in FAMILIES]
    return names + [
        "mediapath.deskew_ms", "colorroute.ms", "mediapath.dedup_ms",
        "mediapath.dedup_kept_ratio", "mediapath.records_per_payload",
        "mediapath.tiles", "mediapath.phase_sum_over_extract",
    ]


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hook: corrupt one checked output so the run must fail
    p.add_argument("--plant-mismatch", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def emit(kind: str, metrics: dict) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{kind} {name} {value:.6g} {unit}")


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    from workloads import WORKLOADS

    args = parse_args(argv)
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    harness.adopt_orphans()
    env = harness.configure_env(ROOT, WORK)
    wl = WORKLOADS[args.workload](args.seed, WORK)
    tracer = harness.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "docs": wl.n_docs, "cores": harness.spark_cores(),
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "local_dirs": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "loadavg_start": harness.loadavg(),
    }
    print("perfbench " + " ".join(f"{k}={v}" for k, v in record.items()), flush=True)

    e2e: dict[str, tuple[float, str]] = {}
    layer: dict[str, tuple[float, str]] = {}
    failed = wl.n_docs
    spark = None
    try:
        # each rep starts a fresh session, loads the input and warms up;
        # rep 0 also launches the JVM and builds the input on a cache miss
        setup = []
        for rep in range(1 if args.trace else SETUP_REPS):
            if spark is not None:
                spark.stop()
            if rep == 1:
                wl.finish_expected()  # untimed: joins work started in rep 0
            t0 = time.perf_counter()
            with tracer.span("setup", rep=rep):
                if rep == 0:
                    record["cache"] = "built" if wl.ensure_input() else "hit"
                    wl.start_expected()
                spark = harness.start_session(WORK)
                wl.prepare(spark)
                wl.warm_up()
            setup.append(time.perf_counter() - t0)
        wl.finish_expected()
        record["setup_reps_s"] = [round(s, 4) for s in setup]
        record["steady_walls_s"] = steady_calls(wl, tracer)

        with harness.RssSampler() as rss:
            walls = harness.timed_loop(wl.call, args.seconds, lambda i: wl.before_call())
        job_s = harness.median(walls)
        record["call_walls_s"] = [round(w, 4) for w in walls]
        record["peak_rss_by_command_mb"] = {
            k: round(v / 1e6, 1) for k, v in rss.peak_by_command.items()
        }
        e2e = {
            "setup_s": (harness.median(setup), "s"),
            "job_s": (job_s, "s"),
            "docs_per_s": (wl.n_docs / job_s, "docs/s"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
            **wl.call_extras(len(walls)),
        }
        with tracer.span("check"):
            failed = wl.check(plant=args.plant_mismatch)
        e2e["docs_failed_frac"] = (failed / wl.n_docs, "ratio")
        e2e.update(wl.extras)

        if args.trace:
            spark.stop()
            spark = None
            layer = trace_run(args, wl, tracer, job_s)
    except Exception:
        traceback.print_exc()
        failed = wl.n_docs
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            harness.stop_processes()

    record["loadavg_end"] = harness.loadavg()
    correct = failed == 0
    if args.trace:
        metrics = {k: layer[k] for k in per_layer_names() if k in layer}
        emit("layer", layer)
        path = os.path.join(WORK, "traces", f"{tracer.trace_id}.json")
        tracer.write(path, {"record": record, "metrics": layer})
        print("perfbench trace_file " + os.path.relpath(path, ROOT))
    else:
        metrics = {k: e2e[k] for k in END_TO_END if k in e2e}
        emit("metric", e2e)
    print("perfbench loadavg_end=" + record["loadavg_end"])
    record.update(correct=correct, failed=failed,
                  metrics={k: v[0] for k, v in {**e2e, **layer}.items()})
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": correct,
        "attempted": wl.n_docs,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def steady_calls(wl, tracer) -> list[float]:
    import harness

    with tracer.span("steady"):
        walls = harness.timed_loop(
            wl.call, STEADY_SECONDS, lambda i: wl.before_call(), STEADY_CALLS
        )
    return [round(w, 4) for w in walls]


def trace_run(args, wl, tracer, untraced_job_s: float) -> dict:
    """Traced re-run on a session with an event log: per-call Spark
    metrics, the workload's layer split and the media-kernel probe."""
    import harness
    import layers

    log_dir = os.path.join(WORK, "eventlog", tracer.trace_id)
    spark = harness.start_session(WORK, harness.event_log_conf(log_dir))
    try:
        wl.prepare(spark)
        wl.warm_up()
        steady_calls(wl, tracer)
        calls: list[dict] = []

        def traced_call() -> None:
            label = f"call{len(calls)}"
            with tracer.span("call", label=label) as s, harness.labelled(spark, label):
                wl.call()
            calls.append({"label": label, "wall_s": s["end_s"] - s["start_s"]})

        walls = harness.timed_loop(traced_call, args.seconds, lambda i: wl.before_call())
        with tracer.span("layers"):
            m = wl.trace_layers(tracer)
        with tracer.span("kernel"):
            m.update(layers.kernel_metrics(args.seed, tracer))
            tiles = layers.tile_count(spark, args.seed, os.path.join(WORK, "tiles"), tracer)
        m["mediapath.tiles"] = (tiles, "count")
    finally:
        spark.stop()
    events = harness.read_event_log(log_dir)
    spark_m = harness.spark_call_metrics(events, calls)
    m.update({k: (v, SPARK_METRICS[k]) for k, v in spark_m.items()})
    if "checkpoint.commit_groups" in m:
        jobs = harness.jobs_labelled(events, "checkpoint")
        m["checkpoint.jobs_per_group"] = (jobs / m["checkpoint.commit_groups"][0], "count")
    if "corpus_dedup.edges" in m:
        # Spark jobs run inside connected_components: its rounds'
        # signature actions and their adaptive query stages
        m["components.cc_rounds"] = (harness.jobs_labelled(events, "cc"), "count")
    traced_job_s = harness.median(walls)
    stage_sum = m.pop("stage_sum_s")[0]
    m["trace.job_s"] = (traced_job_s, "s")
    m["trace.overhead_s"] = (traced_job_s - untraced_job_s, "s")
    m["trace.stage_sum_s"] = (stage_sum, "s")
    m["trace.residual_s"] = (untraced_job_s - stage_sum, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
