#!/usr/bin/env python3
"""End-to-end benchmark of the production extraction job.

    python3 perfbench/run.py --workload chat_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One client submits one job at a time and
waits for it (a closed loop): after set-up and two untimed warm-up jobs,
the job is submitted again and again until ``--seconds`` have passed
(at least three times), and each metric is the median over those jobs. The workload's inputs are
generated from ``--seed`` and written as parquet; the program receives
only that parquet. Every run's output is checked (see ``gate.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
timed jobs the same way (their median is the untraced baseline of
``trace.overhead_s``), then the job once more with a Spark event log,
times each layer on its own and prints the per-layer metrics (see
``layers.py``).

Spark runs as ``local[<cores>]`` in this process, with sessions built by
``pipeline.build_session``. Every file a run writes, temp files and
Spark's scratch space included, lives under ``perfbench/work/``.

stdout: one context line (workload descriptors, host control, every
sample, every gate check), then the result line
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs at 0.05)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "anytomd_spark", "pipeline.py")):
        print("perfbench: anytomd_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(harness.WORK, f"run-{os.getpid()}")
    harness.prepare_env(run_dir)
    try:
        context, result = run(args, harness, run_dir, t_start)
    finally:
        harness.cleanup(run_dir)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


def run(args, harness, run_dir: str, t_start: float):
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    spark, build_s, warm_s = harness.start_session(run_dir, cores)
    setup_s = time.perf_counter() - t_start
    w = harness.Workload(spark, args.workload, args.seed, args.scale, run_dir)
    docs = harness.control_docs()
    jobs, control, last = harness.timed_jobs(w, args.seconds, docs)
    checks = w.gate(last, args.seed, jobs[-1]["result"])
    from gate import read_table

    med = statistics.median
    job_s = med(j["s"] for j in harness.clean_jobs(jobs))
    context = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "loop": "closed, 1 client, 1 job at a time",
        "descriptors": harness.descriptors(w, read_table(f"{last}/out")),
        "checks": checks,
        "jobs_s": [round(j["s"], 4) for j in jobs],
        "jobs_steal_share": [round(j["steal"], 4) for j in jobs],
        "host_control_docs_per_s": [round(c, 1) for c in control],
    }
    spark.stop()
    if args.trace:
        import layers

        trace_path = os.path.join(harness.WORK, f"trace-{args.workload}-{args.seed}.json")
        values, traced_checks, more_control = layers.traced_run(
            w, run_dir, cores, job_s, args.seed, trace_path, docs)
        checks.update({f"traced.{k}": v for k, v in traced_checks.items()})
        values.update({"pipeline.build_session.s": build_s,
                       "pipeline.worker_warm.s": warm_s,
                       "host.control_docs_per_s": med(control + more_control)})
        context["trace_spans"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "turns_per_s": w.expect_rows / job_s,
            "out_bytes_per_in_byte": med(j["out_bytes"] for j in jobs) / w.in_bytes,
            "row_error_rate": med(j["result"]["failures"] / j["result"]["rows"]
                                  for j in jobs),
        }
        metrics = {k: {"value": v, "unit": harness.END_TO_END[k]}
                   for k, v in values.items()}
    failed = sum(not j["ok"] for j in jobs)
    result = {"correct": failed == 0 and all(checks.values()),
              "attempted": len(jobs), "failed": failed, "metrics": metrics}
    return context, result


if __name__ == "__main__":
    sys.exit(main())
