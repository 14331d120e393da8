#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py            # about 7 minutes on 4 cores

Checks, exiting non-zero on the first failure:

1. Every workload ``run.py`` knows, untraced and traced, prints every
   metric ``BENCHMARK.json`` names (end-to-end or per-layer), each with
   its unit, and its gate passes.
2. The gate fails on a copy of a committed output with one Markdown
   byte flipped.
3. The timed ``resume_half`` run converts only the unfinished buckets.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.03"  # small enough that the gate's 300-row sample covers every row


def fail(msg: str) -> None:
    print(f"FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        fail(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(spec: dict) -> None:
    import workloads

    for name in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            context, result = run_bench(name, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                fail(f"{name} trace={trace}: metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(want) - set(got))}, "
                     f"extra {sorted(set(got) - set(want))}, "
                     f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not result["correct"] or result["attempted"] < 1 or result["failed"]:
                fail(f"{name} trace={trace}: gate failed: {context['checks']}")
            if name == "resume_half" and not context["checks"].get("resume_only_unfinished"):
                fail("resume_half: the timed run converted finished buckets")
            print(f"ok  {name} trace={trace}: {len(got)} metrics, "
                  f"{len(context['checks'])} checks")


def check_flipped_byte() -> None:
    import pyarrow.parquet as pq

    import harness
    from gate import check

    run_dir = os.path.join(harness.WORK, f"smoke-{os.getpid()}")
    harness.prepare_env(run_dir)
    spark = None
    try:
        spark, _, _ = harness.start_session(run_dir, len(os.sched_getaffinity(0)))
        w = harness.Workload(spark, "chat_mix", 3, float(SCALE), run_dir)
        dest = f"{run_dir}/job"
        w.prepare(dest)
        w.call(dest)
        if not all(check(w.inputs, f"{dest}/out", f"{dest}/lin", 3).values()):
            fail("gate fails on an untouched output")
        flipped = f"{run_dir}/flipped"
        shutil.copytree(dest, flipped)
        path = next(os.path.join(d, f) for d, _, files in sorted(os.walk(f"{flipped}/out"))
                    for f in sorted(files) if f.endswith(".parquet"))
        table = pq.read_table(path)
        md = table.column("markdown").to_pylist()
        i = next(i for i, s in enumerate(md) if s and s[0].isascii())
        md[i] = chr(ord(md[i][0]) ^ 1) + md[i][1:]
        col = table.schema.get_field_index("markdown")
        pq.write_table(table.set_column(col, "markdown", [md]), path)
        checks = check(w.inputs, f"{flipped}/out", f"{flipped}/lin", 3)
        if all(checks.values()):
            fail("gate passes an output with one Markdown byte flipped")
        print(f"ok  flipped byte caught by {[k for k, v in checks.items() if not v]}")
    finally:
        if spark is not None:
            spark.stop()
        harness.cleanup(run_dir)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_flipped_byte()
    check_metrics(spec)
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
