"""Per-layer metrics: the traced run behind ``run.py --trace 1``.

The traced run starts a second session in the same process with an
uncompressed Spark event log, calls the job once with the job
description ``job``, then calls each layer on its own under its own
description ("legs"), replicating the job's plan step by step:

    read_lineage  the resume probe (table_io.read_lineage + done filter)
    scan          parquet scan -> noop
    boundary      scan -> identity mapInPandas, same passthrough schema -> noop
    convert       scan -> pipeline.convert_transcripts -> noop
    ordered.check the ordered_output call itself (its adaptive probe job)
    ordered       convert -> ordered_output -> bucketed -> noop
    write         the same plan -> table_io.write_output
    lineage       slim read_output + compute_lineage + append_lineage

A layer's self time is its leg minus the leg it extends (boundary minus
scan, and so on); ``trace.residue_share`` is what the layers leave of
the traced job's wall time. Each Spark stage becomes a span (name,
start, end, parent = its leg); spans stay in memory and are written to
``perfbench/work/trace-<workload>-<seed>.json`` when the run ends.

The kernel layer runs in this process on one core, without Spark, over a
seeded sample of the workload's own documents.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import tempfile
import time

import harness

KERNEL_FMTS = ("html", "json", "csv", "xml", "code", "txt", "ipynb",
               "docx", "pptx", "xlsx", "xls")

UNITS = {
    "pipeline.build_session.s": "s", "kernels._html_native.build_s": "s",
    "pipeline.worker_warm.s": "s",
    "scan.s": "s", "scan.in_mb": "MB",
    "pipeline.boundary.s": "s", "pipeline.boundary.sent_mb": "MB",
    "pipeline.boundary.returned_mb": "MB", "pipeline.boundary.py_start_s": "s",
    "pipeline.boundary.py_init_s": "s", "pipeline.boundary.py_run_s": "s",
    "batch.classify_formats.us_per_row": "us", "batch.convert_batch.s": "s",
    **{f"kernels.{f}.us_per_doc": "us" for f in KERNEL_FMTS},
    **{f"kernels.{f}.docs": "count" for f in KERNEL_FMTS},
    "kernels.html.native_share": "ratio", "kernels.sniff.zip_us_per_doc": "us",
    "pipeline.ordered_output.s": "s", "pipeline.ordered_output.shuffle_mb": "MB",
    "pipeline.ordered_output.task_skew": "ratio",
    "pipeline.ordered_output.check_s": "s",
    "table_io.write_output.s": "s", "table_io.write_output.files": "count",
    "table_io.write_output.mb": "MB",
    "pipeline.compute_lineage.s": "s", "table_io.read_lineage.s": "s",
    "jvm.gc_s": "s", "jvm.spill_mb": "MB", "peak_rss_mb": "MB",
    "trace.residue_share": "ratio", "trace.overhead_s": "s",
    "host.control_docs_per_s": "docs/s", "host.steal_share": "ratio",
}
# Spark's Python SQL metrics (task sums; sizes in bytes, times in ms)
PY_METRICS = {"data sent to Python workers": "sent_mb",
              "data returned from Python workers": "returned_mb",
              "time to start Python workers": "py_start_s",
              "time to initialize Python workers": "py_init_s",
              "time to run Python workers": "py_run_s"}


def _span(name: str, t0: float, t1: float, parent: str | None = "run") -> dict:
    return {"name": name, "start": t0 * 1e3, "end": t1 * 1e3, "parent": parent}


def traced_run(w, run_dir: str, cores: int, untraced_job_s: float, seed: int,
               trace_path: str, docs) -> tuple[dict, dict, list]:
    """Returns (metrics, gate checks of the traced job's output,
    control samples)."""
    event_dir = os.path.join(run_dir, "events")
    t_run = time.time()
    spark, _, _ = harness.start_session(run_dir, cores, event_dir)
    spans = [_span("setup", t_run, time.time())]
    w.spark = spark
    sc = spark.sparkContext

    dest = f"{run_dir}/traced"
    w.prepare(dest)
    cpu0 = harness.cpu_times()
    sc.setJobDescription("job")
    gc0 = _gc_ms(spark)
    with harness.RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid()) as rss:
        t0 = time.time()
        result = w.call(dest)
        t1 = time.time()
    job_s = t1 - t0
    spans.append(_span("job", t0, t1))
    gc_s = (_gc_ms(spark) - gc0) / 1e3
    checks = w.gate(dest, seed, result)
    checks["traced_job_result"] = w.ok(result)
    shutil.rmtree(dest)

    legs, write = _legs(spark, w, f"{run_dir}/legs", spans)
    steal = harness.steal_share(cpu0, harness.cpu_times())
    sc.setJobDescription(None)
    spark.stop()

    events = []
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            events += [json.loads(line) for line in f]
    stats, stage_spans = _from_events(events)
    spans.insert(0, _span("run", t_run, time.time(), parent=None))
    with open(trace_path, "w") as f:
        json.dump(spans + stage_spans, f)

    control = [harness.control_sample(docs) for _ in range(3)]
    m = {
        "scan.s": legs["scan"],
        # parquet bytes the scan reads (Spark's own input metric counts
        # only a fraction of them for these files)
        "scan.in_mb": w.in_bytes / 1e6,
        "pipeline.boundary.s": legs["boundary"] - legs["scan"],
        "batch.convert_batch.s": legs["convert"] - legs["boundary"],
        "pipeline.ordered_output.s": legs["ordered"] - legs["convert"],
        "pipeline.ordered_output.check_s": legs["ordered.check"],
        "pipeline.ordered_output.shuffle_mb": stats["ordered"]["shuffle_write"] / 1e6,
        "pipeline.ordered_output.task_skew": stats["ordered"]["skew"],
        "table_io.write_output.s": legs["write"] - legs["ordered"],
        "table_io.write_output.files": write["files"],
        "table_io.write_output.mb": write["bytes"] / 1e6,
        "pipeline.compute_lineage.s": legs["lineage"],
        "table_io.read_lineage.s": legs["read_lineage"],
        "jvm.gc_s": gc_s,
        "peak_rss_mb": rss.peak / 1e6,
        "jvm.spill_mb": stats["job"]["spill"] / 1e6,
        "trace.overhead_s": job_s - untraced_job_s,
        "host.steal_share": steal,
    }
    for name, key in PY_METRICS.items():
        scale = 1e6 if key.endswith("_mb") else 1e3
        m[f"pipeline.boundary.{key}"] = stats["convert"]["py"].get(name, 0) / scale
    layer_self = (m["scan.s"] + m["pipeline.boundary.s"] + m["batch.convert_batch.s"]
                  + m["pipeline.ordered_output.s"] + m["pipeline.ordered_output.check_s"]
                  + m["table_io.write_output.s"] + m["pipeline.compute_lineage.s"]
                  + m["table_io.read_lineage.s"])
    m["trace.residue_share"] = 1 - layer_self / job_s
    m.update(kernel_layer(w.inputs.rows, seed))
    m["kernels._html_native.build_s"] = native_build_s(run_dir)
    return m, checks, control


def _gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def _legs(spark, w, root: str, spans: list):
    """Each layer call on its own, timed; appends a span per leg."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from anytomd_spark import pipeline, table_io

    sc = spark.sparkContext
    w.prepare(root)
    out, lin = f"{root}/out", f"{root}/lin"
    storage = table_io.probe_storage(spark, None)
    legs = {}

    def leg(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        value = fn()
        t1 = time.time()
        legs[name] = t1 - t0
        spans.append(_span(name, t0, t1))
        return value

    def probe():
        try:
            lineage = table_io.read_lineage(spark, lin, storage)
            return {r.bucket for r in lineage.filter(F.col("status") == "done")
                    .select("bucket").distinct().collect()}
        except Exception:  # noqa: BLE001 - the job treats any failure as a first run
            return set()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    done = leg("read_lineage", probe)
    df = pipeline.bucketed(spark.read.parquet(w.input), w.n_buckets)
    if done:
        df = df.filter(~F.col("bucket").isin(sorted(done)))
    src = df.drop("bucket")
    leg("scan", lambda: noop(src))
    leg("boundary", lambda: noop(src.mapInPandas(lambda it: it, src.schema)))
    leg("convert", lambda: noop(pipeline.convert_transcripts(src)))
    ordered = leg("ordered.check", lambda: pipeline.ordered_output(
        pipeline.convert_transcripts(src), turns=df.select("conv_id", "turn_idx")))
    ordered = pipeline.bucketed(ordered, w.n_buckets)
    leg("ordered", lambda: noop(ordered))
    obs = Observation("perfbench")
    observed = ordered.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.collect_set("bucket").alias("buckets"))
    before = harness.parquet_files(out)
    leg("write", lambda: table_io.write_output(observed, out, storage))
    written = sorted(obs.get["buckets"] or [])
    after = harness.parquet_files(out)

    def lineage():
        slim = (table_io.read_output(spark, out, storage)
                .filter(F.col("bucket").isin(written))
                .select("bucket", "fmt", "bytes_in", "chars_out", "error", "n_warnings"))
        rows = pipeline.compute_lineage(slim, "perfbench").withColumn(
            "storage", F.lit(storage))
        table_io.append_lineage(rows, lin, storage)

    leg("lineage", lineage)
    new = [size for path, size in after.items() if path not in before]
    write = {"files": len(new), "bytes": sum(new)}
    return legs, write


def _from_events(events: list[dict]):
    """Per-leg counters and one span per stage from a Spark event log."""
    stage_leg, stage_span, job_leg = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            job_leg[e["Job ID"]] = desc
            for sid in e["Stage IDs"]:
                stage_leg[sid] = desc
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_span[si["Stage ID"]] = {
                "name": f"stage {si['Stage ID']}: {si['Stage Name']}",
                "start": si.get("Submission Time"), "end": si.get("Completion Time"),
                "parent": stage_leg.get(si["Stage ID"])}
    def counters():
        return {"shuffle_write": 0, "spill": 0, "py": {}}

    stats = {}
    durations: dict[int, list] = {}
    shuffle_read: dict[int, int] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        s = stats.setdefault(stage_leg.get(sid), counters())
        tm = e.get("Task Metrics") or {}
        s["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        s["spill"] += tm.get("Disk Bytes Spilled", 0)
        read = tm.get("Shuffle Read Metrics", {})
        shuffle_read[sid] = shuffle_read.get(sid, 0) + read.get(
            "Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
        info = e["Task Info"]
        durations.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
        for a in info.get("Accumulables", []):
            if a.get("Name") in PY_METRICS:
                s["py"][a["Name"]] = s["py"].get(a["Name"], 0) + int(a.get("Update", 0))
    for leg in ("convert", "ordered", "job"):
        stats.setdefault(leg, counters())
    # skew of the heaviest stage that reads the ordering shuffle
    after_shuffle = [sid for sid, leg in stage_leg.items()
                     if leg == "ordered" and shuffle_read.get(sid) and durations.get(sid)]
    skew = 1.0
    if after_shuffle:
        sid = max(after_shuffle, key=lambda s: sum(durations[s]))
        skew = max(durations[sid]) / max(1, statistics.median(durations[sid]))
    stats["ordered"]["skew"] = skew
    return stats, list(stage_span.values())


def kernel_layer(rows, seed: int, per_fmt: int = 200) -> dict:
    """Kernels on one core, in this process: classify the whole input,
    then time ``convert_bytes`` per document over a seeded sample of up
    to ``per_fmt`` documents per format, decoding payloads the way
    ``batch`` does."""
    from anytomd_spark import batch
    from anytomd_spark.kernels import _html_native, sniff
    from anytomd_spark.kernels.convert import convert_bytes

    t0 = time.perf_counter()
    fmts = batch.classify_formats(rows["text"], rows["tool"]).to_numpy(dtype=object)
    m = {"batch.classify_formats.us_per_row": (time.perf_counter() - t0) / len(rows) * 1e6}
    rng = random.Random(seed)
    order = list(range(len(rows)))
    rng.shuffle(order)
    texts, tools = rows["text"].to_numpy(dtype=object), rows["tool"].to_numpy(dtype=object)
    spent = {f: 0.0 for f in KERNEL_FMTS}
    docs = {f: 0 for f in KERNEL_FMTS}
    sniff_s, sniffed, native = 0.0, 0, 0
    for i in order:
        fmt, text, hint = fmts[i], texts[i], tools[i] or ""
        if fmt in ("zipb64", "xls"):
            t0 = time.perf_counter()
            data = sniff.maybe_base64_binary(text)
            if fmt == "zipb64":
                fmt = sniff.detect_zip_format(data)
                sniff_s += time.perf_counter() - t0
                sniffed += 1
        else:
            data = text.encode("utf-8")
        if fmt not in spent or docs[fmt] >= per_fmt:
            continue  # designed failures, or enough of this format
        ext = fmt
        if fmt in ("code", "txt"):
            ext = hint.strip().lstrip(".").lower() or fmt
        t0 = time.perf_counter()
        convert_bytes(data, ext)
        spent[fmt] += time.perf_counter() - t0
        docs[fmt] += 1
        if fmt == "html":
            native += _html_native.convert_html_native(text) is not None
    for f in KERNEL_FMTS:
        m[f"kernels.{f}.us_per_doc"] = spent[f] / docs[f] * 1e6 if docs[f] else 0.0
        m[f"kernels.{f}.docs"] = docs[f]
    m["kernels.html.native_share"] = native / docs["html"] if docs["html"] else 0.0
    m["kernels.sniff.zip_us_per_doc"] = sniff_s / sniffed * 1e6 if sniffed else 0.0
    return m


def native_build_s(run_dir: str) -> float:
    """Compile the native HTML walker into an empty temp dir."""
    from anytomd_spark.kernels import _html_native

    empty = tempfile.mkdtemp(dir=run_dir)
    saved, tempfile.tempdir = tempfile.tempdir, empty
    try:
        t0 = time.perf_counter()
        lib = _html_native._build()
        dt = time.perf_counter() - t0
    finally:
        tempfile.tempdir = saved
    # a failed build shows as kernels.html.native_share == 0
    del lib
    return dt
