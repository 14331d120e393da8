"""Session, workload and measurement machinery shared by ``run.py``
(end-to-end metrics) and ``layers.py`` (per-layer metrics)."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TMP = os.path.join(WORK, "tmp")  # shared across runs: keeps the kernel build cache

INPUT_FILES = 16
RUN_PIPELINE_BUCKETS = 64  # run_pipeline's library default
CLI_BUCKETS = 4096  # anytomd_spark.job's default
END_TO_END = {"setup_s": "s", "job_s": "s", "turns_per_s": "turns/s",
              "out_bytes_per_in_byte": "ratio", "row_error_rate": "ratio"}


def prepare_env(run_dir: str) -> None:
    """Point every temp and scratch directory of this process, the JVMs
    and the Python workers under ``perfbench/work/``."""
    import sys
    import tempfile

    os.makedirs(TMP, exist_ok=True)
    os.environ.update({
        "TMPDIR": TMP, "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too: no /tmp/hsperfdata_*, no /tmp files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"})
    tempfile.tempdir = None  # re-read TMPDIR


def cleanup(run_dir: str) -> None:
    """Stop the JVM, then remove a run's files; the package zip
    build_session ships to the workers is named after the process."""
    stop_jvm()
    shutil.rmtree(run_dir, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.remove(os.path.join(TMP, f"anytomd_spark_{os.getpid()}.zip"))


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [pid]
    while todo:
        tree.append(todo.pop())
        todo.extend(children.get(tree[-1], ()))
    return tree


def stop_jvm() -> None:
    """Stop the Spark gateway JVM this process launched and wait until
    it and the Python workers under it have exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = process_tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants, from /proc."""

    def __init__(self, pid: int, every: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.every, self.peak = pid, every, 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(self.pid):
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass  # the process ended between the two reads
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.every)

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self.join()
        self.peak = max(self.peak, self._tree_rss())


def start_session(run_dir: str, cores: int, event_dir: str | None = None):
    """build_session, then the first Python-worker job (one small HTML
    turn per core through ``convert_transcripts``), after which the
    program accepts input. Returns (spark, build s, warm s)."""
    from anytomd_spark.pipeline import build_session, convert_transcripts

    conf = {}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = build_session(master=f"local[{cores}]", app_name="perfbench",
                          extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    import pandas as pd

    from anytomd_spark.transcripts import TRANSCRIPTS_SCHEMA

    spark.sparkContext.setJobDescription("setup")
    warm = pd.DataFrame({
        "conv_id": [f"warm-{i}" for i in range(cores)], "turn_idx": 0,
        "role": "user", "text": "<h1>warm</h1><p>up</p>", "tool": "",
        "ts": pd.Timestamp("2026-01-01", tz="UTC")})
    df = spark.createDataFrame(warm, schema=TRANSCRIPTS_SCHEMA)
    convert_transcripts(df).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)
    return spark, t1 - t0, time.perf_counter() - t1


def write_parquet(rows, path: str) -> int:
    """The input table as ``INPUT_FILES`` parquet files; returns their
    total bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
    table = pa.Table.from_pandas(rows, schema=schema, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    n = len(rows)
    for k in range(INPUT_FILES):
        lo, hi = k * n // INPUT_FILES, (k + 1) * n // INPUT_FILES
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{k:03d}.parquet",
                       compression="zstd")
    return tree_bytes(path)


def parquet_files(path: str) -> dict[str, int]:
    """{parquet data file: size in bytes} under ``path``."""
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")}


def tree_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    return sum(parquet_files(path).values())


class Workload:
    """The timed job call for one workload, with its input on disk."""

    def __init__(self, spark, name: str, seed: int, scale: float, run_dir: str):
        import workloads

        self.spark, self.run_dir = spark, run_dir
        self.resume = name == "resume_half"
        self.n_buckets = CLI_BUCKETS if self.resume else RUN_PIPELINE_BUCKETS
        rows = workloads.WORKLOADS[name](seed, scale)
        strata = None
        if self.resume:
            # the half a conversation falls in is known only to Spark's
            # hash; plant failures in each half so the rate is seed-stable
            low = rows.conv_id.isin(self._low_half(rows.conv_id.unique()))
            strata = [low.to_numpy(), ~low.to_numpy()]
        self.inputs = workloads.plant(rows, seed, strata)
        self.input = os.path.join(run_dir, "input")
        self.in_bytes = write_parquet(rows, self.input)
        self.expect_rows = len(rows)
        self.expect_failures = len(self.inputs.failures)
        self.base = self.first_bucket = None
        if self.resume:
            self._pre_run(low)

    def _low_half(self, conv_ids) -> set:
        import pandas as pd

        from anytomd_spark.pipeline import bucketed

        df = self.spark.createDataFrame(pd.DataFrame({"conv_id": conv_ids}))
        b = bucketed(df, self.n_buckets).toPandas()
        return set(b.conv_id[b.bucket < self.n_buckets // 2])

    def _pre_run(self, low) -> None:
        """Untimed: convert the conversations whose bucket is below half
        the CLI's bucket count, through the CLI, into ``base``."""
        from anytomd_spark import job

        rows = self.inputs.rows
        pre = os.path.join(self.run_dir, "pre_input")
        write_parquet(rows[low], pre)
        self.base = os.path.join(self.run_dir, "base")
        with contextlib.redirect_stdout(io.StringIO()):
            job.main(["--input", pre, "--output", f"{self.base}/out",
                      "--lineage", f"{self.base}/lin"])
        self.expect_rows = int((~low).sum())
        done = set(rows.conv_id[low])
        self.expect_failures = sum(c not in done for c, _ in self.inputs.failures)
        self.first_bucket = self.n_buckets // 2

    def prepare(self, dest: str) -> None:
        """Untimed: the state the job starts from."""
        shutil.rmtree(dest, ignore_errors=True)
        if self.base:
            shutil.copytree(self.base, dest)
        else:
            os.makedirs(dest)

    def call(self, dest: str) -> dict:
        """The timed job call; returns the job's own result dict."""
        out, lin = f"{dest}/out", f"{dest}/lin"
        if self.resume:
            from anytomd_spark import job

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                job.main(["--input", self.input, "--output", out, "--lineage", lin])
            return json.loads(buf.getvalue().strip().splitlines()[-1])
        from anytomd_spark.pipeline import run_pipeline

        return run_pipeline(self.spark, self.spark.read.parquet(self.input), out, lin)

    def ok(self, result: dict) -> bool:
        return (result.get("rows") == self.expect_rows
                and result.get("failures") == self.expect_failures)

    def gate(self, dest: str, seed: int, result: dict) -> dict:
        from gate import check

        timed = ((result["run_id"], self.expect_rows, self.first_bucket)
                 if self.resume else None)
        return check(self.inputs, f"{dest}/out", f"{dest}/lin", seed,
                     timed_run=timed)


def descriptors(w: Workload, out) -> dict:
    """Properties of the workload's input that claims can cite; format
    shares are those the job detected (``out`` is its committed output)."""
    rows = w.inputs.rows
    kb = rows.text.map(lambda s: len(s.encode("utf-8"))) / 1024
    fmt = out.fmt.fillna("none").value_counts(normalize=True)
    return {
        "rows": len(rows),
        "format_shares": {k: round(float(v), 4) for k, v in fmt.items()},
        "payload_kb_p50": round(float(kb.quantile(0.5)), 2),
        "payload_kb_p99": round(float(kb.quantile(0.99)), 2),
        "duplicate_payload_share": round(1 - rows.text.nunique() / len(rows), 4),
        "largest_conversation": int(rows.groupby("conv_id").size().max()),
        "input_mb": round(w.in_bytes / 1e6, 3),
    }


def control_docs() -> list[tuple[bytes, str]]:
    """Fixed documents for the host control (independent of the seed)."""
    import random

    from anytomd_spark import transcripts as t

    rng = random.Random(0)
    docs = []
    for _ in range(20):
        docs += [(t.build_html(rng).encode(), "html"), (t.build_json(rng).encode(), "json"),
                 (t.build_csv(rng).encode(), "csv"), (t.build_xml(rng).encode(), "xml"),
                 (t.build_ipynb(rng).encode(), "ipynb"), (t.build_docx(rng), "docx"),
                 (t.build_xlsx(rng), "xlsx")]
    return docs


def control_sample(docs, seconds: float = 0.2) -> float:
    """Host control: pure-Python convert_bytes over fixed documents, no
    Spark; docs/s on one core. Separates window drift from code change."""
    from anytomd_spark.kernels.convert import convert_bytes

    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for data, ext in docs:
            convert_bytes(data, ext)
        n += len(docs)
    return n / (time.perf_counter() - t0)


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (jiffies) from /proc/stat:
    user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time a hypervisor took between two
    :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


STEAL_MAX = 0.05  # hypervisor steal share above which a job is not clean
MIN_CLEAN, MAX_JOBS = 3, 5


def clean_jobs(jobs: list[dict]) -> list[dict]:
    """The jobs that time the program rather than the host: those during
    which the hypervisor took at most ``STEAL_MAX`` of the host's CPU, or,
    when fewer than ``MIN_CLEAN`` are, the ``MIN_CLEAN`` with least steal.
    (On shared VMs a few percent of steal stalls single-task stages and
    slows a job by tens of percent.)"""
    clean = [j for j in jobs if j["steal"] <= STEAL_MAX]
    return clean if len(clean) >= MIN_CLEAN else sorted(jobs, key=lambda j: j["steal"])[:MIN_CLEAN]


def timed_jobs(w: Workload, seconds: float, docs):
    """Closed loop, one client: two untimed warm-up jobs (the JIT keeps
    speeding jobs up over the first three), then one job at a time until
    ``seconds`` have passed and at least ``MIN_CLEAN`` ran, each after a
    host-control sample; while fewer than ``MIN_CLEAN`` were clean (see
    :func:`clean_jobs`), up to ``MAX_JOBS`` in all."""
    # resume_half's untimed pre-run is its first warm-up job
    for _ in range(1 if w.resume else 2):
        w.prepare(f"{w.run_dir}/warm")
        w.call(f"{w.run_dir}/warm")
    shutil.rmtree(f"{w.run_dir}/warm")
    jobs, control = [], []
    t_window = time.perf_counter()
    prev = None
    while (len(jobs) < MIN_CLEAN or time.perf_counter() - t_window < seconds
           or (len(jobs) < MAX_JOBS
               and sum(j["steal"] <= STEAL_MAX for j in jobs) < MIN_CLEAN)):
        control.append(control_sample(docs))
        dest = f"{w.run_dir}/rep{len(jobs)}"
        w.prepare(dest)
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        result = w.call(dest)
        dt = time.perf_counter() - t0
        jobs.append({"s": dt, "steal": steal_share(cpu0, cpu_times()), "result": result,
                     "ok": w.ok(result), "out_bytes": tree_bytes(f"{dest}/out")})
        if prev:
            shutil.rmtree(prev)
        prev = dest
    return jobs, control, prev
