"""End-to-end Spark tests: fixture-golden equality through mapInPandas,
stable window ordering, lineage + resume semantics, synthetic generation
determinism. Runs on local[2] to keep CI fast."""

from __future__ import annotations

import os

import pytest

from tests.conftest import (
    FIXTURES,
    fixture_transcripts,
    inrepo_transcripts,
    normalize,
)

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from anytomd_spark.pipeline import (  # noqa: E402
    build_session,
    bucketed,
    compute_lineage,
    convert_transcripts,
    ordered_output,
    run_pipeline,
)
from anytomd_spark.binfixtures import BIN_FIXTURES  # noqa: E402
from anytomd_spark.transcripts import (  # noqa: E402
    TRANSCRIPTS_SCHEMA,
    generate_transcripts,
)


@pytest.fixture(scope="module")
def spark():
    s = build_session(master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


GOLDEN_NAMES = [
    "sample.html", "sample.csv", "sample.json", "sample.xml",
    "sample.txt", "sample.py", "sample.ipynb", "sample.docx",
    "sample.pptx", "sample.xlsx", "sample.xls", "sample_unicode.xls",
]


def _explain(frame) -> str:
    """``frame.explain(True)`` as a string."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame.explain(True)
    return buf.getvalue()


def test_fixture_conversation_golden_equality(spark):
    """Port of the reference golden e2e suite through the Spark pipeline:
    each turn's markdown must match the golden under stable ordering.
    Input rows are shuffled (FIXTURES.md: correctness must come from the
    window-based sort, not arrival order)."""
    shuffled = fixture_transcripts().sample(frac=1.0, random_state=7)
    df = spark.createDataFrame(shuffled)
    converted = ordered_output(convert_transcripts(df, partitions=4))
    rows = converted.orderBy("conv_id", "turn_idx").collect()
    assert len(rows) == len(GOLDEN_NAMES)
    for row, name in zip(rows, GOLDEN_NAMES):
        with open(os.path.join(FIXTURES, "expected", f"{name}.md")) as f:
            expected = f.read()
        assert row.error is None, f"{name}: {row.error}"
        assert normalize(row.markdown) == normalize(expected), name
        assert row.turn_seq == row.turn_idx + 1


def test_fmt_histogram(spark):
    from anytomd_spark.batch import convert_batch

    pdf = inrepo_transcripts(spark)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    hist = {
        r.fmt: r["count"]
        for r in convert_transcripts(df).groupBy("fmt").count().collect()
    }
    assert sum(hist.values()) == len(pdf)
    assert hist == convert_batch(pdf)["fmt"].value_counts().to_dict()
    assert set(BIN_FIXTURES) <= set(hist)


def test_generated_transcripts_deterministic(spark):
    a = generate_transcripts(spark, n_convs=40, seed=7, mega_every=0, partitions=2)
    b = generate_transcripts(spark, n_convs=40, seed=7, mega_every=0, partitions=5)
    rows_a = sorted(a.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    rows_b = sorted(b.collect(), key=lambda r: (r.conv_id, r.turn_idx))
    assert rows_a == rows_b
    assert len(rows_a) > 40


def test_generated_transcripts_convert_clean(spark):
    df = generate_transcripts(spark, n_convs=60, seed=11, mega_every=0, partitions=2)
    converted = convert_transcripts(df, partitions=4)
    stats = converted.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("failures"),
        F.countDistinct("fmt").alias("n_fmts"),
    ).collect()[0]
    assert stats.failures == 0
    assert stats.n_fmts >= 6


def test_lineage_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    df = generate_transcripts(spark, n_convs=30, seed=3, mega_every=0, partitions=2)

    r1 = run_pipeline(spark, df, out, lineage, run_id="run1", n_buckets=8)
    assert r1["rows"] == df.count()
    assert r1["failures"] == 0

    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("status") == "done").count() > 0

    # resume: everything is complete -> zero new rows converted
    r2 = run_pipeline(spark, df, out, lineage, run_id="run2", n_buckets=8)
    lin2 = spark.read.parquet(lineage).filter(F.col("run_id") == "run2")
    assert lin2.count() == 0 or lin2.agg(F.sum("n_rows")).collect()[0][0] in (0, None)

    # output readable and ordered
    out_df = spark.read.parquet(out)
    assert out_df.count() == r1["rows"]


def test_storage_probe_and_lineage_mode(spark, tmp_path):
    """Iceberg probe: no runtime jar in this sandbox -> parquet shim
    auto-selected and recorded in lineage; forcing iceberg fails loudly;
    snapshot pinning is an iceberg-only contract."""
    from anytomd_spark import table_io

    assert table_io.iceberg_available(spark) is False
    assert table_io.probe_storage(spark) == "parquet"
    assert table_io.probe_storage(spark, "parquet") == "parquet"
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        table_io.probe_storage(spark, "iceberg")
    with pytest.raises(ValueError):
        table_io.probe_storage(spark, "delta")

    df = generate_transcripts(spark, n_convs=6, seed=5, mega_every=0,
                              partitions=2)
    res = run_pipeline(spark, df, str(tmp_path / "out"),
                       str(tmp_path / "lin"), n_buckets=4)
    assert res["storage"] == "parquet"
    lin = spark.read.parquet(str(tmp_path / "lin"))
    assert {r.storage for r in lin.select("storage").collect()} == {"parquet"}

    with pytest.raises(ValueError, match="snapshot"):
        table_io.read_output(spark, str(tmp_path / "out"), "parquet",
                             snapshot_id=1)


def test_iceberg_write_call_chain_mocked(spark, monkeypatch):
    """The Iceberg live branch can't execute offline (no runtime jar —
    SURVEY §7.5), so pin its exact DataFrameWriterV2 call chains with
    mocks (VERDICT r3 #9): existing table -> writeTo(t).
    overwritePartitions(); missing table -> writeTo(t).partitionedBy(
    'bucket').create(); lineage -> append()/create(); snapshot read ->
    option('snapshot-id', id).table(t)."""
    from anytomd_spark import table_io

    calls: list = []

    class FakeWriterV2:
        def __init__(self, target):
            calls.append(("writeTo", target))

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", cols))
            return self

        def overwritePartitions(self):
            calls.append(("overwritePartitions",))

        def create(self):
            calls.append(("create",))

        def append(self):
            calls.append(("append",))

    exists = {"flag": True}
    df = spark.range(3).withColumn("bucket", F.lit(0))
    # patch the CONCRETE classes (pyspark 4: instances are the .classic
    # subclasses, which override the base-class methods)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, target: FakeWriterV2(target))
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, name: exists["flag"])

    table_io.write_output(df, "cat.db.out", "iceberg")
    assert calls == [("writeTo", "cat.db.out"), ("overwritePartitions",)]

    calls.clear()
    exists["flag"] = False
    table_io.write_output(df, "cat.db.out", "iceberg")
    assert calls == [("writeTo", "cat.db.out"),
                     ("partitionedBy", ("bucket",)), ("create",)]

    calls.clear()
    exists["flag"] = True
    table_io.append_lineage(df, "cat.db.lin", "iceberg")
    assert calls == [("writeTo", "cat.db.lin"), ("append",)]

    calls.clear()
    exists["flag"] = False
    table_io.append_lineage(df, "cat.db.lin", "iceberg")
    assert calls == [("writeTo", "cat.db.lin"), ("create",)]

    reads: list = []
    monkeypatch.setattr(
        type(spark.read), "option",
        lambda self, k, v: (reads.append(("option", k, v)), self)[1])
    monkeypatch.setattr(
        type(spark.read), "table",
        lambda self, name: (reads.append(("table", name)), df)[1])
    out = table_io.read_output(spark, "cat.db.out", "iceberg",
                               snapshot_id=42)
    assert out is df
    assert reads == [("option", "snapshot-id", "42"), ("table", "cat.db.out")]

    reads.clear()
    table_io.read_output(spark, "cat.db.out", "iceberg")
    assert reads == [("table", "cat.db.out")]


def test_lineage_read_is_metric_columns_only(spark, tmp_path):
    """The post-write lineage scan must never materialize the payload
    columns (VERDICT r2 'What's wrong #3'): the slim projection
    run_pipeline uses must push down to a ReadSchema without
    markdown/plain_text/text, and run totals come from the write job's
    observe metrics (no third scan)."""
    import contextlib
    import io

    df = generate_transcripts(spark, n_convs=8, seed=9, mega_every=0,
                              partitions=2)
    out = str(tmp_path / "out")
    res = run_pipeline(spark, df, out, str(tmp_path / "lin"), n_buckets=4)
    assert res["rows"] == df.count() and res["failures"] == 0

    slim = (
        spark.read.parquet(out)
        .filter(F.col("bucket").isin([0, 1, 2, 3]))
        .select("bucket", "fmt", "bytes_in", "chars_out", "error",
                "n_warnings")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        slim.explain("formatted")
    plan = buf.getvalue()
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "markdown" not in read_schema
    assert "plain_text" not in read_schema
    assert "text" not in read_schema.replace("plain_text", "")
    # lineage totals agree with the observed write metrics
    lin = spark.read.parquet(str(tmp_path / "lin"))
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == res["rows"]


def test_compute_lineage_histogram(spark):
    pdf = inrepo_transcripts(spark)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    converted = bucketed(convert_transcripts(df), n_buckets=4)
    lin = compute_lineage(converted, "t").collect()
    total = sum(r.n_rows for r in lin)
    assert total == len(pdf)
    hist_total = sum(sum(r.fmt_hist.values()) for r in lin if r.fmt_hist)
    assert hist_total == len(pdf)


def _two_scan_lineage(converted_with_bucket, run_id):
    """Reference for compute_lineage: the earlier formula, one scan for
    the metric sums and one for the format histogram, joined on bucket."""
    import time

    base = converted_with_bucket.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failures"),
        F.sum("n_warnings").cast("long").alias("n_warnings"),
    )
    hist = (
        converted_with_bucket.groupBy("bucket", "fmt")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("bucket")
        .agg(F.map_from_entries(
            F.collect_list(F.struct(F.coalesce("fmt", F.lit("unknown")), "n"))
        ).alias("fmt_hist"))
    )
    return (
        base.join(hist, "bucket", "left")
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .withColumn("ts", F.lit(time.time()))
    )


def test_compute_lineage_single_scan_matches_two_scan(spark):
    """The one-scan lineage equals the two-scan-plus-join formula in
    values, column names and types (fmt_hist map<string,long> included),
    over several buckets, a null fmt, error rows and warnings."""
    rows = [
        (0, "html", 100, 40, None, 0),
        (0, "html", 50, 20, None, 2),
        (0, None, 7, 0, "undetected", 0),
        (0, "pdf", 30, 0, "unsupported", 1),
        (1, "docx", 900, 300, None, 3),
        (1, "csv", 10, 12, None, 0),
        (1, "csv", 11, None, None, None),
        (2, None, 5, 0, "undetected", 0),
    ]
    df = spark.createDataFrame(
        rows,
        "bucket int, fmt string, bytes_in long, chars_out long, "
        "error string, n_warnings int",
    )
    got = compute_lineage(df, "r").drop("ts")
    want = _two_scan_lineage(df, "r").drop("ts")
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert dict(got.dtypes)["fmt_hist"] == "map<string,bigint>"

    def by_bucket(frame):
        return sorted((r.asDict() for r in frame.collect()),
                      key=lambda r: r["bucket"])

    got_rows = by_bucket(got)
    assert got_rows == by_bucket(want)
    assert got_rows[0]["fmt_hist"] == {"html": 2, "unknown": 1, "pdf": 1}
    assert got_rows[0]["n_failures"] == 2 and got_rows[1]["n_warnings"] == 3


def test_verify_against_expected(spark):
    from anytomd_spark.pipeline import verify_against_expected

    pdf = inrepo_transcripts(spark)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    converted = convert_transcripts(df)
    expected = converted.select("conv_id", "turn_idx", "markdown")
    report = verify_against_expected(converted, expected)
    assert report["ok"] and report["rows"] == len(pdf)

    first = (F.col("conv_id") == "conv-binfixtures") & (F.col("turn_idx") == 0)
    tampered = expected.withColumn(
        "markdown", F.when(first, F.lit("WRONG")).otherwise(F.col("markdown"))
    )
    report = verify_against_expected(converted, tampered)
    assert report["mismatched"] == 1 and not report["ok"]


def test_convert_transcripts_schema(spark, tmp_path):
    """The one kernel binding declares transcripts + kernel outputs, over
    a batch frame and over a transcripts stream alike, so the batch job
    and the streaming queries cannot drift apart."""
    from anytomd_spark.batch import OUTPUT_SPARK_SCHEMA
    from anytomd_spark.streaming import read_transcripts_stream

    want = spark.createDataFrame(
        [], f"{TRANSCRIPTS_SCHEMA}, {OUTPUT_SPARK_SCHEMA}"
    ).schema
    batch = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    stream = read_transcripts_stream(spark, str(tmp_path))
    assert stream.isStreaming
    assert convert_transcripts(batch).schema == want
    assert convert_transcripts(stream).schema == want


def test_job_rejects_partitions_flag(tmp_path):
    """--partitions is gone from the job CLI: argparse rejects it as an
    unknown argument (exit status 2) before any session starts."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "-m", "anytomd_spark.job",
         "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
         "--lineage", str(tmp_path / "lin"), "--partitions", "8"],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 2
    assert "unrecognized arguments: --partitions 8" in p.stderr


_SESSION_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from anytomd_spark.pipeline import build_session
spark = build_session(
    extra_conf={"spark.sql.parquet.compression.codec": "snappy"})
print(json.dumps({k: spark.conf.get(k) for k in (
    "spark.sql.shuffle.partitions",
    "spark.sql.parquet.compression.codec",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.driver.memory",
)}))
spark.stop()
"""


def _run_session_probe(tmp_path, launcher: list[str]) -> dict:
    """``build_session`` in a fresh driver process started by
    ``launcher``; returns the conf values it reads back."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "session_probe.py"
    script.write_text(_SESSION_PROBE)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    p = subprocess.run(
        [*launcher, str(script), repo], capture_output=True, text=True,
        timeout=300, env=env,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_build_session_submitted_conf_wins(tmp_path):
    """Under spark-submit, a key given with --conf keeps its submitted
    value instead of build_session's default; extra_conf still wins over
    both, and defaults the submit left unset still apply."""
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    got = _run_session_probe(tmp_path, [
        submit, "--master", "local[1]",
        "--conf", "spark.sql.shuffle.partitions=7",
        "--conf", "spark.sql.parquet.compression.codec=gzip",
    ])
    assert got["spark.sql.shuffle.partitions"] == "7"
    assert got["spark.sql.parquet.compression.codec"] == "snappy"
    assert got["spark.sql.execution.arrow.maxRecordsPerBatch"] == "4096"


def test_build_session_plain_python_defaults(tmp_path):
    """Under plain python the builder launches the JVM itself, so every
    default applies, the launch-time driver heap included."""
    import sys

    got = _run_session_probe(tmp_path, [sys.executable])
    assert got["spark.sql.shuffle.partitions"] == "32"
    assert got["spark.driver.memory"] == "16g"
    assert got["spark.sql.parquet.compression.codec"] == "snappy"


def test_salted_equals_unsalted_on_skewed_input(spark):
    """Mega-conversation skew: the salted repartition path must produce
    exactly the same converted rows as the shuffle-free path."""
    df = generate_transcripts(
        spark, n_convs=12, seed=13, mega_every=6, mega_size=120, partitions=3
    )
    plain = convert_transcripts(df, repartition=False)
    salted = convert_transcripts(df, partitions=4, repartition=True)
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    rows_a = sorted(plain.collect(), key=key)
    rows_b = sorted(salted.collect(), key=key)
    assert rows_a == rows_b
    # skew actually present: one conversation dominates
    sizes = {r.conv_id: r.n for r in df.groupBy("conv_id").count()
             .withColumnRenamed("count", "n").collect()}
    assert max(sizes.values()) >= 100


def test_ordered_output_mega_conversation_two_level(spark):
    """A single 1M-turn conversation through the skew-safe turn_seq path:
    exact rank values, and the payload-side window partitions on
    (conv_id, _seq_bkt) — a whole conversation never lands on one task
    (VERDICT r2 'What's wrong #2'). With an output ``bucket`` column the
    payload exchange is keyed on (bucket, _seq_bkt), so the bound holds
    there too."""
    n = 1_000_000
    turns = spark.range(n).select(
        # computed, not a literal: the optimizer folds a constant conv_id
        # (and the bucket derived from it) out of every partitioning
        F.concat(F.lit("megaconv"), F.substring(F.col("id").cast("string"), 1, 0))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    # shuffled arrival order: ordering must come from the operator
    converted = turns.withColumn("payload", F.lit("x")).orderBy(
        F.xxhash64("turn_idx")
    )
    for frame in (converted, bucketed(converted, n_buckets=8)):
        out = ordered_output(frame, turns=turns, seq_bucket=65536)
        assert out.filter(F.col("turn_seq") != F.col("turn_idx") + 1).count() == 0

        plan = _explain(out)
        # the two-level path is active: bucket key present in the plan, and
        # every row_number window spec includes it next to conv_id
        assert "_seq_bkt" in plan
        for line in plan.splitlines():
            if "row_number()" in line and "windowspecdefinition" in line:
                assert "_seq_bkt" in line, line
        if "bucket" in frame.columns:
            by_bucket = [line for line in plan.splitlines()
                         if "Exchange hashpartitioning(bucket#" in line]
            assert by_bucket
            for line in by_bucket:
                assert "_seq_bkt" in line, line


@pytest.mark.parametrize("path", ["legacy", "adaptive", "two_level"])
def test_ordered_output_bucket_column_keeps_turn_seq(spark, path):
    """Keying the exchange on the output bucket changes placement, not
    ranks: (conv_id, turn_idx, turn_seq) are identical with and without
    a ``bucket`` column, on the single-window and the two-level path,
    null conv_id included."""
    rows = [(f"c{c}", t * 3 + c) for c in range(12) for t in range(c % 5 + 1)]
    rows += [(None, 4), (None, 0), (None, 9)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int") \
        .withColumn("payload", F.lit("p"))
    kwargs = {
        "legacy": {},
        "adaptive": {"turns": df.select("conv_id", "turn_idx")},
        # below the largest conversation (5 rows): the probe picks the
        # two-level plan
        "two_level": {"turns": df.select("conv_id", "turn_idx"),
                      "seq_bucket": 2},
    }[path]

    def ranks(frame):
        out = ordered_output(frame, **kwargs)
        if path == "two_level":
            assert "_seq_bkt" in _explain(out)
        return sorted(
            ((r.conv_id or "", r.turn_idx, r.turn_seq) for r in out.collect()),
        )

    plain = ranks(df)
    assert len(plain) == len(rows)
    assert ("", 9, 3) in plain
    assert ranks(bucketed(df, n_buckets=4)) == plain


def test_run_pipeline_one_file_per_bucket(spark, tmp_path):
    """The ordering exchange is keyed on the output bucket, so each bucket
    is written by exactly one task: one parquet file per written bucket,
    even when the post-shuffle stage runs several tasks."""
    import glob

    df = generate_transcripts(spark, n_convs=40, seed=17, mega_every=0,
                              partitions=3)
    out = str(tmp_path / "out")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep every shuffle partition a task
    try:
        res = run_pipeline(spark, df, out, str(tmp_path / "lin"),
                           n_buckets=8)
    finally:
        spark.conf.set(key, before)
    assert res["rows"] == df.count() and res["buckets"] == 8
    per_bucket = {
        b: len(glob.glob(os.path.join(out, f"bucket={b}", "*.parquet")))
        for b in range(8)
    }
    assert per_bucket == {b: 1 for b in range(8)}


def test_ordered_output_adaptive_small_convs_take_legacy_plan(spark):
    """When no conversation reaches seq_bucket rows, the adaptive check
    must fall back to the legacy single-window plan — no composite-key
    join, no _seq_bkt anywhere (VERDICT r3 #5: the small-conv common
    case paid the two-level cost unconditionally)."""
    df = spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 0)], "conv_id string, turn_idx int"
    ).withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    out = ordered_output(df, turns=turns, seq_bucket=64)
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in out.collect()}
    assert got == {("a", 0): 1, ("a", 1): 2, ("b", 0): 1}
    assert "_seq_bkt" not in _explain(out)


def test_ordered_output_sparse_turn_idx_matches_legacy(spark):
    """Gappy, non-dense turn_idx across bucket boundaries: the two-level
    rank must equal the legacy single-window row_number."""
    import pandas as pd

    rows = [
        ("a", 3), ("a", 10), ("a", 70_000), ("a", 2_000_000),
        ("b", 0), ("b", 65_536),
        ("c", 5),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx"])
    df = spark.createDataFrame(pdf).withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    legacy = {
        (r.conv_id, r.turn_idx): r.turn_seq
        for r in ordered_output(df).collect()
    }
    # seq_bucket below conversation a's 4 rows: the two-level plan runs
    out = ordered_output(df, turns=turns, seq_bucket=2)
    assert "_seq_bkt" in _explain(out)
    two_level = {(r.conv_id, r.turn_idx): r.turn_seq for r in out.collect()}
    assert two_level == legacy


def test_catalog_table_source(spark, tmp_path):
    """The job's --table path: transcripts registered in the session
    catalog (saveAsTable -> spark.read.table) convert identically to the
    parquet-path source — the sandbox stand-in for an Iceberg catalog
    table (SURVEY §7.6: Iceberg resolves through spark.read.table)."""
    pdf = inrepo_transcripts(spark)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    # managed table in the session warehouse; dropped (with data) below
    df.write.mode("overwrite").saveAsTable("transcripts_tbl")
    try:
        via_table = spark.read.table("transcripts_tbl")
        result = run_pipeline(
            spark, via_table,
            output_path=str(tmp_path / "out"),
            lineage_path=str(tmp_path / "lineage"),
            n_buckets=4,
        )
        assert result["rows"] == len(pdf)
        assert result["failures"] == 0
        got = spark.read.parquet(str(tmp_path / "out"))
        assert got.filter("markdown is null").count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS transcripts_tbl")


def test_resume_unreadable_lineage_raises(spark, tmp_path):
    """A lineage path that exists but cannot be read is not a first run:
    run_pipeline raises before converting anything, instead of silently
    re-converting every bucket."""
    lin = tmp_path / "lin"
    lin.mkdir()
    (lin / "part-00000.parquet").write_text("not a parquet file")
    df = generate_transcripts(spark, n_convs=4, seed=5, mega_every=0,
                              partitions=1)
    with pytest.raises(Exception):
        run_pipeline(spark, df, str(tmp_path / "out"), str(lin), n_buckets=4)
    assert not (tmp_path / "out").exists()


@pytest.mark.parametrize("state", ["missing", "empty"])
def test_resume_without_lineage_is_first_run(spark, tmp_path, state):
    """No lineage yet (no directory, or one a crashed first append left
    with only its hidden staging directory) is a first run: every bucket
    converts."""
    lin = tmp_path / "lin"
    if state == "empty":
        (lin / "_temporary" / "0").mkdir(parents=True)
    df = generate_transcripts(spark, n_convs=4, seed=5, mega_every=0,
                              partitions=1)
    res = run_pipeline(spark, df, str(tmp_path / "out"), str(lin),
                       n_buckets=4)
    assert res["rows"] == df.count() and res["buckets"] > 0
    assert spark.read.parquet(str(lin)).count() == res["buckets"]


def test_resume_probe_iceberg_table_exists(spark, monkeypatch):
    """Iceberg: only a missing table (catalog.tableExists false) is a
    first run; a read failure on an existing table propagates."""
    from anytomd_spark import pipeline, table_io

    exists = {"flag": False}
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, name: exists["flag"])

    def unreadable(spark_, target, storage):
        raise RuntimeError("lineage table unreadable")

    monkeypatch.setattr(table_io, "read_lineage", unreadable)
    assert pipeline._done_buckets(spark, "cat.db.lin", "iceberg") == set()
    exists["flag"] = True
    with pytest.raises(RuntimeError, match="unreadable"):
        pipeline._done_buckets(spark, "cat.db.lin", "iceberg")


def test_run_pipeline_empty_input(spark, tmp_path):
    """Zero input rows: run_pipeline must report zero work, append no
    lineage, and NOT crash on re-reading a nonexistent output (review
    finding: range(n_buckets) scoping + empty write)."""
    empty = spark.createDataFrame([], schema=TRANSCRIPTS_SCHEMA)
    res = run_pipeline(spark, empty, str(tmp_path / "out"),
                       str(tmp_path / "lin"), n_buckets=4)
    assert res == {"run_id": res["run_id"], "rows": 0, "failures": 0,
                   "buckets": 0, "storage": "parquet"}
    assert not (tmp_path / "lin").exists()


def test_run_pipeline_no_resume_does_not_reattribute_stale_buckets(
    spark, tmp_path
):
    """resume=False over an output holding ANOTHER run's buckets: lineage
    for the new run must cover only the buckets it actually wrote, never
    re-attributing the stale ones (review finding)."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    df_all = generate_transcripts(spark, n_convs=30, seed=3, mega_every=0,
                                  partitions=2)
    run_pipeline(spark, df_all, out, lin, run_id="first", n_buckets=8)
    first_buckets = {
        r.bucket for r in spark.read.parquet(lin)
        .filter("run_id = 'first'").select("bucket").collect()
    }
    assert len(first_buckets) > 1

    # second run over a SUBSET of conversations, resume off
    one_conv = df_all.filter(
        F.col("conv_id") == df_all.select("conv_id").first().conv_id
    )
    res = run_pipeline(spark, one_conv, out, lin, run_id="second",
                       n_buckets=8, resume=False)
    second = spark.read.parquet(lin).filter("run_id = 'second'")
    second_buckets = {r.bucket for r in second.select("bucket").collect()}
    assert second_buckets < first_buckets  # strictly fewer
    assert res["buckets"] == len(second_buckets)
    assert second.agg(F.sum("n_rows")).collect()[0][0] == one_conv.count()


def test_ordered_output_null_conv_id_not_dropped(spark):
    """A null conv_id must survive the two-level path (null-safe join),
    exactly as the legacy window kept it (review finding)."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(None, 0), (None, 1), ("c", 0)],
        columns=["conv_id", "turn_idx"],
    )
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int") \
        .withColumn("payload", F.lit("p"))
    turns = df.select("conv_id", "turn_idx")
    # seq_bucket = the null conversation's 2 rows: the two-level plan runs
    out = ordered_output(df, turns=turns, seq_bucket=2)
    assert "_seq_bkt" in _explain(out)
    rows = out.collect()
    assert len(rows) == 3
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in rows}
    assert got[(None, 0)] == 1 and got[(None, 1)] == 2 and got[("c", 0)] == 1


def test_job_spark_submit_py_files(spark, tmp_path):
    """The north-rule run surface, end to end: package the library as a
    --py-files zip, launch scripts/submit_job.py through a REAL
    spark-submit subprocess from a neutral cwd (so every import resolves
    from the zip, not the repo checkout), and check the converted output
    and lineage sidecar land; a second submit resumes (no bucket
    reconverted, reported via the resume summary line)."""
    import shutil
    import subprocess
    import sys
    import zipfile

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = str(tmp_path / "anytomd_spark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(repo, "anytomd_spark")
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, repo))

    inp = str(tmp_path / "transcripts.parquet")
    generate_transcripts(
        spark, n_convs=25, seed=9, mega_every=0, partitions=2
    ).write.parquet(inp)

    out_dir = str(tmp_path / "converted")
    lin_dir = str(tmp_path / "lineage")
    cmd = [
        spark_submit, "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(repo, "scripts", "submit_job.py"),
        "--input", inp, "--output", out_dir, "--lineage", lin_dir,
        "--buckets", "8", "--run-id", "submit-e2e",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    def run_and_parse(label):
        p = subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True,
            text=True, timeout=600,
        )
        assert p.returncode == 0, f"{label}: {p.stderr[-4000:]}"
        summaries = [ln for ln in p.stdout.splitlines()
                     if ln.startswith('{"run_id"')]
        assert summaries, f"{label}: no summary line\n{p.stdout[-2000:]}"
        import json as _json
        return _json.loads(summaries[-1])

    n_in = spark.read.parquet(inp).count()
    first = run_and_parse("first submit")
    assert first["rows"] == n_in and first["failures"] == 0

    out = spark.read.parquet(out_dir)
    assert out.count() == n_in
    assert out.filter(F.col("error").isNotNull()).count() == 0
    lineage = spark.read.parquet(lin_dir)
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == n_in

    # resume: every bucket already committed -> zero work, zero rewrites
    second = run_and_parse("resume submit")
    assert second["rows"] == 0 and second["buckets"] == 0
