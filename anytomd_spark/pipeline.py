"""The Spark extraction pipeline.

Lifecycle (SURVEY.md §3.4):

    read transcripts -> anti-join completed lineage buckets (resume)
      -> mapInPandas(convert_batch) (optional salted repartition first)
      -> window-ordered output, exchanged on the output bucket
      -> idempotent per-bucket overwrite (one file per bucket)
      -> lineage rows in one scan (bytes in, chars out, fmt histogram,
         failures)

Scale notes (designed for 10^12 turns / 1000 executors; validated on
local[32]):
  * The only JVM<->Python crossing is the Arrow-batched ``mapInPandas``;
    everything else is Catalyst-planned (scan pruning, AQE coalescing).
  * Payloads are fat strings, so Arrow batches are capped
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` = 4096; override
    the key through ``build_session(extra_conf=...)`` for heavy-document
    tables).
  * Skewed mega-conversations are split by a turn-derived salt BEFORE the
    shuffle: the kernel is per-row, so rows of one conversation do not need
    to be co-located for conversion — only the final per-conversation
    ordering needs a shuffle, and that one is handled by the window sort.
  * Resume is bucket-granular: output is written partitioned by
    ``bucket = pmod(xxhash64(conv_id), n_buckets)`` with dynamic partition
    overwrite, so a re-run overwrites exactly the buckets it recomputes.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anytomd_spark.batch import OUTPUT_SPARK_SCHEMA, convert_batch


def build_session(
    master: str | None = None,
    app_name: str = "anytomd-spark",
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.parquet.compression.codec": "zstd",
        # payloads are fat strings: smaller splits -> >=2 tasks/core so
        # heterogeneous per-row conversion cost doesn't leave stragglers
        "spark.sql.files.maxPartitionBytes": "32m",
        # 16g: the suite runs ~60 queries in one long-lived local JVM —
        # the old 8g heap spent measurable wall time in GC once the
        # session accumulated codegen classes + block-manager state
        # (every query ran ~0.5 s slower late-session than isolated).
        # Driver-side only; executors-on-cluster size independently.
        "spark.driver.memory": "16g",
        # headless batch runs: the UI listener processes every task
        # event on the driver for a UI nobody opens here; opt back in
        # via extra_conf when debugging interactively (guide §7.1)
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    # builder options override spark-submit --conf, so a key the launched
    # JVM already holds keeps its submitted value; extra_conf wins over both
    submitted = _submitted_conf_keys()
    conf = {k: v for k, v in conf.items() if k not in submitted}
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    # pre-build the native HTML walker on the driver: in local mode the
    # workers share /tmp, so this removes the 32-parallel-cc race from
    # the first conversion task of a cold container (workers on a
    # cluster still build once per node, or silently fall back)
    try:
        from anytomd_spark.kernels._html_native import _get_lib

        _get_lib()
    except Exception:
        pass
    return spark


def _submitted_conf_keys() -> set[str]:
    """Spark keys set on the JVM that launched this driver (spark-submit
    exports ``PYSPARK_GATEWAY_PORT``). Under plain ``python`` no JVM is
    running yet and none is started here, so launch-time keys such as
    ``spark.driver.memory`` still reach the JVM the builder launches."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return set()
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return {k for k, _v in SparkConf().getAll()}


def _ship_package(spark: SparkSession) -> None:
    """Ship anytomd_spark to the Python workers (the --py-files analogue
    for library/driver-side use; idempotent per session)."""
    sc = spark.sparkContext
    if getattr(sc, "_anytomd_shipped", False):
        return
    import tempfile
    import zipfile

    import anytomd_spark

    pkg_dir = os.path.dirname(os.path.abspath(anytomd_spark.__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"anytomd_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._anytomd_shipped = True


def convert_transcripts(
    df: DataFrame,
    partitions: int | None = None,
    repartition: bool = False,
    strict: bool = False,
    max_input_bytes: int | None = None,
) -> DataFrame:
    """transcripts -> converted turns (adds markdown/plain/fmt/... columns).

    The one binding of the conversion kernel: the batch job, the
    structured-streaming queries and every declared conversion query
    cross the JVM/Python boundary here, through ``mapInPandas``. It works
    on a batch frame and on a ``readStream`` frame alike.

    The conversion kernel is per-row — embarrassingly parallel — so by
    default NO shuffle precedes it: at 100 TB a full payload shuffle in
    front of a map stage is the single biggest avoidable cost, and
    file-split inputs are already balanced by ``maxPartitionBytes``.

    Set ``repartition=True`` when the source layout is conv-clustered
    (e.g. an Iceberg table partitioned by conversation): then the salted
    key ``(hash(conv_id), pmod(turn_idx, 16))`` splits mega-conversations
    so no task inherits a whole one — payload-byte skew that AQE's
    row-count heuristics can miss. It shuffles into ``partitions`` tasks,
    ``spark.sql.shuffle.partitions`` by default. The shuffle the north
    rule requires for output ordering happens in ``ordered_output``
    regardless; in ``run_pipeline`` it is keyed on the output bucket (a
    pure function of conv_id), so each bucket is ordered and written by
    one task.
    """
    out = df
    if repartition:
        n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        out = df.repartition(
            int(n), F.xxhash64("conv_id"), F.pmod(F.col("turn_idx"), F.lit(16))
        )
    # passthrough columns survive the kernel: output schema = input + outputs
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def _convert_iter(iterator):
        for pdf in iterator:
            yield convert_batch(
                pdf, strict=strict, max_input_bytes=max_input_bytes
            )

    return out.mapInPandas(
        _convert_iter, schema=f"{schema}, {OUTPUT_SPARK_SCHEMA}"
    )


def ordered_output(
    converted: DataFrame,
    turns: DataFrame | None = None,
    seq_bucket: int = 1 << 20,
) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering (north rule: per-turn equality
    under stable turn ordering): assigns ``turn_seq`` = rank of turn_idx
    within its conversation.

    Skew-safe two-level rank when ``turns`` is supplied: a plain
    ``Window.partitionBy(conv_id)`` puts an ENTIRE conversation on one
    task — a 10^8-turn mega-conversation at 100x scale lands on a single
    executor core with its full payload width. Instead, turn_idx is
    bucketed into ``seq_bucket``-wide ranges; per-(conv, bucket) counts
    aggregate on the SLIM pre-kernel ``turns`` side (conv_id, turn_idx
    only — never re-running the conversion kernel and never shuffling
    payloads twice), cross-bucket offsets come from a per-conv window
    over *bucket rows* (a 10^8-turn conv is ~100 rows there), and the
    payload-side window partitions on (conv_id, turn bucket) — bounded at
    ``seq_bucket`` rows per task regardless of conversation size.

    ``turns`` must contain exactly the (conv_id, turn_idx) rows of
    ``converted`` (i.e. the kernel's input). Without it the legacy
    single-window path runs — fine when no conversation exceeds
    ~``seq_bucket`` turns.

    Adaptive: before committing to the two-level plan, one tiny aggregate
    over the SLIM counts side computes the largest per-conversation row
    count; when every conversation fits in a single bucket the legacy
    single-window path runs instead — the common small-conversation case
    skips the composite-key join + extra aggregate entirely (it paid
    ~+50% on the sf0.1 bench for skew safety it didn't need), while any
    conversation ≥ ``seq_bucket`` rows keeps the bounded-task guarantee.
    The check itself is an eager driver-side scalar job on (conv_id,
    turn_idx) only — payloads never move.

    Bucket-aligned exchange: when ``converted`` carries the output
    ``bucket`` column (:func:`bucketed`, a pure function of conv_id), the
    payload exchange is keyed on it and it leads every window and sort
    key — ``repartition(bucket)`` on the legacy path,
    ``repartition(bucket, _seq_bkt)`` on the two-level path, which keeps
    a mega-conversation spread across tasks. Outside the two-level path
    every bucket then sits in exactly one task, so a ``partitionBy(
    "bucket")`` write commits one file per bucket and needs no sort of
    its own. The price: the post-shuffle stage has at most one task per
    written bucket, so size ``n_buckets`` to the cluster. A frame without
    ``bucket`` gets the conv_id-hashed plan. ``turn_seq`` is identical
    either way.
    """
    lead = ["bucket"] if "bucket" in converted.columns else []

    def single_window() -> DataFrame:
        staged = converted.repartition(*lead) if lead else converted
        w = Window.partitionBy(*lead, "conv_id").orderBy("turn_idx")
        return (
            staged.withColumn("turn_seq", F.row_number().over(w))
            .sortWithinPartitions(*lead, "conv_id", "turn_idx")
        )

    if turns is None:
        return single_window()
    bkt = F.floor(
        F.coalesce(F.col("turn_idx"), F.lit(0)) / F.lit(seq_bucket)
    ).cast("long")
    counts = (
        turns.select("conv_id", bkt.alias("_seq_bkt"))
        .groupBy("conv_id", "_seq_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    biggest = (
        counts.groupBy("conv_id")
        .agg(F.sum("_n").alias("_t"))
        .agg(F.max("_t"))
        .collect()[0][0]
    )
    if biggest is None or biggest < seq_bucket:
        return single_window()
    w_off = Window.partitionBy("conv_id").orderBy("_seq_bkt")
    offsets = counts.select(
        "conv_id", "_seq_bkt",
        (F.sum("_n").over(w_off) - F.col("_n")).cast("long").alias("_off"),
    )
    # null-safe on conv_id: a plain inner equi-join would silently DROP
    # rows with a null conv_id (null never equals null) even though the
    # same rows exist on the counts side; the legacy window kept them
    off = offsets.select(
        F.col("conv_id").alias("_oc"), F.col("_seq_bkt").alias("_ob"),
        "_off",
    )
    ranked = converted.withColumn("_seq_bkt", bkt).join(
        off,
        F.col("conv_id").eqNullSafe(F.col("_oc"))
        & (F.col("_seq_bkt") == F.col("_ob")),
    )
    if lead:
        # after the join: its own exchange (if any) is keyed on the
        # null-safe join keys, which the window could not reuse anyway
        ranked = ranked.repartition(*lead, "_seq_bkt")
    w_seq = Window.partitionBy(*lead, "conv_id", "_seq_bkt").orderBy("turn_idx")
    return (
        ranked.withColumn(
            "turn_seq",
            (F.col("_off") + F.row_number().over(w_seq)).cast("int"),
        )
        .drop("_seq_bkt", "_off", "_oc", "_ob")
        .sortWithinPartitions(*lead, "conv_id", "turn_idx")
    )


# --------------------------------------------------------------------------
# lineage sidecar + resumable run
# --------------------------------------------------------------------------

LINEAGE_SCHEMA = (
    "bucket int, n_rows long, bytes_in long, chars_out long, "
    "n_failures long, n_warnings long, fmt_hist map<string,long>, "
    "run_id string, status string, ts double, storage string"
)


def bucketed(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def compute_lineage(converted_with_bucket: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket extraction metrics incl. a format histogram map
    (SURVEY.md §2.5). One scan: every metric is summed per (bucket, fmt),
    then those few rows per bucket roll up into the bucket's totals and
    its ``fmt_hist``; no join, no collect."""
    per_fmt = converted_with_bucket.groupBy("bucket", "fmt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_failures"),
        F.sum("n_warnings").alias("n_warnings"),
    )
    return (
        per_fmt.groupBy("bucket").agg(
            F.sum("n").alias("n_rows"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum("n_failures").alias("n_failures"),
            F.sum("n_warnings").cast("long").alias("n_warnings"),
            F.map_from_entries(
                F.collect_list(F.struct(F.coalesce("fmt", F.lit("unknown")), "n"))
            ).alias("fmt_hist"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("status", F.lit("done"))
        .withColumn("ts", F.lit(time.time()))
    )


def verify_against_expected(converted: DataFrame, expected: DataFrame) -> dict:
    """Golden verification (SURVEY §2.5): join produced markdown against an
    expected table on (conv_id, turn_idx); returns mismatch/missing counts.
    ``expected`` schema: conv_id string, turn_idx int, markdown string."""
    joined = converted.select(
        "conv_id", "turn_idx", F.col("markdown").alias("got")
    ).join(
        expected.select(
            "conv_id", "turn_idx", F.col("markdown").alias("want")
        ),
        ["conv_id", "turn_idx"],
        "full_outer",
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("got").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("want").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(
                F.col("got").isNotNull()
                & F.col("want").isNotNull()
                & (F.col("got") != F.col("want")),
                1,
            ).otherwise(0)
        ).alias("mismatched"),
    ).collect()[0]
    return {
        "rows": row.n,
        "missing": row.missing or 0,
        "extra": row.extra or 0,
        "mismatched": row.mismatched or 0,
        "ok": not (row.missing or row.extra or row.mismatched),
    }


def _done_buckets(spark: SparkSession, lineage_path: str, storage: str) -> set[int]:
    """Buckets earlier runs recorded as done. Only a lineage that does
    not exist yet (no table; no path, or a path holding no data files,
    as a crashed first append leaves it) means a first run. Any other
    read failure raises: a corrupt or unreadable lineage must not
    silently re-convert every bucket."""
    from anytomd_spark import table_io

    if storage == "iceberg" and not spark.catalog.tableExists(lineage_path):
        return set()
    try:
        lineage = table_io.read_lineage(spark, lineage_path, storage)
    except AnalysisException as e:
        if storage == "parquet" and e.getCondition() in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
        ):
            return set()
        raise
    return {
        r.bucket
        for r in lineage.filter(F.col("status") == "done")
        .select("bucket").distinct().collect()
    }


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str | None = None,
    n_buckets: int = 64,
    resume: bool = True,
    salted: bool = False,
    strict: bool = False,
    max_input_bytes: int | None = None,
    storage: str | None = None,
) -> dict:
    """Resumable conversion run with a lineage sidecar.

    Completed buckets (recorded in the lineage table for this output) are
    filtered away on resume; each bucket's output partition is
    idempotently overwritten, so a crashed run re-executes only its
    unfinished buckets. ``storage`` picks Iceberg when the runtime jar is
    present (``output_path``/``lineage_path`` are then table
    identifiers), the parquet shim otherwise; the active mode is recorded
    in every lineage row.

    I/O budget (the 100 TB design constraint): ONE read of the input
    (the conversion+write job — run/failure counts ride on it as an
    ``observe`` metric, costing nothing), and one METRIC-COLUMNS-ONLY
    scan of the just-written output for the per-bucket lineage — the
    explicit slim projection guarantees the parquet scan materializes
    only the ~6 narrow metric columns, never the markdown/text payloads
    that dominate the bytes (at 100 TB output this is ~1-2% extra read,
    and it buys the durability property: lineage describes the rows
    actually committed, not the rows we believe we wrote). The ordering
    exchange is keyed on the output bucket, so the write commits one
    file per bucket (outside the two-level mega-conversation path) and
    the lineage scan opens each written bucket's file once. With
    ``resume``, only a lineage that does not exist yet is a first run;
    an unreadable one raises (see :func:`_done_buckets`).
    """
    from pyspark.sql import Observation

    from anytomd_spark import table_io

    storage = table_io.probe_storage(spark, storage)
    run_id = run_id or uuid.uuid4().hex[:12]
    df = bucketed(transcripts, n_buckets)

    done_buckets = (
        _done_buckets(spark, lineage_path, storage) if resume else set()
    )

    # bucket arithmetic is driver-side (bounded by n_buckets) — no
    # key-scan of the input just to enumerate what remains
    run_buckets = [b for b in range(n_buckets) if b not in done_buckets]
    if not run_buckets:
        return {"run_id": run_id, "rows": 0, "failures": 0, "buckets": 0,
                "storage": storage}
    if done_buckets:
        df = df.filter(~F.col("bucket").isin(sorted(done_buckets)))

    converted = convert_transcripts(
        df.drop("bucket"), repartition=salted,
        strict=strict, max_input_bytes=max_input_bytes,
    )
    # bucket is a pure function of conv_id — recompute it post-kernel
    # (mapInPandas declares a fixed output schema without it) so the
    # ordering exchange keys on it: one task, one file per bucket. The
    # slim pre-kernel projection feeds the skew-safe turn_seq counts.
    ordered = ordered_output(
        bucketed(converted, n_buckets),
        turns=df.select("conv_id", "turn_idx"),
    )

    # run totals + the set of buckets actually written ride on the write
    # job itself (no extra pass); the observed bucket set — not
    # range(n_buckets) — scopes the lineage read, so stale buckets left
    # by earlier runs are never re-attributed to this run_id
    obs = Observation(f"anytomd_run_{run_id}")
    observed = ordered.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.when(F.col("error").isNotNull(), 1).otherwise(0)
        ).alias("failures"),
        F.collect_set("bucket").alias("buckets"),
    )
    table_io.write_output(observed, output_path, storage)
    stats = obs.get
    written_buckets = sorted(stats["buckets"] or [])
    if not written_buckets:
        # empty input: nothing written (and possibly no parquet files to
        # re-read at all) — report zero work, append no lineage
        return {"run_id": run_id, "rows": 0, "failures": 0, "buckets": 0,
                "storage": storage}

    # per-bucket lineage from the committed output, metric columns only
    # (partition-pruned to the written buckets; payloads never read)
    out_slim = (
        table_io.read_output(spark, output_path, storage)
        .filter(F.col("bucket").isin(written_buckets))
        .select("bucket", "fmt", "bytes_in", "chars_out", "error",
                "n_warnings")
    )
    lineage_rows = compute_lineage(out_slim, run_id).withColumn(
        "storage", F.lit(storage)
    )
    table_io.append_lineage(lineage_rows, lineage_path, storage)

    return {
        "run_id": run_id,
        "rows": stats["rows"],
        "failures": stats["failures"] or 0,
        "buckets": len(written_buckets),
        "storage": storage,
    }
