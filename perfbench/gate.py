"""Correctness gate: checks one committed output + lineage against the
input rows the job was given.

Every check runs on every run; a failed check marks the run incorrect.
The committed files are read back with pyarrow (no Spark), and a seeded
sample of rows is converted again in this process with
``batch.convert_batch`` and compared column by column.
"""

from __future__ import annotations

import random

import pandas as pd
import pyarrow.dataset as ds

from anytomd_spark.batch import convert_batch

SAMPLE = 300  # rows converted again in this process, besides every planted row
# every column the kernel adds, plus the passthrough payload columns
COMPARED = ["role", "ts", "text", "tool", "markdown", "plain_text", "title", "fmt",
            "error", "n_warnings", "warning_codes", "bytes_in", "chars_out"]


def read_table(path: str) -> pd.DataFrame:
    """A bucket-partitioned parquet directory as one frame."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _norm(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, pd.Timestamp) and v.tz is not None:
        return v.tz_convert("UTC").tz_localize(None)  # Spark writes UTC, naive
    if hasattr(v, "tolist"):
        v = v.tolist()
    return tuple(v) if isinstance(v, list) else v


def check(inputs, out_dir: str, lin_dir: str, seed: int,
          timed_run=None) -> dict[str, bool]:
    """Run every check; returns {check name: passed}.

    ``timed_run`` = (run_id, expected rows, first bucket) for a resumed
    run: the rows it converted and the buckets it wrote must be exactly
    the unfinished ones."""
    rows = inputs.rows
    out = read_table(out_dir)
    lin = read_table(lin_dir)
    key = ["conv_id", "turn_idx"]
    res: dict[str, bool] = {}

    res["row_count"] = len(out) == len(rows)
    res["keys"] = (not out.duplicated(key).any()
                   and sorted(zip(out.conv_id, out.turn_idx))
                   == sorted(zip(rows.conv_id, rows.turn_idx)))

    o = out.sort_values(key, kind="stable")
    res["turn_seq_dense"] = bool(
        (o.groupby("conv_id").cumcount().to_numpy() + 1
         == o["turn_seq"].to_numpy()).all())

    md = dict(zip(zip(out.conv_id, out.turn_idx), out.markdown))
    res["fixtures_exact"] = all(md.get(k) == v for k, v in inputs.fixtures.items())

    failed = out[out.error.notna()]
    res["errors_designed"] = set(zip(failed.conv_id, failed.turn_idx)) == inputs.failures

    # seeded sample + every planted row, converted again in this process
    rng = random.Random(seed)
    planted = set(inputs.fixtures) | inputs.failures
    pick = set(rng.sample(range(len(rows)), min(SAMPLE, len(rows))))
    pick |= {i for i, k in enumerate(zip(rows.conv_id, rows.turn_idx)) if k in planted}
    want = convert_batch(rows.iloc[sorted(pick)].reset_index(drop=True))
    got = want[key].merge(out, on=key, how="left")
    res["sample_matches_in_process"] = len(got) == len(want) and all(
        _norm(a) == _norm(b)
        for col in COMPARED for a, b in zip(want[col], got[col]))

    per_bucket = out.assign(n_rows=1, n_failures=out.error.notna().astype(int)) \
        .groupby("bucket")[["n_rows", "bytes_in", "chars_out", "n_failures",
                            "n_warnings"]].sum()
    done = lin[lin.status == "done"]
    res["lineage_one_row_per_bucket"] = (
        not done.duplicated(["run_id", "bucket"]).any()
        and not done.duplicated("bucket").any()
        and set(done.bucket) == set(per_bucket.index))
    lin_sums = done.set_index("bucket")[per_bucket.columns].sort_index()
    res["lineage_sums"] = lin_sums.astype("int64").equals(
        per_bucket.sort_index().astype("int64"))

    if timed_run is not None:
        run_id, n_expected, first_bucket = timed_run
        mine = done[done.run_id == run_id]
        res["resume_only_unfinished"] = (
            len(mine) > 0 and int(mine.n_rows.sum()) == n_expected
            and bool((mine.bucket >= first_bucket).all())
            and bool((done[done.run_id != run_id].bucket < first_bucket).all()))
    return res
