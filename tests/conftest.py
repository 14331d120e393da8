from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURES = "/root/reference/tests/fixtures"


def normalize(s: str) -> str:
    """Golden comparison normalization (reference tests/common/mod.rs:3-17):
    trim line ends, collapse blank-line runs, strip trailing newline."""
    lines = [line.rstrip() for line in s.splitlines()]
    result: list[str] = []
    prev_blank = False
    for line in lines:
        is_blank = line == ""
        if is_blank and prev_blank:
            continue
        result.append(line)
        prev_blank = is_blank
    return "\n".join(result).rstrip()


def convert_turn(payload, hint=None, **kw) -> dict:
    """One turn through the production row kernel: a one-row
    ``convert_batch`` (``kw`` are its keyword arguments), returned as a
    dict of the ``OUTPUT_FIELDS`` columns."""
    import pandas as pd

    from anytomd_spark.batch import OUTPUT_FIELDS, convert_batch

    frame = pd.DataFrame({"text": [payload], "tool": [hint]})
    out = convert_batch(frame, **kw)
    return {name: out[name].iloc[0] for name, _ in OUTPUT_FIELDS}


def fixture_transcripts():
    """One conversation whose turns are exactly the reference fixtures
    (input of the golden end-to-end Spark test)."""
    import base64
    import datetime

    import pandas as pd

    from anytomd_spark.transcripts import _BASE_TS

    names = [
        "sample.html", "sample.csv", "sample.json", "sample.xml",
        "sample.txt", "sample.py", "sample.ipynb", "sample.docx",
        "sample.pptx", "sample.xlsx", "sample.xls", "sample_unicode.xls",
    ]
    binary = {"sample.docx", "sample.pptx", "sample.xlsx", "sample.xls",
              "sample_unicode.xls"}
    rows = []
    for i, name in enumerate(names):
        with open(os.path.join(FIXTURES, name), "rb") as f:
            data = f.read()
        if name in binary:
            text = base64.b64encode(data).decode("ascii")
            tool = ""
        else:
            text = data.decode("utf-8")
            tool = name.rsplit(".", 1)[-1]
        rows.append((
            "conv-fixtures", i, ("user", "assistant")[i % 2], text, tool,
            _BASE_TS + datetime.timedelta(seconds=i),
        ))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


def inrepo_transcripts(spark):
    """Pipeline-mechanics input that ships with the repo: one conversation
    (``conv-binfixtures``) of the binfixtures payloads (DOCX, PPTX, XLSX,
    XLS, ipynb), in ``BIN_FIXTURES`` order from turn 0, plus a few
    generated conversations of the text formats."""
    import pandas as pd

    from anytomd_spark.binfixtures import BIN_FIXTURES
    from anytomd_spark.transcripts import generate_transcripts

    generated = generate_transcripts(
        spark, n_convs=6, seed=5, mega_every=0, partitions=1
    ).toPandas()
    ts = generated.ts.iloc[0]
    binary = pd.DataFrame(
        [
            ("conv-binfixtures", i, "user", payload,
             "ipynb" if fmt == "ipynb" else "", ts)
            for i, (fmt, (payload, _md, _n)) in enumerate(BIN_FIXTURES.items())
        ],
        columns=generated.columns,
    )
    return pd.concat([binary, generated], ignore_index=True)
