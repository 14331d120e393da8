"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``(seed, scale)``: the same seed
gives the same rows, byte for byte. :func:`plant` then turns the rows
into :class:`Inputs`, which also holds what the correctness gate needs
to know: which rows carry the fixed binary fixtures (and their expected
Markdown) and which rows are designed to fail.

Every workload carries the five ``binfixtures`` rows and a fixed 1 %
share of inputs that must fail (PDF and unrecognised ZIP), so the gate
checks byte-exact fixtures and the error path on every run, and
``row_error_rate`` is never 0.
"""

from __future__ import annotations

import base64
import io
import random
import struct
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from anytomd_spark import transcripts
from anytomd_spark.binfixtures import BIN_FIXTURES

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FAIL_SHARE = 0.01
_BASE_TS = pd.Timestamp("2026-01-01", tz="UTC")
_WORDS = (
    "data pipeline spark convert markdown table heading extraction cluster "
    "shuffle partition arrow batch kernel format payload transcript turn "
    "quality tokens language dedup similarity vector embedding sketch "
    "window ordered lineage checkpoint resume metric throughput scale "
    "한국어 中文文本 日本語テキスト"
).split()


@dataclass
class Inputs:
    rows: pd.DataFrame
    # (conv_id, turn_idx) -> expected Markdown, byte-exact
    fixtures: dict = field(default_factory=dict)
    # (conv_id, turn_idx) of every row that must come out with an error
    failures: set = field(default_factory=set)


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _frame(conv_sizes, payload) -> pd.DataFrame:
    """Rows for conversations of the given sizes; ``payload(i)`` gives
    (text, tool) for the i-th turn overall."""
    rows = []
    i = 0
    for c, n in enumerate(conv_sizes):
        for t in range(int(n)):
            text, tool = payload(i)
            rows.append((f"conv-{c:08d}", t, ("user", "assistant", "tool")[t % 3],
                         text, tool, _BASE_TS + pd.Timedelta(seconds=i)))
            i += 1
    return pd.DataFrame(rows, columns=COLUMNS)


def plant(rows: pd.DataFrame, seed: int, strata=None) -> Inputs:
    """Overwrite seeded rows with the binfixtures and the designed
    failures (``FAIL_SHARE`` of the rows of each stratum, a list of
    boolean masks; default one stratum). Row count and keys stay."""
    rng = random.Random(seed * 7919 + 1)
    strata = [np.ones(len(rows), bool)] if strata is None else strata
    picks = rng.sample(range(len(rows)), len(BIN_FIXTURES))
    fails = []
    for mask in strata:
        pool = sorted(set(np.flatnonzero(mask)) - set(picks))
        fails += rng.sample(pool, max(1, round(FAIL_SHARE * int(np.sum(mask)))))
    text = rows["text"].to_numpy(dtype=object).copy()
    tool = rows["tool"].to_numpy(dtype=object).copy()
    keys = list(zip(rows["conv_id"], rows["turn_idx"]))
    out = Inputs(rows)
    for i, (fmt, (payload, markdown, _)) in zip(picks, BIN_FIXTURES.items()):
        text[i], tool[i] = payload, ("ipynb" if fmt == "ipynb" else "")
        out.fixtures[keys[i]] = markdown
    for j, i in enumerate(fails):
        if j % 2:
            # a valid ZIP that is none of DOCX/PPTX/XLSX
            blob = _zip({f"data/{_sentence(rng, 1, 1)}.txt": _sentence(rng, 5, 30)})
            text[i] = base64.b64encode(blob).decode("ascii")
        else:
            text[i] = f"%PDF-1.4\n% {_sentence(rng, 5, 30)}\n%%EOF\n"
        tool[i] = ""
        out.failures.add(keys[i])
    rows["text"] = text
    rows["tool"] = tool
    return out


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

def chat_mix(seed: int, scale: float = 1.0, turns: int = 8000) -> pd.DataFrame:
    """The production mix: ``transcripts``' ten formats, Zipf-sized
    conversations and mega-conversations, generated by the same
    ``conversation_sizes``/``generate_batch`` pair ``generate_transcripts``
    runs, taking as many conversations as reach the target turn count
    (so every seed converts about the same number of turns)."""
    target = max(50, int(turns * scale))
    sizes = transcripts.conversation_sizes(target, seed, mega_every=1000,
                                           mega_size=max(10, target // 20))
    cum = np.cumsum(sizes)
    n_convs = int(np.searchsorted(cum, target)) + 1
    cum = cum[:n_convs]
    rows = transcripts.generate_batch(np.arange(int(cum[-1])), cum, seed)
    rows["turn_idx"] = rows["turn_idx"].astype("int32")
    rows["ts"] = rows["ts"].dt.tz_localize("UTC")
    return rows


def office_docs(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """Base64 DOCX/PPTX/XLSX/XLS only, each several times the size of
    the ``transcripts`` documents."""
    rng = random.Random(seed)
    n_docs = max(20, int(700 * scale))
    builders = (_docx,) * 8 + (_pptx,) * 4 + (_xlsx,) * 5 + (_xls,) * 3
    docs = [base64.b64encode(rng.choice(builders)(rng)).decode("ascii")
            for _ in range(n_docs)]
    rows = _frame(_conv_sizes(rng, n_docs, 6), lambda i: (docs[i], ""))
    return rows


def bulk_text(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """Large plain-text, Markdown and source payloads (10-60 KB each)
    whose conversion is close to a copy."""
    rng = random.Random(seed)
    n_docs = max(20, int(500 * scale))
    lines = [_sentence(rng, 6, 16) for _ in range(4000)]
    kinds = ("txt", "md", "log", "md", "py", "js", "rs", "go", "sql", "txt")

    def doc(_i):
        tool = rng.choice(kinds)
        body = []
        size = 0
        goal = rng.randint(10_000, 60_000)
        while size < goal:
            line = rng.choice(lines)
            if tool == "md" and rng.random() < 0.05:
                line = "## " + line
            elif tool in ("py", "js", "rs", "go", "sql"):
                line = ("    " * rng.randint(0, 2)) + line
            body.append(line)
            size += len(line) + 1
        return "\n".join(body) + "\n", tool

    rows = _frame(_conv_sizes(rng, n_docs, 4), doc)
    return rows


def resume_half(seed: int, scale: float = 1.0) -> pd.DataFrame:
    """A smaller chat_mix-shaped input for the resumed CLI run."""
    return chat_mix(seed, scale, turns=2500)


WORKLOADS = {
    "chat_mix": chat_mix,
    "office_docs": office_docs,
    "bulk_text": bulk_text,
    "resume_half": resume_half,
}


def _conv_sizes(rng: random.Random, n_turns: int, longest: int) -> list[int]:
    sizes = []
    while n_turns > 0:
        sizes.append(min(n_turns, rng.randint(1, longest)))
        n_turns -= sizes[-1]
    return sizes


# --------------------------------------------------------------------------
# document builders (seeded, deflated like real Office files)
# --------------------------------------------------------------------------

_ZIP_DATE = (2020, 1, 1, 0, 0, 0)
_RELS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
_REL_T = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_W = ('xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main" '
      f'xmlns:r="{_REL_T}"')
_P = ('xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" '
      'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" '
      f'xmlns:r="{_REL_T}"')
_X = ('xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
      f'xmlns:r="{_REL_T}"')


def _zip(entries: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in entries.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, content)
    return buf.getvalue()


def _docx(rng: random.Random) -> bytes:
    def run(text: str, bold: bool = False) -> str:
        rpr = "<w:rPr><w:b/></w:rPr>" if bold else ""
        return f'<w:r>{rpr}<w:t xml:space="preserve">{text}</w:t></w:r>'

    body = []
    for _ in range(rng.randint(20, 70)):
        r = rng.random()
        if r < 0.12:
            style = rng.choice(("Heading1", "Heading2"))
            body.append(f'<w:p><w:pPr><w:pStyle w:val="{style}"/></w:pPr>'
                        f"{run(_sentence(rng, 2, 6))}</w:p>")
        elif r < 0.18:
            ncol = rng.randint(2, 5)
            trs = "".join(
                "<w:tr>" + "".join(
                    f"<w:tc><w:p>{run(_sentence(rng, 1, 3))}</w:p></w:tc>"
                    for _ in range(ncol)) + "</w:tr>"
                for _ in range(rng.randint(2, 8)))
            body.append(f"<w:tbl>{trs}</w:tbl>")
        else:
            body.append("<w:p>" + "".join(
                run(_sentence(rng, 3, 14) + " ", bold=rng.random() < 0.2)
                for _ in range(rng.randint(1, 4))) + "</w:p>")
    styles = "".join(
        f'<w:style w:styleId="Heading{k}"><w:name w:val="heading {k}"/></w:style>'
        for k in (1, 2))
    return _zip({
        "word/document.xml": f'<?xml version="1.0" encoding="UTF-8"?>'
                             f"<w:document {_W}><w:body>{''.join(body)}"
                             f"</w:body></w:document>",
        "word/styles.xml": f'<?xml version="1.0"?><w:styles {_W}>{styles}</w:styles>',
        "word/_rels/document.xml.rels": f"<Relationships {_RELS}/>",
    })


def _pptx(rng: random.Random) -> bytes:
    def shape(ph: str, paras: list[str]) -> str:
        ps = "".join(f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in paras)
        return (f'<p:sp><p:nvSpPr><p:nvPr><p:ph type="{ph}"/></p:nvPr>'
                f"</p:nvSpPr><p:txBody>{ps}</p:txBody></p:sp>")

    entries, ids, rels = {}, [], []
    for i in range(1, rng.randint(3, 10) + 1):
        body = [_sentence(rng, 4, 14) for _ in range(rng.randint(2, 6))]
        entries[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?><p:sld {_P}><p:cSld><p:spTree>'
            f"{shape('title', [_sentence(rng, 2, 5)])}{shape('body', body)}"
            f"</p:spTree></p:cSld></p:sld>")
        ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="{_REL_T}/slide" '
                    f'Target="slides/slide{i}.xml"/>')
    entries["ppt/presentation.xml"] = (
        f'<?xml version="1.0"?><p:presentation {_P}>'
        f"<p:sldIdLst>{''.join(ids)}</p:sldIdLst></p:presentation>")
    entries["ppt/_rels/presentation.xml.rels"] = (
        f"<Relationships {_RELS}>{''.join(rels)}</Relationships>")
    return _zip(entries)


def _xlsx(rng: random.Random) -> bytes:
    ncol = rng.randint(3, 8)

    def cell(r: int, c: int) -> str:
        ref = f"{chr(65 + c)}{r}"
        if r == 1 or rng.random() < 0.3:
            return (f'<c r="{ref}" t="inlineStr"><is><t>'
                    f"{_sentence(rng, 1, 3)}</t></is></c>")
        return f'<c r="{ref}"><v>{round(rng.uniform(0, 1e4), rng.randint(0, 2))}</v></c>'

    rows = "".join(
        f'<row r="{r}">' + "".join(cell(r, c) for c in range(ncol)) + "</row>"
        for r in range(1, rng.randint(20, 120) + 1))
    return _zip({
        "xl/workbook.xml": f'<?xml version="1.0"?><workbook {_X}><sheets>'
                           f'<sheet name="Data" sheetId="1" r:id="rId1"/>'
                           f"</sheets></workbook>",
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships {_RELS}><Relationship Id="rId1" '
            f'Type="{_REL_T}/worksheet" Target="worksheets/sheet1.xml"/>'
            f"</Relationships>"),
        "xl/worksheets/sheet1.xml": f'<?xml version="1.0"?><worksheet {_X}>'
                                    f"<sheetData>{rows}</sheetData></worksheet>",
    })


def _biff(opcode: int, payload: bytes) -> bytes:
    return struct.pack("<HH", opcode, len(payload)) + payload


def _xls(rng: random.Random) -> bytes:
    """One-sheet BIFF8 workbook in a minimal OLE2 container (one FAT
    sector, so the stream stays under 63 KB)."""
    cells = []
    ncol = rng.randint(2, 6)
    for r in range(rng.randint(10, 60)):
        for c in range(ncol):
            if r == 0 or rng.random() < 0.3:
                s = "_".join(rng.choice(_WORDS[:33]) for _ in range(rng.randint(1, 3)))
                cells.append(_biff(0x0204, struct.pack("<HHHH", r, c, 0, len(s))
                                   + b"\x00" + s.encode("latin-1")))
            else:
                cells.append(_biff(0x0203, struct.pack("<HHHd", r, c, 0,
                                                       rng.randint(0, 99999) / 4)))
    bof = struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0)
    sheet = _biff(0x0809, bof) + b"".join(cells) + _biff(0x000A, b"")
    name = b"\x05\x00Sheet"
    bof_g = _biff(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    offset = len(bof_g) + len(_biff(0x0085, b"\0" * 6 + name)) + 4
    stream = (bof_g + _biff(0x0085, struct.pack("<I", offset) + b"\0\0" + name)
              + _biff(0x000A, b"") + sheet)
    stream = stream.ljust(max(4096, -(-len(stream) // 512) * 512), b"\0")
    n_sec = len(stream) // 512
    free, end, fatsect = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    fat = [fatsect, end] + [3 + i if i < n_sec - 1 else end for i in range(n_sec)]
    fat += [free] * (128 - len(fat))

    def entry(label: str, kind: int, start: int, size: int) -> bytes:
        raw = label.encode("utf-16-le")
        return (raw.ljust(64, b"\0") + struct.pack("<HBB", len(raw) + 2, kind, 1)
                + struct.pack("<iii", -1, -1, -1) + b"\0" * 36
                + struct.pack("<IQ", start, size))

    header = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 16
              + struct.pack("<HHHHH", 0x3E, 3, 0xFFFE, 9, 6) + b"\0" * 6
              + struct.pack("<IIIIIIIIII", 0, 1, 1, 0, 4096, end, 0, end, 0, 0)
              + struct.pack("<108I", *([free] * 108)))
    directory = (entry("Root Entry", 5, end, 0) + entry("Workbook", 2, 2, len(stream))
                 ).ljust(512, b"\0")
    return header + struct.pack("<128I", *fat) + directory + stream
