"""Reference implementations kept as differential-test oracles.

Each is a slower, earlier form of a product function, retained only so
tests can assert the product form agrees with it:

* :func:`classify_formats_pandas` — ``batch.classify_formats`` as a
  chain of pandas ``.str`` passes.
* :class:`EdgeParser` / :func:`convert_html_stdlib` — ``html_conv``'s
  walker driven by the stdlib ``html.parser`` tokenizer instead of the
  regex fast tokenizer (and without the native C tier).
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd

from anytomd_spark.kernels.html_conv import _EMPTY_ATTRS, _finish, _Walker
from anytomd_spark.kernels.sniff import EXT_TO_FMT


def classify_formats_pandas(text: pd.Series, tool: pd.Series) -> pd.Series:
    """Reference implementation of ``batch.classify_formats``: the original
    vectorized pandas form (see tests/test_chaos.py)."""
    n = len(text)
    # work on a RangeIndex internally: the masked-subset passes below
    # assign BY LABEL, which would over-assign under duplicate index
    # labels (e.g. a concat'ed frame); the caller's index is restored
    # on return
    orig_index = text.index
    t = text.fillna("").reset_index(drop=True)
    tool = tool.reset_index(drop=True)
    fmt = pd.Series([None] * n, dtype=object)

    # 1. magic prefixes
    is_zip = t.str.startswith("UEsDB")
    is_ole = t.str.startswith("0M8R")
    is_pdf = t.str.startswith("%PDF")
    fmt[is_zip] = "zipb64"  # refined per-row below (needs ZIP introspection)
    fmt[is_ole] = "xls"
    fmt[is_pdf & fmt.isna()] = "pdf"

    # 2. tool hint
    hints = tool.fillna("").str.strip().str.lstrip(".").str.lower()
    hinted = hints.map(EXT_TO_FMT)
    take_hint = fmt.isna() & hinted.notna()
    fmt[take_hint] = hinted[take_hint]

    # steps 3-4 run ONLY over still-unresolved rows: hinted batches skip
    # the (object-dtype-expensive) lstrip/lower/regex passes entirely
    todo = fmt.isna()
    if not todo.any():
        fmt.index = orig_index
        return fmt
    sub = t[todo]

    # 3. JSON heuristic: first non-ws char is { or [
    head = sub.str.replace("﻿", "", n=1).str.lstrip(" \t\r\n\x0b\x0c").str[:1]
    fmt[head.index[head.isin(("{", "["))]] = "json"

    # 4. markup fallback for hint-less turns
    sub = t[fmt.isna()]
    low = sub.str.lstrip(" \t\r\n\x0b\x0c").str[:256].str.lower()
    html_like = (
        low.str.startswith("<!doctype html")
        | low.str.startswith("<html")
        | low.str.contains(
            r"<head|<body|<div|<p>|<p |<table|<h1|<ul|<span|<br",
            regex=True,
        )
    )
    fmt[low.index[html_like]] = "html"
    sub = low[~html_like]
    xml_like = sub.str.startswith("<?xml") | (
        sub.str.startswith("<") & sub.str.contains(">", regex=False)
    )
    fmt[sub.index[xml_like]] = "xml"
    fmt.index = orig_index
    return fmt


class EdgeParser(HTMLParser):
    """stdlib-tokenizer adapter onto the walker's edge layer.

    Tree construction (implied end tags, stack discipline) lives in
    _Walker.edge_* so both tokenizer paths share one implementation; this
    class only adapts html.parser's callback shapes and EOF quirks.
    """

    # html.parser only treats script/style as raw text; the WHATWG spec
    # (and html5ever, which the reference uses) also parses title and
    # textarea as RCDATA — '<p>' inside <title> is TEXT, not a tag.
    # Registering them here keeps the stdlib path equivalent to the fast
    # tokenizer's raw-text mode (differential-fuzz-found divergence on
    # unterminated titles).
    CDATA_CONTENT_ELEMENTS = ("script", "style", "title", "textarea")

    def __init__(self, walker: _Walker) -> None:
        super().__init__(convert_charrefs=True)
        self.walker = walker

    def handle_starttag(self, tag: str, attrs: list) -> None:
        # walkers only read attrs; share one empty dict for the common case
        self.walker.edge_starttag(
            tag, dict(attrs) if attrs else _EMPTY_ATTRS
        )

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        w = self.walker
        attrs_dict = dict(attrs) if attrs else _EMPTY_ATTRS
        w.handle_open(tag, attrs_dict)
        w.handle_close(tag)

    def handle_endtag(self, tag: str) -> None:
        self.walker.edge_endtag(tag)

    def handle_data(self, data: str) -> None:
        self.walker.edge_text(data)

    def close(self) -> None:
        # unterminated markup declaration at EOF ('<!...' / '<?...' with
        # no '>'): the WHATWG bogus-comment state swallows it (html5ever
        # and the fast tokenizer agree); html.parser would emit it as
        # data — drop the buffered tail instead
        if (not self.cdata_elem and self.rawdata
                and self.rawdata.startswith(("<!", "<?"))
                and ">" not in self.rawdata):
            self.rawdata = ""
        # unterminated RCDATA/raw-text element at EOF: html.parser's
        # goahead() buffers the tail forever (never emits it), but the
        # WHATWG spec — and html5ever, and the fast tokenizer — emit the
        # pending content as text. Flush it before closing.
        if self.cdata_elem and self.rawdata:
            elem = self.cdata_elem
            data, self.rawdata = self.rawdata, ""
            self.clear_cdata_mode()
            self.handle_data(data)
            self.handle_endtag(elem)
        super().close()
        self.walker.edge_eof()


def convert_html_stdlib(data: bytes) -> dict:
    """``html_conv.convert_html`` through :class:`EdgeParser`."""
    text = data.decode("utf-8")
    if text.startswith("\ufeff"):
        text = text[1:]
    walker = _Walker()
    parser = EdgeParser(walker)
    parser.feed(text)
    parser.close()
    return _finish(walker)
