"""Port of the reference detection test suite
(/root/reference/src/detection.rs tests), mapped onto the transcript-turn
detection of the production kernel: ``detect_by_extension`` mirrors the
extension table, ``batch.classify_formats`` mirrors detect_format's
magic/heuristic priority (binary magics arrive base64-encoded in a text
column), and the resolved ``fmt`` column of a one-row ``convert_batch``
shows what that class became after ZIP introspection."""

from __future__ import annotations

import base64

import pandas as pd
import pytest

from anytomd_spark.batch import classify_formats
from anytomd_spark.kernels import sniff
from tests.conftest import convert_turn


class TestDetectByExtension:
    @pytest.mark.parametrize("ext,want", [
        ("docx", "docx"), ("pptx", "pptx"), ("xlsx", "xlsx"),
        ("csv", "csv"), ("json", "json"), ("txt", "txt"),
        ("pdf", "pdf"), ("html", "html"), ("htm", "html"),
        ("ipynb", "ipynb"), ("xml", "xml"), ("xls", "xls"),
    ])
    def test_direct_extensions(self, ext, want):
        assert sniff.detect_by_extension(ext) == want

    @pytest.mark.parametrize("ext", [
        "log", "md", "markdown", "rst", "ini", "cfg", "conf", "toml",
        "yaml", "yml",
    ])
    def test_text_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "txt"

    @pytest.mark.parametrize("ext", [
        "png", "jpg", "jpeg", "gif", "webp", "bmp", "tiff", "tif", "svg",
        "heic", "heif", "avif",
    ])
    def test_image_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "image"

    @pytest.mark.parametrize("ext", sorted(sniff.CODE_EXTS))
    def test_code_variants(self, ext):
        assert sniff.detect_by_extension(ext) == "code"

    def test_unknown_returns_none(self):
        assert sniff.detect_by_extension("xyz") is None

    def test_no_extension_returns_none(self):
        assert sniff.detect_by_extension("") is None


def _classify(payload: str, hint: str | None) -> str | None:
    return classify_formats(pd.Series([payload]), pd.Series([hint]))[0]


class TestSniffPriority:
    def test_zip_magic_overrides_extension(self):
        # a base64 ZIP in a turn hinted csv still resolves by introspection
        payload = base64.b64encode(b"PK\x03\x04junk").decode()
        assert _classify(payload, "csv") == "zipb64"
        out = convert_turn(payload, "csv")
        assert out["fmt"] == "zip"
        assert out["error"] == "unsupported format: unrecognized ZIP"

    def test_pdf_magic_overrides_extension(self):
        assert _classify("%PDF-1.7 content", "txt") == "pdf"
        assert convert_turn("%PDF-1.7 content", "txt")["fmt"] == "pdf"

    def test_json_heuristic_object(self):
        assert _classify('  { "key": "value" }', None) == "json"
        assert convert_turn('  { "key": "value" }')["fmt"] == "json"

    def test_json_heuristic_array(self):
        assert _classify("[1, 2, 3]", None) == "json"
        assert convert_turn("[1, 2, 3]")["fmt"] == "json"

    def test_txt_hint_beats_json_heuristic(self):
        payload = "{ this is just a text file }"
        assert _classify(payload, "txt") == "txt"
        assert convert_turn(payload, "txt")["fmt"] == "txt"

    def test_csv_hint_beats_bracket_heuristic(self):
        payload = "[header1],header2\nval1,val2"
        assert _classify(payload, "csv") == "csv"
        assert convert_turn(payload, "csv")["fmt"] == "csv"

    def test_json_heuristic_with_utf8_bom(self):
        payload = '\ufeff{"key":"value"}'
        assert _classify(payload, None) == "json"
        assert convert_turn(payload)["fmt"] == "json"

    def test_ipynb_hint_not_caught_by_json_heuristic(self):
        assert _classify('{ "cells": [] }', "ipynb") == "ipynb"
        assert convert_turn('{ "cells": [] }', "ipynb")["fmt"] == "ipynb"

    def test_ole_magic_is_xls(self):
        payload = base64.b64encode(
            b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 8
        ).decode()
        assert _classify(payload, None) == "xls"
        assert convert_turn(payload)["fmt"] == "xls"
