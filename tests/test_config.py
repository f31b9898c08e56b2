"""ExtractConfig carries no inert knobs: every field is read somewhere."""

import ast
import dataclasses
from pathlib import Path

import pytest

import pbx_ds_ocr_server_spark
from pbx_ds_ocr_server_spark.config import ExtractConfig


def test_every_config_field_is_read():
    pkg = Path(pbx_ds_ocr_server_spark.__file__).parent
    read = {
        node.attr
        for path in pkg.rglob("*.py")
        if path.name != "config.py"
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }
    fields = {f.name for f in dataclasses.fields(ExtractConfig)}
    assert fields - read == set()


def test_unknown_mode_is_rejected():
    # an unknown name would silently render plain text
    with pytest.raises(ValueError, match="mode"):
        ExtractConfig(mode="html")
