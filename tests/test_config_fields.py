"""Every ``PipelineConfig`` field must be read by the package: a field
nothing reads is an option that changes nothing. (Spark-free.)"""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import transner_spark
from transner_spark.config import PipelineConfig


def _attributes_read() -> set[str]:
    pkg = pathlib.Path(transner_spark.__file__).parent
    names: set[str] = set()
    for path in pkg.rglob("*.py"):
        if path.name == "config.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                names.add(node.attr)
    return names


def test_every_config_field_is_read():
    read = _attributes_read()
    unread = [f.name for f in dataclasses.fields(PipelineConfig) if f.name not in read]
    assert not unread, f"PipelineConfig fields nothing reads: {unread}"
