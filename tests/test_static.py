"""Static checks over the library source (no Spark session needed)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tegallega_spark"


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of `os.environ`, `os.getenv` and `from os import
    environ/getenv` in one module."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                lines.append(node.lineno)
    return lines


def test_only_session_reads_the_environment():
    """Every environment knob lives in session.py; operators, pipelines
    and sources take plain constants or arguments."""
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        hits = _env_reads(ast.parse(path.read_text(), str(path)))
        if hits:
            offenders[str(path.relative_to(PKG))] = hits
    assert not offenders, offenders
