"""The engine reads its environment in one place: every other setting is
a module constant (tests monkeypatch those), so a new knob read at a
call site fails here."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "veloci_spark")


def _env_reads() -> list[tuple[str, int, str]]:
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        src = open(path, encoding="utf-8").read()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            if name in ("environ", "getenv", "getenvb"):
                rel = os.path.relpath(path, PKG)
                sites.append((rel, node.lineno, lines[node.lineno - 1].strip()))
    return sites


def test_only_the_index_cache_root_is_read_from_the_environment():
    sites = _env_reads()
    assert len(sites) == 1, sites
    rel, _, line = sites[0]
    assert rel == "config.py" and "VELOCI_SPARK_INDEX_CACHE" in line, sites
