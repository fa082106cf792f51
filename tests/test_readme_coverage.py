"""The README coverage map names only code that exists.

Every backticked name in the map's Implementation column must resolve:

- ``pkg/path.name`` (also ``pkg/path.a/b`` and ``pkg/path.*``) imports
  the package module and looks each name up;
- ``.name`` continues the previous module in the same cell;
- a bare ``name`` resolves against the previous module in the cell, then
  ``pyspark.sql.functions``, then ``DataFrame``; ``F.name`` is
  ``pyspark.sql.functions``;
- a ``*.py`` path must exist, under the package or the repo root;
- a ``*.json`` path is a file a tool writes, not code, and is skipped.

A function deleted from the package but left in the map fails here.
"""

from __future__ import annotations

import importlib
import re
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parents[1]
PKG = "streaming_data_pipeline_capstone_spark"


def _implementation_cells() -> list[tuple[str, str]]:
    text = (ROOT / "README.md").read_text()
    table = text.split("## Coverage map", 1)[1].split("\n## ", 1)[0]
    out = []
    for line in table.splitlines():
        if not line.startswith("| ") or line.startswith("|---"):
            continue
        cells = [c.strip() for c in re.split(r"(?<!\\)\|", line)[1:-1]]
        if cells[1] != "Implementation":
            out.append((cells[0], cells[1]))
    return out


def _import(path: str):
    return importlib.import_module(f"{PKG}.{path.replace('/', '.')}")


def _unresolved(cell: str) -> list[str]:
    missing = []
    module = None
    for tok in re.findall(r"`([^`]+)`", cell):
        if tok.endswith(".json"):
            continue
        if tok.endswith(".py"):
            if (ROOT / PKG / tok).is_file():
                module = _import(tok[: -len(".py")])
            elif not (ROOT / tok).is_file():
                missing.append(tok)
            continue
        if tok.startswith("."):
            owners, names = [module], [tok[1:]]
        elif "." in tok:
            head, rest = tok.split(".", 1)
            try:
                module = F if head == "F" else _import(head)
            except ImportError:
                missing.append(tok)
                continue
            owners, names = [module], rest.split("/")
        elif "/" in tok:
            try:
                module = _import(tok.removesuffix("/*"))
            except ImportError:
                missing.append(tok)
            continue
        else:
            owners, names = [module, F, DataFrame], [tok]
        for name in names:
            if name != "*" and not any(o is not None and hasattr(o, name) for o in owners):
                missing.append(tok)
    return missing


def test_coverage_map_names_resolve():
    rows = _implementation_cells()
    assert len(rows) > 40, "coverage map table not found in README.md"
    bad = {ids: m for ids, cell in rows if (m := _unresolved(cell))}
    assert not bad, f"README coverage map names code that does not exist: {bad}"
