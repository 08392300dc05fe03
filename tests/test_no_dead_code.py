"""Tooling guard: every public top-level function and class in the
package is named somewhere outside its own definition.

A pure-Python scan (no Spark): the package's top-level definitions come
from its AST, and a name counts as used when it appears as a whole word
anywhere in the package, ``tools/``, ``tests/``, ``plans/`` or
``bench.py`` — except inside the definition itself. There is no
allowlist: code that nothing names is deleted, not excused."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_ingestion_tool_bakasura__spark"
SCOPE = [PACKAGE, ROOT / "tools", ROOT / "tests", ROOT / "plans", ROOT / "bench.py"]


def _sources() -> dict[Path, str]:
    files: list[Path] = []
    for p in SCOPE:
        if p.is_dir():
            files.extend(sorted(p.rglob("*.py")))
        elif p.exists():
            files.append(p)
    return {f: f.read_text() for f in files}


def _public_definitions(src: str):
    """(name, first line, last line) of each public top-level def/class,
    decorators included, 0-based and inclusive."""
    for node in ast.parse(src).body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first - 1, node.end_lineno - 1


def test_no_unreferenced_public_definitions():
    sources = _sources()
    lines = {path: [set(re.findall(r"\w+", ln)) for ln in src.splitlines()]
             for path, src in sources.items()}
    lines_naming = Counter(w for ls in lines.values() for words in ls for w in words)
    dead = []
    for path, src in sources.items():
        if PACKAGE not in path.parents:
            continue
        for name, first, last in _public_definitions(src):
            own = sum(name in words for words in lines[path][first:last + 1])
            if lines_naming[name] == own:
                dead.append(f"{path.relative_to(ROOT)}:{name}")
    assert not dead, (
        "public definitions named nowhere outside themselves — delete them "
        f"or use them: {sorted(dead)}"
    )
