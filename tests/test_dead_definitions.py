"""No function or class is defined at the top level of the library and then
referenced nowhere: every top-level def in ``lakehouse_spark/`` must be
named somewhere outside its own body — in the library, the tests, the
benchmark, or the repo-root entry points and scripts. A name counts as
referenced wherever it appears as a word (code, docstring or comment), so
the scan is a cheap token count, not a call graph."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_EXEMPT = {"__getattr__"}  # module-level hook, called by the import system


def _sources() -> list[Path]:
    files = [
        p
        for d in ("lakehouse_spark", "tests", "perfbench")
        for p in (ROOT / d).rglob("*.py")
    ]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files + sorted(ROOT.glob("scripts_*.py"))


def test_no_unreferenced_top_level_definitions():
    words: Counter[str] = Counter()
    defs = []  # (module, name, count of the name inside its own body)
    for path in _sources():
        text = path.read_text()
        words.update(_WORD.findall(text))
        if ROOT / "lakehouse_spark" not in path.parents:
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                own = sum(1 for w in _WORD.findall(body) if w == node.name)
                defs.append((path.relative_to(ROOT), node.name, own))
    dead = [
        f"{mod}:{name}"
        for mod, name, own in defs
        if name not in _EXEMPT and words[name] <= own
    ]
    assert not dead, f"defined but never referenced: {dead}"
