"""Every top-level function and class in ``spark_pit`` is referenced
somewhere in the repository's Python sources (engine, tests, tools,
benchmarks) besides its own definition. Pure Python: no Spark session."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SKIP = {".benchmarks", "spark-warehouse"}


def _sources() -> dict[Path, str]:
    return {
        p: p.read_text(encoding="utf-8")
        for p in sorted(ROOT.rglob("*.py"))
        if not SKIP & set(p.relative_to(ROOT).parts)
    }


def test_no_unreferenced_definitions():
    src = _sources()
    defs = Counter()  # name -> number of top-level definitions
    where = {}
    for p, text in src.items():
        if p.relative_to(ROOT).parts[0] != "spark_pit":
            continue
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] += 1
                where[node.name] = f"{p.relative_to(ROOT)}:{node.lineno}"
    words = Counter(w for text in src.values() for w in re.findall(r"\w+", text))
    dead = sorted(where[n] + f" {n}" for n, k in defs.items() if words[n] <= k)
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
