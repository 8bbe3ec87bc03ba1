#!/usr/bin/env python
"""Public definitions of the package that no non-test file names.

Finds every public top-level function and class (no leading underscore) in
the modules of ``gpu_telemetry_lakehouse_spark`` with an AST scan, then
looks for its name as a word in the repository's non-test Python files,
outside the definition's own lines. Any mention counts: a call, an import,
a registry string or a cross-reference in another docstring. A definition
that nothing names is reached by tests alone, or by nothing — a candidate
for deletion or for wiring into a production path.

Prints one line per such definition (line count, module::name), largest
first, then the totals. Usage, from the root of a checkout:

    python tools/reachability.py
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "gpu_telemetry_lakehouse_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}
WORD = re.compile(r"[A-Za-z_]\w*")


def _python_files(top: str):
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS and not x.startswith(".")]
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def unreached() -> list[tuple[int, str, str]]:
    """(line count, module path, name) of each public top-level definition
    of the package whose name no non-test file mentions outside it."""
    lines = {}
    for path in _python_files(ROOT):
        with open(path) as f:
            lines[path] = f.read().split("\n")
    mentions = Counter(w for ls in lines.values() for line in ls for w in WORD.findall(line))
    out = []
    for path, ls in lines.items():
        if not path.startswith(os.path.join(ROOT, PACKAGE) + os.sep):
            continue
        for node in ast.parse("\n".join(ls), filename=path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            own = ls[node.lineno - 1 : node.end_lineno]
            own_mentions = sum(WORD.findall(line).count(node.name) for line in own)
            if mentions[node.name] == own_mentions:
                n_lines = node.end_lineno - node.lineno + 1
                out.append((n_lines, os.path.relpath(path, ROOT), node.name))
    return sorted(out, key=lambda d: (-d[0], d[1], d[2]))


def main() -> None:
    found = unreached()
    for n_lines, module, name in found:
        print(f"{n_lines:5d}  {module}::{name}")
    print(f"{len(found)} definitions, {sum(d[0] for d in found)} lines")


if __name__ == "__main__":
    main()
