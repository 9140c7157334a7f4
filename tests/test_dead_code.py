"""Dead-code sweep: every top-level function and class in the package
must be referenced somewhere other than its own definition — by the
package, the tests, the benchmark, bench.py or the driver entry point.

References are read from the AST: names, attribute accesses, imported
names and string constants that spell an identifier (registries and
the benchmark's tracing table name functions by string). Docstrings and
comments do not count, so a function that only its own docs mention is
dead."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "surfactant_spark")
SCANNED = ("surfactant_spark", "tests", "perfbench", "bench.py", "__spark_entry__.py")
_IDENT = re.compile(r"[A-Za-z_]\w*")


def _py_files():
    for entry in SCANNED:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            yield path
        for dirpath, _, files in os.walk(path):
            yield from (os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _references(tree) -> Counter:
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _IDENT.fullmatch(node.value)
        ):
            refs[node.value] += 1
    return refs


def test_every_top_level_definition_is_referenced():
    refs = Counter()
    for path in _py_files():
        refs += _references(_parse(path))
    unreferenced = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            for node in _parse(path).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if refs[node.name] == 0:
                        unreferenced.append(f"{os.path.relpath(path, ROOT)}:{node.name}")
    assert not unreferenced, f"defined but never referenced: {unreferenced}"
