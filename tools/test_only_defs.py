"""List the top-level defs of ``rasters_rs_spark/`` that only tests call.

An AST census, with no import of the package: for every top-level
function or class in ``rasters_rs_spark/``, it collects the names that
the other code refers to (``Name`` ids, attribute names and imported
names) and counts a def as called from a place when its name appears
there outside the def's own body. The places searched are the package,
``__spark_entry__.py``, ``bench*.py``, ``perfbench/`` and ``tools/``;
``tests/`` is searched apart. A def whose name appears under
``tests/`` and in none of the other places is printed with its line
count, then the totals. Names are matched without their module, so a
def that shares its name with a name used elsewhere counts as called.

    python tools/test_only_defs.py [--json]
"""

from __future__ import annotations

import argparse
import ast
import collections
import glob
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(*patterns):
    out = []
    for p in patterns:
        out += glob.glob(os.path.join(ROOT, p), recursive=True)
    return sorted(set(out))


def _names(tree, skip=None):
    """Counter of the names ``tree`` refers to, leaving out the subtree
    ``skip`` (a def's own body)."""
    seen = collections.Counter()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            seen[node.id] += 1
        elif isinstance(node, ast.Attribute):
            seen[node.attr] += 1
        elif isinstance(node, ast.alias):
            seen[node.name.rsplit(".", 1)[-1]] += 1
        stack.extend(ast.iter_child_nodes(node))
    return seen


def census():
    pkg = _files("rasters_rs_spark/**/*.py")
    others = _files("__spark_entry__.py", "bench*.py", "perfbench/**/*.py",
                    "tools/**/*.py")
    tests = _files("tests/**/*.py")
    parsed = {}
    for path in pkg + others + tests:
        with open(path, encoding="utf-8") as f:
            parsed[path] = ast.parse(f.read(), filename=path)
    outside = collections.Counter()
    for path in others:
        outside.update(_names(parsed[path]))
    in_tests = collections.Counter()
    for path in tests:
        in_tests.update(_names(parsed[path]))
    pkg_names = {path: _names(parsed[path]) for path in pkg}

    rows = []
    for path in pkg:
        for node in parsed[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            name = node.name
            # references in the package, minus those inside the def itself
            own = _names(node)[name]
            in_pkg = sum(c[name] for c in pkg_names.values()) - own
            if in_tests[name] and not in_pkg and not outside[name]:
                rows.append({
                    "def": f"{os.path.relpath(path, ROOT)}::{name}",
                    "lines": node.end_lineno - node.lineno + 1,
                })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--json", action="store_true",
                    help="print one JSON object instead of a table")
    args = ap.parse_args()
    rows = census()
    total = sum(r["lines"] for r in rows)
    if args.json:
        print(json.dumps({"defs": rows, "count": len(rows),
                          "lines": total}, indent=1))
        return
    for r in rows:
        print(f"{r['lines']:5d}  {r['def']}")
    print(f"{len(rows)} test-only defs, {total} lines")


if __name__ == "__main__":
    main()
