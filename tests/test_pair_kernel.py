"""Every LSH dedup operator takes its candidate pairs from one kernel,
``operators/dedup.py::_bucket_pairs``: the salted bucket join and the
``_corp`` pair rule (new vs corpus, replayed ids superseded) are written
there and nowhere else in the package."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "rasters_rs_spark"
KERNEL = ("operators/dedup.py", "_bucket_pairs")


def _uses(pred) -> list:
    """(file, enclosing top-level def, line) of every AST node under the
    package that satisfies ``pred``."""
    hits = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if pred(node):
                    hits.append((str(p.relative_to(PKG)),
                                 getattr(top, "name", None), node.lineno))
    return hits


def test_salted_bucket_join_called_only_by_the_kernel():
    hits = _uses(lambda n: isinstance(n, ast.Call)
                 and isinstance(n.func, (ast.Name, ast.Attribute))
                 and getattr(n.func, "id", getattr(n.func, "attr", None))
                 == "_salted_bucket_join")
    assert [h[:2] for h in hits] == [KERNEL], hits


def test_corp_pair_rule_only_in_the_kernel():
    hits = _uses(lambda n: isinstance(n, ast.Constant) and n.value == "_corp")
    assert hits and {h[:2] for h in hits} == {KERNEL}, hits
