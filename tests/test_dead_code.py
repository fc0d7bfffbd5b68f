"""Dead-code guard: every module-level function, class and constant
defined in ``orchid_fst_spark/`` must be referenced by name somewhere
other than its own definition.

References are read from the AST (loaded names, attribute accesses and
imported names) of the library, ``__spark_entry__.py``, ``bench.py``,
``scripts/``, ``perfbench/`` and ``tests/``.  Package ``__init__.py``
files are skipped: a re-export or an ``__all__`` entry is not a use.
A definition's references to itself (recursion) do not count.  No
Spark session is started.
"""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "orchid_fst_spark")


def _py_files(*dirs):
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in sorted(names):
                if n.endswith(".py"):
                    yield os.path.join(base, n)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _defined_names(node):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def _references(tree, skip):
    """Names referenced in ``tree``; ``skip`` maps a name to the line
    spans of its own definitions in this file."""
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        line = getattr(node, "lineno", None)
        if line is not None and any(
            lo <= line <= hi for lo, hi in skip.get(name, ())
        ):
            continue
        refs[name] += 1
    return refs


def test_every_library_definition_is_referenced():
    trees = {
        p: _parse(p)
        for p in _py_files(
            PKG,
            os.path.join(ROOT, "scripts"),
            os.path.join(ROOT, "perfbench"),
            os.path.join(ROOT, "tests"),
        )
    }
    for top in ("__spark_entry__.py", "bench.py"):
        p = os.path.join(ROOT, top)
        trees[p] = _parse(p)

    defs = {}  # (file, name) -> [(first line, last line)]
    for p, tree in trees.items():
        if not p.startswith(PKG + os.sep) or p.endswith("__init__.py"):
            continue
        for node in tree.body:
            for name in _defined_names(node):
                if not (name.startswith("__") and name.endswith("__")):
                    defs.setdefault((p, name), []).append(
                        (node.lineno, node.end_lineno)
                    )

    refs = Counter()
    for p, tree in trees.items():
        if p.startswith(PKG + os.sep) and p.endswith("__init__.py"):
            continue
        skip = {}
        for (q, name), spans in defs.items():
            if q == p:
                skip[name] = spans
        refs.update(_references(tree, skip))

    unused = sorted(
        f"{os.path.relpath(p, ROOT)}:{spans[0][0]} {name}"
        for (p, name), spans in defs.items()
        if refs[name] == 0
    )
    assert not unused, "defined but never referenced:\n" + "\n".join(unused)
