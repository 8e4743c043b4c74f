"""No dead engine code: every top-level function and class in
``philotes_spark/`` is named somewhere in the repository's Python files
besides its own definition — called, imported, or looked up by its exact
name as a string. Queries registered with ``@query`` are exempt: the
registry calls them by their registered name.

A mention in a docstring or comment is not a use, so a definition that
only prose names is dead too.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "philotes_spark")


def _py_files():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _names(tree):
    """Every identifier ``tree`` uses: names, attributes, imported names
    and identifier-shaped string constants."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _registered(node):
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def test_every_engine_definition_is_used():
    used, defs = set(), []
    for path in _py_files():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        used.update(_names(tree))
        if path.startswith(ENGINE + os.sep):
            defs += [
                (os.path.relpath(path, ROOT), n.name)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _registered(n)
            ]
    assert defs, "the scan found no engine definitions"
    dead = [f"{path}::{name}" for path, name in defs if name not in used]
    assert dead == [], dead
