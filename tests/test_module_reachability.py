"""Every package module has a caller outside the tests.

A module that only its own test file imports is code nothing needs. This
walks the import statements (module level and inside functions) of every
non-test file — the package, ``__spark_entry__.py``, ``bench.py``,
``perfbench/`` and ``scripts/`` — resolves each one to a module path, and
requires every ``graph_data_science_spark`` module other than an
``__init__`` to be among them."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "graph_data_science_spark"


def _py_files(rel):
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        yield path
        return
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)


def _module_name(path):
    rel = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _package_modules():
    return {_module_name(p) for p in _py_files(PACKAGE)}


def _imported_modules(path, known):
    """Module paths that the imports in ``path`` name. ``from a import b``
    names ``a.b`` as well when ``a.b`` is a module."""
    this = _module_name(path)
    is_pkg = os.path.basename(path) == "__init__.py"
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = this.split(".")
                drop = node.level - 1 if is_pkg else node.level
                base = ".".join(parts[:len(parts) - drop])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names
                       if f"{base}.{alias.name}" in known)
    out.discard(this)
    return out


def test_every_package_module_has_a_non_test_importer():
    known = _package_modules()
    reached = set()
    for rel in (PACKAGE, "__spark_entry__.py", "bench.py", "perfbench",
                "scripts"):
        for path in _py_files(rel):
            reached |= _imported_modules(path, known)
    leaves = {m for m in known if not os.path.exists(
        os.path.join(REPO, *m.split("."), "__init__.py"))}
    assert sorted(leaves - reached) == []
