"""Source guard for the silver store: ``_SilverStore``
(streaming/pipeline.py) is the only code that reads or writes a manifest
field, commits a manifest, parses a bucket out of a file path or builds a
default manifest.  Same idiom as tests/test_scratch.py: the guard, plus an
anti-tautology twin showing the class still does each of these under the
spelling the guard looks for.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "postgres_debezium_clickhouse_spark",
)
PIPELINE = os.path.join("streaming", "pipeline.py")

#: manifest fields, as literal keys and as the module constants naming them
MANIFEST_KEYS = {"version", "n_buckets", "files", "schema", "schema_union", "deltas",
                 "delta_spec", "projections", "sort_keys", "bloom_cols", "applied"}
KEY_CONSTANTS = {"SCHEMA_UNION", "DELTAS", "DELTA_SPEC"}
#: the one-line backend wrappers, which call the commit backend directly
WRAPPERS = {"_read_manifest", "_write_manifest"}
KINDS = {"manifest subscript", "manifest .get", "manifest commit", "bucket path parse",
         "default manifest"}


def _is_key(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return node.value in MANIFEST_KEYS
    return isinstance(node, ast.Name) and node.id in KEY_CONSTANTS


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _accesses(nodes: list[ast.AST], docstrings: set[int]) -> list[tuple[str, int]]:
    """``(kind, line)`` of every store-internal access under ``nodes``."""
    found = []
    for node in (n for top in nodes for n in ast.walk(top)):
        kind = None
        if isinstance(node, ast.Subscript) and _is_key(node.slice):
            kind = "manifest subscript"
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "get" and node.args and _is_key(node.args[0]):
                kind = "manifest .get"
            elif isinstance(node.func.value, ast.Name) and node.func.value.id == "COMMIT_BACKEND":
                kind = "manifest commit"
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id == "_write_manifest":
                kind = "manifest commit"
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if "__bucket=" in node.value and id(node) not in docstrings:
                kind = "bucket path parse"
        elif isinstance(node, ast.Dict):
            if {"version", "n_buckets"} <= {k.value for k in node.keys if isinstance(k, ast.Constant)}:
                kind = "default manifest"
        if kind:
            found.append((kind, node.lineno))
    return found


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(PKG, rel)) as fh:
        return ast.parse(fh.read())


def _split_pipeline() -> tuple[ast.ClassDef, list[ast.AST], set[int]]:
    tree = _parse(PIPELINE)
    store = [n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "_SilverStore"]
    assert len(store) == 1
    outside = [n for n in tree.body if n is not store[0] and not (
        isinstance(n, ast.FunctionDef) and n.name in WRAPPERS)]
    return store[0], outside, _docstrings(tree)


def _imports_pipeline(tree: ast.Module) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if (node.module or "").endswith("pipeline") or any(
                    a.name == "pipeline" for a in node.names):
                return True
        elif isinstance(node, ast.Import) and any(a.name.endswith(".pipeline") for a in node.names):
            return True
    return False


def test_only_the_store_touches_the_manifest():
    _store, outside, docstrings = _split_pipeline()
    offenders = [f"{PIPELINE}:{line}: {kind}" for kind, line in _accesses(outside, docstrings)]
    # every other module that can reach a store imports the pipeline module
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), PKG)
            if not fn.endswith(".py") or rel == PIPELINE:
                continue
            tree = _parse(rel)
            if _imports_pipeline(tree):
                offenders += [f"{rel}:{line}: {kind}"
                              for kind, line in _accesses([tree], _docstrings(tree))]
    assert not offenders, (
        "manifest fields, commits, bucket paths and the default manifest "
        "belong to _SilverStore — go through its methods:\n" + "\n".join(offenders)
    )


def test_store_still_does_each_guarded_access():
    """Anti-tautology twin: the guard above passes vacuously if the class
    stops making these accesses under the same spelling."""
    store, _outside, docstrings = _split_pipeline()
    assert {kind for kind, _ in _accesses([store], docstrings)} == KINDS
