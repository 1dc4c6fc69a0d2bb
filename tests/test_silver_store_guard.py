"""Source guards for the silver store (streaming/pipeline.py).

``_SilverStore`` is the only code that reads or writes a manifest field,
commits a manifest, parses a bucket out of a file path or builds a
default manifest; every base-bucket rewrite goes through its one
touched-bucket merge (``merge``) and its one bucket writer
(``_write_plan``); every merge is built by the one merge builder
(``_merge_of``); and the additive stores' ops are dispatched only by the
op table (``_OPS``).  Same idiom as tests/test_scratch.py: each guard,
plus an anti-tautology twin showing that it still sees what it looks for.
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


# -- one fold, one bucket writer ------------------------------------------

#: the one merge builder: every store kind's merge, for the store's
#: touched-bucket merge, its FINAL read and the fold, is built here
MERGE_BUILDER = "_merge_of"


def _fork_findings(tree: ast.Module) -> list[tuple[str, str]]:
    """``(where, kind)`` of every fork of the store's rewrite path in
    ``tree``: a ``merge_touched`` call outside the one merge builder, a
    ``_write_buckets`` with other than one caller, and a module-level
    function reading base buckets itself (``.base(``)."""
    allowed = {id(node) for top in tree.body
               if isinstance(top, ast.FunctionDef) and top.name == MERGE_BUILDER
               for node in ast.walk(top)}
    found, writers = [], []
    for top in tree.body:
        scopes = top.body if isinstance(top, ast.ClassDef) else [top]
        for scope in scopes:
            name = getattr(scope, "name", "<module>")
            for node in ast.walk(scope):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                if isinstance(func, ast.Name) and func.id == "merge_touched" and id(node) not in allowed:
                    found.append((name, "merge_touched outside the merge step"))
                elif isinstance(func, ast.Attribute) and func.attr == "_write_buckets":
                    writers.append(name)
                elif (isinstance(func, ast.Attribute) and func.attr == "base"
                      and isinstance(top, ast.FunctionDef)):
                    found.append((name, "base read outside the store"))
    if len(writers) != 1:
        found += [(w, "second bucket writer") for w in writers]
    return found


def test_one_fold_and_one_bucket_writer():
    """Every base-bucket rewrite — publish, the inline and the background
    fold of every store kind, the transaction trigger's pending buffer —
    merges through ``_SilverStore.merge`` by the merge ``_merge_of``
    builds, and writes through ``_write_plan``, the one caller of
    ``_write_buckets``."""
    found = _fork_findings(_parse(PIPELINE))
    assert not found, "a second merge or bucket-write path in the pipeline:\n" + "\n".join(
        f"{where}: {kind}" for where, kind in found)
    store = _split_pipeline()[0]
    writer = [m.name for m in store.body if isinstance(m, ast.FunctionDef) for node in ast.walk(m)
              if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr == "_write_buckets"]
    assert writer == ["_write_plan"], writer


def test_fork_guard_sees_the_forked_fold():
    """Anti-tautology twin: the guard flags the forked shape — an inline
    fold through a free touched-bucket merge beside a background fold
    with its own merge and its own bucket write, and a read merging by
    itself — and lets the one merge builder call ``merge_touched``."""
    old = '''
def _merge_of(spec):
    return lambda current, events: merge_touched(events, current, spec["keys"])


class _SilverStore:
    def read(self, spark):
        return merge_touched(self._delta_rows(spark), base, spec["keys"])

    def publish(self, df, keys, replaced, edits=None):
        written = self._write_buckets(bucketed.repartition(width, "__bucket"), sort, rel)

    def fold(self, spark, events, spec):
        _touched_bucket_merge(
            events, self, keys, prepare=lambda b: b,
            merge_fn=lambda current, prepared: merge_touched(prepared, current, keys),
            edits={DELTAS: []},
        )

    def fold_prepare(self, spark):
        merged = merge_touched(events, self.base(spark, buckets), keys)
        written = self._write_buckets(bucketed, keys, rel)


def _touched_bucket_merge(batch, store, keys, prepare, merge_fn, edits=None):
    store.publish(merge_fn(store.base(spark, touched), prepared), keys, touched, edits)
'''
    assert sorted(_fork_findings(ast.parse(old))) == [
        ("_touched_bucket_merge", "base read outside the store"),
        ("fold", "merge_touched outside the merge step"),
        ("fold_prepare", "merge_touched outside the merge step"),
        ("fold_prepare", "second bucket writer"),
        ("publish", "second bucket writer"),
        ("read", "merge_touched outside the merge step"),
    ]


# -- one data-file writer ---------------------------------------------------

#: the one user of Spark's DataFrameWriter: stores with bloom columns,
#: which pyarrow cannot write
BLOOM_EXCEPTION = "_spark_files"
#: the Arrow data-file kernel and the per-layout bucket writer
ONE_CALLER = ("_arrow_files", "_write_buckets")


def _writer_findings(tree: ast.Module) -> list[tuple[str, str]]:
    """``(where, kind)`` of every way around the one data-file writer in
    ``tree``: a DataFrameWriter (``.write``, read as a property) outside
    the bloom exception, and a kernel or ``_write_buckets`` referenced by
    other than one function."""
    found, users = [], {name: [] for name in ONE_CALLER}
    for top in tree.body:
        scopes = top.body if isinstance(top, ast.ClassDef) else [top]
        for scope in scopes:
            where = getattr(scope, "name", "<module>")
            called = {id(n.func) for n in ast.walk(scope) if isinstance(n, ast.Call)}
            for node in ast.walk(scope):
                if not isinstance(node, ast.Attribute):
                    continue
                if node.attr == "write" and id(node) not in called and where != BLOOM_EXCEPTION:
                    found.append((where, "DataFrameWriter outside the bloom exception"))
                elif node.attr in users:
                    users[node.attr].append(where)
    for name, where in users.items():
        if len(where) != 1:
            found.append((name, f"{len(where)} callers"))
    return found


def test_one_data_file_writer():
    """Deltas and bucket files, of every layout, are written by the one
    Arrow kernel through ``_write_files``; only the bloom exception uses
    Spark's writer."""
    found = _writer_findings(_parse(PIPELINE))
    assert not found, "a second data-file writer in the pipeline:\n" + "\n".join(
        f"{where}: {kind}" for where, kind in found)


def test_writer_guard_sees_a_spark_write():
    """Anti-tautology twin: the guard flags the delta writer as it was
    before the Arrow kernel, a Spark write of the claimed epoch dir."""
    old = '''
class _SilverStore:
    def publish_delta(self, rows, spec, plan=None):
        with self._claim() as epoch_dir:
            one.sortWithinPartitions(*spec["keys"]).write.options(
                **self._write_options()
            ).parquet(epoch_dir)

    def _write_plan(self, df, keys, buckets, epoch, width, deltas=()):
        written += [r["file"] for r in self._write_buckets(bucketed, sort, rel)]

    def _write_files(self, df, rel):
        write = functools.partial(_SilverStore._arrow_files, self.path, rel, block)

    def _spark_files(self, df, rel):
        writer = df.write.mode("append").options(**opts)
'''
    assert _writer_findings(ast.parse(old)) == [
        ("publish_delta", "DataFrameWriter outside the bloom exception")]


# -- one op table -----------------------------------------------------------

#: the additive stores' op table: each op's partial and merge
OP_TABLE = "_OPS"


def _op_table(tree: ast.Module) -> ast.AST | None:
    tables = [n for n in tree.body if isinstance(n, ast.AnnAssign)
              and isinstance(n.target, ast.Name) and n.target.id == OP_TABLE]
    return tables[0] if tables else None


def _op_findings(tree: ast.Module, names: set[str]) -> list[tuple[str, str]]:
    """``(where, op)`` of every dispatch on an op name outside the op
    table: an op name compared with (``==``, ``in`` a literal tuple …),
    subscripted or ``.get``-ed by — the if-chains the table replaced."""
    table = _op_table(tree)
    skip = {id(n) for n in ast.walk(table)} if table is not None else set()
    found = []

    def named(node) -> list[str]:
        elts = node.elts if isinstance(node, (ast.Tuple, ast.List, ast.Set)) else [node]
        return [e.value for e in elts if isinstance(e, ast.Constant) and e.value in names]

    def visit(node, where):
        if id(node) in skip:
            return
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            where = node.name
        if isinstance(node, ast.Compare):
            found.extend((where, op) for side in [node.left, *node.comparators]
                         for op in named(side))
        elif isinstance(node, ast.Subscript):
            found.extend((where, op) for op in named(node.slice))
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
              and node.func.attr == "get" and node.args):
            found.extend((where, op) for op in named(node.args[0]))
        for child in ast.iter_child_nodes(node):
            visit(child, where)

    visit(tree, "<module>")
    return found


def _table_names(tree: ast.Module) -> set[str]:
    table = _op_table(tree)
    assert table is not None and isinstance(table.value, ast.Dict)
    return {k.value for k in table.value.keys if isinstance(k, ast.Constant)}


def test_ops_are_dispatched_only_by_the_op_table():
    """Every op's algebra — the summing sink's 15 ops and the collapsing
    stores' one — is a partial and a merge in ``_OPS``: no code outside
    the table dispatches on an op name, so a new op is one table entry
    that every trigger, fold and read applies."""
    import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

    tree = _parse(PIPELINE)
    names = _table_names(tree)
    assert names == set(pl._OPS) and len(set(pl.AGG_OPS) | set(pl._KEYED_OPS)) == 15
    assert set(pl.AGG_OPS) | set(pl._KEYED_OPS) < names
    found = _op_findings(tree, names)
    assert not found, "op algebra outside the op table:\n" + "\n".join(
        f"{where}: {op!r}" for where, op in found)


def test_op_guard_sees_the_closure_if_chains():
    """Anti-tautology twin: the guard flags the summing sink's closures
    as they were before the op table — ``_ingest``/``_remerge`` if-chains
    over the op names — and a rollup validating its own op list."""
    old = '''
def silver_summing_stream(events, path, checkpoint, keys, agg_spec=None):
    topk_outs = [(out, src) for out, (src, op) in spec.items()
                 if _parse_agg_op(op)[0] in ("topk", "topkweighted")]

    def _ingest(out, src, op):
        base, ord_col = _parse_agg_op(op)
        if base == "sum":
            return F.sum(F.col(src).cast(ingest_t)).cast(acc).alias(out)
        if base in ("summap", "minmap", "maxmap"):
            return _map_agg(F.col(src).cast(map_ingest_t), base).alias(out)
        return getattr(F, base)(F.col(src)).alias(out)

    def _remerge(out, op):
        base, _ = _parse_agg_op(op)
        if base == "kmv":
            return F.slice(F.array_sort(F.array_distinct(F.flatten(F.collect_list(out)))), 1, k)
        return getattr(F, base)(F.col(out)).alias(out)


def ttl_rollup_silver(spark, path, keys, ttl_col, older_than, coarsen, agg_spec):
    for c, op in spec.items():
        if op not in ("sum", "min", "max"):
            raise ValueError(op)
'''
    names = _table_names(_parse(PIPELINE))
    assert sorted(_op_findings(ast.parse(old), names)) == sorted([
        ("silver_summing_stream", "topk"), ("silver_summing_stream", "topkweighted"),
        ("_ingest", "sum"), ("_ingest", "summap"), ("_ingest", "minmap"), ("_ingest", "maxmap"),
        ("_remerge", "kmv"),
        ("ttl_rollup_silver", "sum"), ("ttl_rollup_silver", "min"), ("ttl_rollup_silver", "max"),
    ])
