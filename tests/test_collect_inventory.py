"""Driver-side ``.collect()`` inventory guard (r15, verdict item 6).

Every ``.collect()`` in the package ships data to the driver; at the
100 TB design point an unbounded one inverts the whole plan (the
operator stops being distributed).  The r10-r12 format-ingest queries
carried full-table collects to build their fixture dumps — fixed in
r15 by executor-side ``mapInPandas`` segment encoding
(ops_queries._write_fixture_segments).  This test freezes the audit:
every remaining ``.collect()`` call site must appear in the allowlist
below WITH its boundedness argument, and the per-file counts must
match exactly — a new collect anywhere in the package fails here
until it is audited and listed.

The guard is source-level on purpose (same idiom as
test_bounded_windows.py's site allowlist): plan-shape tests catch a
bad plan only for the queries they run; this catches the pattern at
authoring time for every code path.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "postgres_debezium_clickhouse_spark",
)

# file (relative to the package) -> list of (line-substring, why-bounded).
# Counts are exact: each entry must match EXACTLY as many .collect()
# lines as it appears times in this list.
ALLOWED: dict[str, list[tuple[str, str]]] = {
    "plans/llm_corpus_queries.py": [
        ("bytebpe_top_merges(train, k=3).collect()",
         "k-row merge table (k=3)"),
    ],
    "plans/ops_queries.py": [
        ('events.groupBy().agg(F.min("ts"), F.max("ts")).collect()[0]',
         "1-row global min/max aggregate"),
        (").collect()  # n_segments-row manifest — bounded, not data-sized",
         "fixture-segment write manifest: n_segments rows (4)"),
    ],
    "operators/graph.py": [
        (".collect()[0].d",
         "1-row convergence scalar per PageRank iteration"),
    ],
    "operators/similarity.py": [
        ("limit(n_centroids).collect()",
         "IVF seeding: n_centroids rows"),
        (".collect()",
         "k-means iteration state: n_centroids rows"),
        (".collect()",
         "k-means iteration state: n_centroids rows"),
        ("cand_rows = cands.collect()  # O(k·rounds) — bounded index metadata",
         "IVF index metadata, k·rounds rows"),
        ('{r.cell for r in q.select("cell").distinct().collect()}',
         "probed-cell ids: ≤ n_cells distinct values"),
    ],
    "streaming/pipeline.py": [
        (").distinct().collect()",
         "touched silver bucket ids: ≤ n_buckets values"),
    ],
    "sources/avro.py": [
        ('files_df.select("path", "content").limit(1).collect()',
         "1-file header probe (limit 1)"),
    ],
}


def _collect_lines() -> dict[str, list[str]]:
    found: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                for line in fh:
                    stripped = line.strip()
                    if ".collect()" not in stripped:
                        continue
                    # comments / docstring mentions are not call sites
                    if stripped.startswith("#") or "``" in stripped:
                        continue
                    found.setdefault(rel, []).append(stripped)
    return found


def test_every_collect_site_is_allowlisted():
    found = _collect_lines()
    unexpected: list[str] = []
    for rel, lines in sorted(found.items()):
        allowed = list(ALLOWED.get(rel, []))
        for line in lines:
            for i, (frag, _why) in enumerate(allowed):
                if frag in line:
                    allowed.pop(i)
                    break
            else:
                unexpected.append(f"{rel}: {line}")
    assert not unexpected, (
        "un-audited .collect() call site(s) — every driver collect must "
        "be bounded (not data-sized) and listed in "
        "tests/test_collect_inventory.py with its boundedness argument:\n"
        + "\n".join(unexpected)
    )


def test_allowlist_is_not_stale():
    """Entries that no longer match any source line must be pruned —
    a stale allowlist would silently cover a future collect."""
    found = _collect_lines()
    stale: list[str] = []
    for rel, entries in ALLOWED.items():
        lines = list(found.get(rel, []))
        for frag, _why in entries:
            for i, line in enumerate(lines):
                if frag in line:
                    lines.pop(i)
                    break
            else:
                stale.append(f"{rel}: {frag!r}")
    assert not stale, "stale allowlist entries:\n" + "\n".join(stale)


def test_no_full_table_fixture_collect_regression():
    """The specific r14-verdict shape: a `.select(...).collect()` feeding
    a fixture writer.  The three format-ingest queries must keep their
    executor-side segment encoding (ops_queries._write_fixture_segments)."""
    src = open(os.path.join(PKG, "plans", "ops_queries.py")).read()
    for q in ("object_store_avro_ingest", "object_store_rowbinary_ingest",
              "object_store_proto_ingest"):
        body = src.split(f"def {q}(")[1].split("\ndef ")[0]
        assert "_write_fixture_segments(" in body, q
        assert not re.search(r"\.select\([^)]*\)\s*\n\s*\.collect\(\)", body), q
