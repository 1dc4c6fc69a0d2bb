"""Registry hygiene + scale-contract plan assertions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_query_registry_integrity():
    """Every oracle key has a query; no module silently shadows another's
    query name (dict.update would hide the earlier one)."""
    import __spark_entry__ as m

    seen: dict[str, str] = {}
    for mod in m._MODULES:
        for name in mod.QUERIES:
            assert name not in seen, f"{name} defined in both {seen[name]} and {mod.__name__}"
            seen[name] = mod.__name__
        for name in mod.ORACLES:
            assert name in mod.QUERIES, f"oracle {name} in {mod.__name__} has no query"
    assert set(m.oracle_sql()) <= set(m.queries())


def test_latest_wins_agg_is_map_side_combinable(spark):
    """Scale contract of the flagship dedup: the agg strategy must plan as
    partial + final aggregate around ONE key exchange, so only one
    candidate row per key per map partition crosses the shuffle."""
    from postgres_debezium_clickhouse_spark.operators.upsert import latest_wins

    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 1)], ["id", "v", "ts"]
    )
    plan = (
        latest_wins(df, ["id"], ["ts"])._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    # partial (map-side) aggregate before the exchange, final after —
    # r7: the orderable-payload fast path plans max(struct(...)) instead
    # of max_by (one struct eval/compare per row, ~40% cheaper)
    assert "partial_max" in plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2


@pytest.mark.slow
def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """Plan + schema hygiene across the ENTIRE registered surface: no query
    may plan a CartesianProduct, BroadcastNestedLoopJoin is allowed only
    where it is the documented design (brute-force cosine baseline scores
    every corpus row against a broadcast query set), and every
    oracle-checked query must emit scalar output columns only — the
    driver's canonicalizer sorts each column and dies on array/map/struct
    cells (the r3 multimodal_features trap)."""
    import __spark_entry__ as m

    from pyspark.sql import types as T

    # side-effecting queries (run streams / write temp data on build)
    skip_prefixes = ("stream_",)
    skip = {"synthetic_transactions", "object_store_typed_ingest",
            "silver_time_travel",  # publishes a 3-version store on build
            "silver_mutation",     # publishes + mutates a store on build
            "silver_ttl"}          # publishes + TTL-mutates a store on build
    allow_nested_loop = {
        "similarity_cosine_topk",   # brute-force baseline: broadcast × corpus scan
        "similarity_mips_topk",     # same broadcast × corpus scan shape (r14)
        "similarity_mmr_rerank",    # embeds the brute-force cosine shortlist (broadcast × corpus scan) (r15)
        "similarity_hamming_topk",  # same broadcast × corpus-scan shape over packed codes (r13)
        "dedup_embedding_cosine",   # block-join verified within label blocks
        "recent_orders_interval",   # scalar attach: 1-row broadcast aggregate
        "similarity_lsh_recall",    # embeds the brute-force exact side as ground truth
        "similarity_ivf_recall",    # embeds the brute-force exact side as ground truth
        "text_tfidf_top_terms",     # scalar attach: 1-row broadcast N-docs (metadata-only scan)
        "text_commonness",          # scalar attach: 1-row broadcast N-docs (metadata-only scan)
        "text_lm_perplexity",       # scalar attach: 1-row broadcast corpus-total (vocab-sized input)
        "corpus_ccnet_buckets",     # scalar attach: same 1-row corpus-total via lm_unigram_logprob (r13)
        "llm_filter_report",        # embeds the perplexity branch above
        "similarity_ann_ivf_table", # scalar attach: 1-row broadcast centroid array (index metadata)
        "embedding_quantize",       # scalar attach: 1-row broadcast min/max grid (dim-sized)
        "embedding_center_normalize",  # scalar attach: 1-row broadcast per-dim mean array (r13)
        "corpus_vocab_coverage",    # scalar attach: 1-row broadcast occurrence total
        "similarity_ann_ivf_index", # scalar attach: 1-row broadcast centroid array (index metadata)
        "text_perplexity_separation",  # embeds the perplexity branch (1-row corpus-total attach)
        "text_commonness_separation",  # embeds the commonness branch (1-row N-docs attach)
        "similarity_truncated_recall",  # embeds brute-force cosine twice (eval ground truth)
        "similarity_ivf_seeding",   # 1-row scalar attaches: recall/occupancy contrast row + k-means-par phi attach
        "corpus_source_overlap",    # KMV pair join: group×group over the sketch TABLE (group-count-sized metadata, never data)
        "corpus_content_drift",     # scalar attach: 1-row broadcast corpus-total
        "similarity_pq_adc_topk",   # scalar attaches: 1-row broadcast codebook row + per-query ADC tables (index metadata)
        "similarity_ann_ivfpq_topk",  # scalar attaches: centroid array + codebook row + per-(query,probe) ADC tables
        "similarity_ann_ivfpq_rerank",   # same ADC chain + broadcast shortlist re-rank (r12)
        "similarity_ivfpq_rerank_recall",  # ADC + rerank + exact baseline composed (r12)
        "events_value_histogram",   # scalar attach: 1-row broadcast global min/max
        "corpus_unigram_encode",    # scalar attach: 1-row broadcast vocab arrays (vocab-sized metadata)
        "corpus_tokenizer_fertility",  # wraps the encode chain above + lang agg (r15)
        "corpus_wordpiece_encode",  # scalar attach: 1-row broadcast piece map (r12)
        "corpus_bpe_encode",        # scalar attach: 1-row broadcast learned merge table (k rows)
        "text_bm25_topk",           # scalar attach: 1-row broadcast N/avgdl totals (r12)
        "corpus_dsir_weights",      # scalar attaches: 1-row broadcast feature totals (r12)
        "text_bigram_backoff",      # scalar attach: 1-row broadcast corpus-total (r12)
        "text_trigram_backoff",     # scalar attach: same 1-row corpus-total, trigram ladder (r13)
        "text_bigram_interpolated", # scalar attach: same 1-row corpus-total, JM mixture (r13)
        "text_bigram_kneser_ney",   # scalar attach: 1-row broadcast N_types total (r14)
        "text_bigram_modified_kneser_ney",  # scalar attaches: N_types + discount row (r14)
        "ch_limit_with_ties",  # scalar attach: 1-row TakeOrdered boundary (r14)
        "text_bigram_witten_bell",  # scalar attach: 1-row broadcast unigram total (r14)
        "text_trigram_kneser_ney",  # scalar attach: 1-row broadcast N_types total, trigram ladder (r15)
        "text_trigram_interpolated",  # scalar attach: 1-row broadcast total+vocab, trigram JM (r15)
        "text_trigram_witten_bell",  # scalar attach: 1-row broadcast unigram total, trigram ladder (r15)
        "text_5gram_kneser_ney",    # scalar attach: 1-row broadcast N_types total, 5-gram ladder (r16)
        "events_kmv_setops",        # KMV pair join: group×group over the sketch table (r12)
        "events_anomalies_mad",     # scalar attaches: per-type median/MAD rows (r12)
    }
    oracle_checked = set(m.oracle_sql())
    checked = 0
    for name, fn in m.queries().items():
        if name in skip or name.startswith(skip_prefixes):
            continue
        df = fn(spark, sf_dir)
        if name in oracle_checked:
            for field in df.schema.fields:
                assert not isinstance(
                    field.dataType, (T.ArrayType, T.MapType, T.StructType)
                ), f"{name} emits non-scalar column {field.name}: {field.dataType}"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name not in allow_nested_loop:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a nested-loop join"
        checked += 1
    assert checked > 80


def test_corpus_scalar_counts_are_metadata_only(spark, sf_dir):
    """Scale contract for corpus-wide scalars (the r3 text.py count()
    finding): N-docs must be an IN-PLAN count-star branch whose scan reads
    NO columns (empty ReadSchema — parquet footer metadata only), never a
    driver-side .count() (an extra blocking job that decodes the whole
    corpus).  The tf/df recompute keeps at most 2 text-decoding scans —
    the documented tree-not-DAG trade (persisting tf would cost a
    corpus-sized cache; a window-df would skew on hot tokens)."""
    import re

    import __spark_entry__ as m

    for name in ("text_tfidf_top_terms", "text_commonness"):
        plan = (
            m.queries()[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
        empty = [s for s in schemas if s == "struct<>"]
        texty = [s for s in schemas if "text" in s]
        assert len(empty) == 1, f"{name}: N-docs branch must be a metadata-only scan: {schemas}"
        assert len(texty) <= 2, f"{name}: too many text-decoding scans: {schemas}"


def test_every_oracle_is_engine_portable():
    """No oracle may emit a type Spark cannot hash-match (DuckDB HUGEINT
    from bare integer SUM, unsigned ints) — the r2 events_props_keys trap.
    Runs the same type-precise audit as scripts/audit_oracles.py."""
    import importlib.util
    import pathlib

    import os

    import pytest as _pytest

    script = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "audit_oracles.py"
    spec = importlib.util.spec_from_file_location("audit_oracles", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not os.path.isdir(mod.SF_DIR):
        _pytest.skip(f"no fixtures at {mod.SF_DIR} (set SPARK_GRAFT_AUDIT_SF_DIR)")
    assert mod.audit() == []


def test_front_window_names_all_resolve():
    """Every _FRONT name must exist in the registry — a typo would
    silently shrink the driver's ~50-query evidence window instead of
    failing anywhere."""
    import __spark_entry__ as m

    qs = m.queries()
    missing = [n for n in m._FRONT if n not in qs]
    assert missing == [], f"_FRONT names not in registry: {missing}"
    assert len(m._FRONT) >= 50  # window stays fully specified


def test_star_join_broadcasts_every_dimension(spark, sf_dir):
    """Scale contract of the FK-lattice join (J1): all four dimension
    joins must be BroadcastHashJoin (no shuffle on the fact side for the
    join itself) — losing a broadcast to a config regression would turn
    the 100 TB plan into five full shuffles."""
    import __spark_entry__ as m

    df = m.queries()["star_join_revenue"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()  # AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    """Pushdown contract: literal predicates must appear in the parquet
    scan's PushedFilters, and the scan's ReadSchema must carry only the
    columns the query consumes — a scan reading all columns for a narrow
    projection is wrong at any scale.  (recent_orders_interval's date
    bound is a scalar-subquery value, which parquet pushdown cannot take —
    the literal-predicate queries are the right pin.)"""
    import re

    import __spark_entry__ as m

    plan = (
        m.queries()["events_errors_after_signup"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(event_type,signup)" in p for p in pushed), pushed
    assert any("EqualTo(event_type,error)" in p for p in pushed), pushed
    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    # the events fixture carries 7 columns (incl. props/value/session);
    # the funnel scans must prune to its ≤4 consumed columns
    assert schemas and all(s.count(",") <= 3 for s in schemas), schemas
    assert all("props" not in s and "value" not in s for s in schemas), schemas


def test_back_listed_queries_stay_out_of_the_window():
    """_BACK names (oracle-inexpressible by contract) must register LAST —
    if one drifted into the driver's ~50-query window it would burn an
    evidence slot on a rows-only check."""
    import __spark_entry__ as m

    names = list(m.queries())
    for n in m._BACK:
        assert n in names and names.index(n) >= len(names) - len(m._BACK)


def test_queries_doc_is_fresh():
    """r11 verdict nit: docs/QUERIES.md said 223 while the registry held
    226 — the generator had run before the last additions.  Pin the doc's
    header counts AND its row set to the live registry so a stale doc
    fails the suite instead of eroding trust (regenerate with
    `python docs/make_queries_doc.py`)."""
    import os
    import re

    import __spark_entry__ as m

    qs = m.queries()
    oracles = m.oracle_sql()
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "docs", "QUERIES.md")
    with open(path) as fh:
        doc = fh.read()
    m0 = re.search(r"^(\d+) queries, (\d+) with full DuckDB", doc, re.M)
    assert m0, "QUERIES.md header count line missing"
    assert int(m0.group(1)) == len(qs), (
        f"QUERIES.md says {m0.group(1)} queries, registry has {len(qs)} — "
        "regenerate with docs/make_queries_doc.py")
    assert int(m0.group(2)) == len(oracles)
    doc_names = set(re.findall(r"^\| \d+ \| `([^`]+)` \|", doc, re.M))
    assert doc_names == set(qs), (
        f"doc/registry row drift: missing={sorted(set(qs) - doc_names)[:5]} "
        f"extra={sorted(doc_names - set(qs))[:5]}")
