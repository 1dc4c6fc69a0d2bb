"""Plan pins for the r19 structural optimizations (OPTIMIZATION_r19.md
§1/§4b) — same discipline as tests/test_r19_plans.py: the wins rest on
plan shape, so the shape itself is the regression surface.  Each test
quotes its BROKEN shape's count (e.g. llm_quality_funnel scanned
documents 30×, ivfpq_rerank_recall scanned embeddings 24×); each pin —
the test's own assertion — sits strictly between the broken and
optimized counts.
"""

from __future__ import annotations

from tests.conftest import SF_DIR


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_quality_funnel_single_corpus_pass(spark):
    """The one-pass metadata restructure: every stage count reads the
    checkpointed per-doc frame — the main plan must contain ZERO parquet
    scans (the single corpus read happens in the checkpoint job).
    Broken shape: 30 scans; the zero-scan assertion below pins it."""
    import __spark_entry__ as entry

    plan = _fmt(entry.queries()["llm_quality_funnel"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "ExistingRDD" in plan  # the checkpointed metadata frame


def test_funnel_dedup_bounded_event_scans(spark):
    """The cascade-level checkpoints: events is scanned once per funnel
    step that still needs raw events (b3 + users + the two break scans),
    never once per CONSUMER.  Broken shape: 40 scans in the lazy
    composition; the ≤ 4 assertion below pins it."""
    import __spark_entry__ as entry

    plan = _fmt(entry.queries()["events_window_funnel_dedup"](spark, SF_DIR))
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")
    assert "ExistingRDD" in plan  # the checkpointed cascade levels


def test_ivfpq_encode_has_no_corpus_join(spark):
    """ivfpq_encode computes codes directly on the residual frame; the
    old shape re-attached `cell` through a corpus×corpus SortMergeJoin
    (both sides re-planning the residual argmin).  The single-consumer
    IVF-PQ query must plan NO SortMergeJoin at all."""
    import __spark_entry__ as entry

    plan = _fmt(entry.queries()["similarity_ann_ivfpq_topk"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan


def test_ivfpq_recall_shares_one_shortlist(spark):
    """The recall composite runs the ADC shortlist pass once
    (checkpointed |Q|·20 rows) and derives both branches from it —
    bounded scan count and a checkpointed frame in the plan.  Broken
    shape: 68 scans; the ≤ 8 assertion below pins it."""
    import __spark_entry__ as entry

    plan = _fmt(
        entry.queries()["similarity_ivfpq_rerank_recall"](spark, SF_DIR))
    assert plan.count("Scan parquet") <= 8, plan.count("Scan parquet")
    assert "ExistingRDD" in plan


def test_source_overlap_scans_corpus_once(spark):
    """The KMV sketch consumes the distinct (source, token) pairs, so
    the EXECUTED final plan reads the corpus exactly once and reuses the
    distinct exchange across the sketch, self-join and size branches.
    Broken shape: 2 scans + the sketch's own explode; the one-scan
    assertion below pins it."""
    import __spark_entry__ as entry

    df = entry.queries()["corpus_source_overlap"](spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final.count("FileScan parquet")
    assert final.count("ReusedExchange") >= 4, final.count("ReusedExchange")


def test_lm_ladder_spreads_corpus_scan(spark):
    """The text-family input spread (guide §2.5): the gram explode map
    stage must sit above a RoundRobin exchange when the corpus scan is
    small (sub-4GB) — without it the ladder's one shared map pass runs
    serial (measured 4.7 effective cores at sf1 on local[32]).  The
    broken shape plans zero RoundRobinPartitioning."""
    import __spark_entry__ as entry

    plan = _fmt(entry.queries()["text_5gram_kneser_ney"](spark, SF_DIR))
    assert "RoundRobinPartitioning" in plan
