"""PageRank (operators/graph.py): hand-computable semantics + plan shape."""

from __future__ import annotations

import math

import pytest

from postgres_debezium_clickhouse_spark.operators.graph import pagerank


def test_pagerank_two_node_chain_exact(spark):
    """a→b, 1 iteration, d=0.85: ranks are closed-form —
    r(a) = 0.15/2 (no inlinks), r(b) = 0.15/2 + 0.85·(0.5/1)."""
    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    assert math.isclose(got["a"], 0.075, rel_tol=1e-12)
    assert math.isclose(got["b"], 0.075 + 0.85 * 0.5, rel_tol=1e-12)


def test_pagerank_star_sink_accumulates(spark):
    """N spokes all pointing at one hub: the hub must out-rank every
    spoke, spokes stay equal (symmetry), and more iterations keep the
    ordering stable."""
    edges = spark.createDataFrame(
        [(f"s{i}", "hub") for i in range(5)], ["src", "dst"]
    )
    got = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    spoke_ranks = {v for k, v in got.items() if k != "hub"}
    assert len(spoke_ranks) == 1  # symmetric spokes agree exactly
    assert got["hub"] > max(spoke_ranks) * 5


def test_pagerank_loop_is_lineage_truncated(spark):
    """The iteration must not grow the plan: after 5 rounds the final
    frame's plan is checkpoint-rooted, not a 5-deep join tower."""
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    ranks = pagerank(edges, iterations=5)
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 0  # checkpointed: no residual join tower
    total = sum(r.rank for r in ranks.collect())
    assert math.isclose(total, 1.0, rel_tol=1e-9)  # 2-cycle conserves mass


@pytest.mark.slow
def test_pagerank_redistribute_conserves_total_mass(spark):
    """a→b with b a sink: redistribution must keep Σrank = 1 exactly each
    round and match the hand-computed first iteration."""
    from postgres_debezium_clickhouse_spark.operators.graph import (
        pagerank,
        pagerank_with_report,
    )

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    r1 = {r.node: r.rank for r in pagerank(
        edges, iterations=1, dangling="redistribute").collect()}
    # r0 = (.5, .5); S = .5; rank' = .075 + .85*(contrib + .25)
    assert round(r1["a"], 6) == 0.2875 and round(r1["b"], 6) == 0.7125
    ranks, report = pagerank_with_report(
        edges, iterations=4, dangling="redistribute")
    total = sum(r.rank for r in ranks.collect())
    assert abs(total - 1.0) < 1e-9
    deltas = [r.l1_delta for r in report.orderBy("iteration").collect()]
    assert len(deltas) == 4 and all(d >= 0 for d in deltas)
    assert deltas[-1] < deltas[0]          # converging, not oscillating


def test_pagerank_drop_mode_unchanged_by_refactor(spark):
    """The drop path must still match its hand-computed value (the shared
    corpus_domain_pagerank oracle depends on it bit-for-bit)."""
    from postgres_debezium_clickhouse_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    r1 = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    assert round(r1["a"], 6) == 0.075 and round(r1["b"], 6) == 0.5


def test_pagerank_rejects_unknown_dangling_mode(spark):
    import pytest

    from postgres_debezium_clickhouse_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, dangling="teleport")
