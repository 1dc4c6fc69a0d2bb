"""The registered queries that write through the silver sinks — the keyed
upsert sinks, and the summing and collapsing sinks with the TTL ops —
hash-compared with their DuckDB oracles at both ends of the merge-on-read
fold cadence: a fold on every trigger (the eager store) and never a fold
(every trigger a delta, merged at read)."""

from __future__ import annotations

import os
import sys

import pytest

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from check_correctness import TABLES, duck_digest, spark_digest  # noqa: E402

KEYED_SINK_QUERIES = (
    "stream_silver_state",
    "stream_txn_consistent_state",
    "stream_txn_multi_state",
    "cdc_incremental_snapshot",
    "cdc_snapshot_blocking",
    "cdc_snapshot_multi_table",
    "silver_mutation",
    "silver_time_travel",
    "silver_version_diff",
)


ADDITIVE_SINK_QUERIES = (
    "stream_summing_state",
    "stream_agg_state",
    "stream_agg_argmax_state",
    "stream_agg_bitmap_state",
    "stream_agg_hll_state",
    "stream_agg_kmv_state",
    "stream_agg_quantile_state",
    "stream_agg_sortedarray_state",
    "stream_agg_summap_state",
    "stream_agg_topk_state",
    "stream_agg_topkweighted_state",
    "stream_collapsing_state",
    "stream_vcollapsing_state",
    "silver_ttl",
    "silver_ttl_rollup",
)


def _mismatches(spark, sf_dir, monkeypatch, fold, names) -> dict:
    import duckdb

    if fold == "every_trigger":
        monkeypatch.setattr(pl, "FOLD_DELTAS", 0)
    else:
        monkeypatch.setattr(pl, "FOLD_DELTAS", float("inf"))
        monkeypatch.setattr(pl, "FOLD_BYTES_FRACTION", float("inf"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    queries, oracles = entry.queries(), entry.oracle_sql()
    bad = {}
    for name in names:
        sdf = queries[name](spark, sf_dir)
        got, want = spark_digest(sdf), duck_digest(con, oracles[name], sdf.schema)
        if got != want:
            bad[name] = (got, want)
    return bad


@pytest.mark.slow
@pytest.mark.parametrize("fold", ["every_trigger", "never"])
def test_keyed_sink_queries_match_oracles_at_fold_extremes(spark, sf_dir, monkeypatch, fold):
    assert _mismatches(spark, sf_dir, monkeypatch, fold, KEYED_SINK_QUERIES) == {}


@pytest.mark.slow
@pytest.mark.parametrize("fold", ["every_trigger", "never"])
def test_additive_sink_queries_match_oracles_at_fold_extremes(spark, sf01_dir, monkeypatch, fold):
    """The summing and collapsing sinks' queries; never folding, every
    read merges the partials of every trigger.  At sf0.01: the kmv and
    quantile queries guard their saturated-sketch regime, which sf0.001
    is too small for (they raise there before and after the sinks went
    merge-on-read)."""
    assert _mismatches(spark, sf01_dir, monkeypatch, fold, ADDITIVE_SINK_QUERIES) == {}
