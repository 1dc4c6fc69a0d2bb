"""The registered queries that write through the keyed upsert sinks, hash-
compared with their DuckDB oracles at both ends of the merge-on-read fold
cadence: a fold on every trigger (the eager store) and never a fold
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


@pytest.mark.slow
@pytest.mark.parametrize("fold", ["every_trigger", "never"])
def test_keyed_sink_queries_match_oracles_at_fold_extremes(spark, sf_dir, monkeypatch, fold):
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
    for name in KEYED_SINK_QUERIES:
        sdf = queries[name](spark, sf_dir)
        got, want = spark_digest(sdf), duck_digest(con, oracles[name], sdf.schema)
        if got != want:
            bad[name] = (got, want)
    assert bad == {}
