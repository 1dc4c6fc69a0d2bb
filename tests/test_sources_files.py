"""Object-store ingestion tests (S2/S6 — minio_cdc_example path)."""

from __future__ import annotations

import json

from postgres_debezium_clickhouse_spark.schemas import MINIO_EVENT_ROW
from postgres_debezium_clickhouse_spark.sources import files as files_src


def test_typed_json_file_source_batch(spark, tmp_path):
    """clickhouse_minio.sql:14-26 — JSONEachRow → typed columns."""
    p = tmp_path / "events.jsonl"
    p.write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"id": 1, "message": "hello", "timestamp": "2024-01-01T00:00:00"},
                {"id": 2, "message": "world", "timestamp": "2024-01-02T12:30:00"},
            ]
        )
    )
    df = files_src.read_typed_json(spark, str(tmp_path), MINIO_EVENT_ROW)
    rows = sorted(df.collect(), key=lambda r: r.id)
    assert [r.message for r in rows] == ["hello", "world"]
    assert rows[0].timestamp.year == 2024


def test_typed_json_file_source_stream(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    (src / "a.jsonl").write_text(json.dumps({"id": 7, "message": "m", "timestamp": "2024-01-01T00:00:00"}))
    stream = files_src.read_typed_json_stream(spark, str(src), MINIO_EVENT_ROW, max_files_per_trigger=1)
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(out)).first().id == 7


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.sources.files import write_partitioned

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("shard")
    )
    path = str(tmp_path / "parted")
    write_partitioned(df, path, ["shard"])
    read = spark.read.parquet(path).filter(F.col("shard") == "2")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # directory-level pruning: the shard filter appears as a PartitionFilter
    # on the scan, not a post-scan Filter over all partitions
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters")[1][:200]
    assert read.count() == 25


def test_compute_table_stats_feeds_cbo(spark, tmp_path):
    from postgres_debezium_clickhouse_spark.sources.files import compute_table_stats

    spark.range(50).write.mode("overwrite").saveAsTable("stats_probe")
    try:
        compute_table_stats(spark, ["stats_probe"], columns=False)
        desc = spark.sql("DESCRIBE TABLE EXTENDED stats_probe").collect()
        stats_rows = [r for r in desc if r.col_name == "Statistics"]
        assert stats_rows and "50 rows" in stats_rows[0].data_type
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_probe")


def test_load_table_caches_a_fixture_schema_until_the_file_changes(spark, tmp_path):
    """A second load of an unchanged parquet file runs no footer job; a
    rewritten file is read with its new schema."""
    import pandas as pd
    from _jobs import spark_jobs

    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert files_src.load_table(spark, str(tmp_path), "t").columns == ["a"]
    with spark_jobs(spark) as jobs:
        again = files_src.load_table(spark, str(tmp_path), "t")
    assert jobs == []
    assert sorted(r.a for r in again.collect()) == [1, 2]
    pd.DataFrame({"a": [3], "b": ["x"]}).to_parquet(path)
    fresh = files_src.load_table(spark, str(tmp_path), "t")
    assert fresh.columns == ["a", "b"]
    assert [tuple(r) for r in fresh.collect()] == [(3, "x")]
