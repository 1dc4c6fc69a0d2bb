"""CLI surface (r10): python -m postgres_debezium_clickhouse_spark."""

from __future__ import annotations

from postgres_debezium_clickhouse_spark.__main__ import main


def test_list_and_oracle(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "cdc_current_state\tfull-oracle" in out
    assert "synthetic_transactions\trows-only" in out
    assert main(["oracle", "max_order"]) == 0
    assert "MAX(o_orderkey)" in capsys.readouterr().out
    assert main(["oracle", "nope"]) == 1
    assert main(["query", "nope"]) == 1


def test_describe_and_versions(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

    path = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").withColumn(
        "__deleted", F.lit(False)
    )
    pl._SilverStore(path, {"version": 0, "n_buckets": 2, "files": []}).publish(
        df, ["k"], {0, 1})
    assert main(["versions", path]) == 0
    assert capsys.readouterr().out.strip() == "1"
    assert main(["describe-store", path]) == 0
    assert "primary" in capsys.readouterr().out


def test_cli_signal_lifecycle(tmp_path, capsys):
    """r11: signals / signal-snapshot / stop-snapshot subcommands drive
    the incremental-snapshot signal files without a SparkSession."""
    from postgres_debezium_clickhouse_spark.__main__ import main

    store = str(tmp_path / "store")
    assert main(["signal-snapshot", store, "--order-col", "id",
                 "--watermark", "500", "--chunks", "4"]) == 0
    sid = capsys.readouterr().out.strip()
    assert sid
    assert main(["signals", store]) == 0
    out = capsys.readouterr().out
    assert sid in out and "execute-snapshot" in out and "n_chunks=4" in out
    assert main(["stop-snapshot", store, sid]) == 0
    import os

    assert os.path.exists(os.path.join(store, "_signals", f"{sid}.stop"))


def test_cli_signal_snapshot_type_and_where(tmp_path, capsys):
    """r13: --type blocking and --where (additional-conditions) land in
    the signal payload."""
    import json
    import os

    from postgres_debezium_clickhouse_spark.__main__ import main

    store = str(tmp_path / "store")
    assert main(["signal-snapshot", store, "--order-col", "id",
                 "--watermark", "500", "--type", "blocking",
                 "--where", "id % 2 = 1"]) == 0
    sid = capsys.readouterr().out.strip()
    with open(os.path.join(store, "_signals", f"{sid}.json")) as fh:
        sig = json.load(fh)
    assert sig["snapshot_type"] == "blocking"
    assert sig["additional_condition"] == "id % 2 = 1"
