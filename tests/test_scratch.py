"""The scratch-and-replay harness (plans/_scratch.py) and its source guard.

Every stream or store query in ``plans/`` runs its round trip through
``scratch``; these tests pin the lifecycle guarantees the queries rely on
(cleanup, shuffle-width restore, loud timeout) and keep the hand-copied
lifecycle from growing back into the query modules.
"""

from __future__ import annotations

import os

import pytest

from postgres_debezium_clickhouse_spark.plans import _scratch
from postgres_debezium_clickhouse_spark.plans._scratch import scratch

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "postgres_debezium_clickhouse_spark",
    "plans",
)

#: lifecycle calls only the harness may make inside plans/
HARNESS_ONLY = (
    "tempfile.gettempdir(",
    "awaitTermination(",
    "spark.sql.shuffle.partitions",
)


def test_scratch_dirs_removed_on_normal_exit(spark):
    with scratch(spark, "t_ok") as s:
        spark.range(3).write.parquet(s.dir("src"))
        root = s.root
        assert os.path.isdir(s.dir("src"))
    assert not os.path.exists(root)


def test_scratch_dirs_removed_and_width_restored_on_exception(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        with pytest.raises(ValueError, match="boom"):
            with scratch(spark, "t_err") as s:
                spark.range(3).write.parquet(s.dir("src"))
                root = s.root
                assert spark.conf.get("spark.sql.shuffle.partitions") == (
                    _scratch.STREAM_SHUFFLE_PARTITIONS
                )
                raise ValueError("boom")
        assert not os.path.exists(root)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_replay_splits_fixture_into_triggers(spark):
    with scratch(spark, "t_replay") as s:
        stream = s.replay(spark.range(40), files=4, per_trigger=1)
        out = s.drain(stream)
        q_ckpt = os.listdir(os.path.join(s.dir("ckpt"), "commits"))
        assert spark.read.parquet(out).count() == 40
        # one commit per file: per_trigger bounds every micro-batch
        assert len([c for c in q_ckpt if not c.startswith(".")]) == 4


def test_wait_stops_query_and_raises_on_timeout(spark, monkeypatch):
    monkeypatch.setattr(_scratch, "AWAIT_TIMEOUT_S", 1)
    with scratch(spark, "t_timeout") as s:
        # a rate source under the default trigger never finishes
        q = (
            spark.readStream.format("rate").load()
            .writeStream.format("noop")
            .option("checkpointLocation", s.dir("ckpt"))
            .start()
        )
        with pytest.raises(TimeoutError, match="did not finish in 1s"):
            s.wait(q)
        assert not q.isActive


def _plans_sources() -> dict[str, str]:
    out = {}
    for fn in sorted(os.listdir(PLANS)):
        if fn.endswith(".py"):
            with open(os.path.join(PLANS, fn)) as fh:
                out[fn] = fh.read()
    return out


def test_lifecycle_calls_live_only_in_the_harness():
    offenders = [
        f"plans/{fn}: {pat}"
        for fn, src in _plans_sources().items()
        if fn != "_scratch.py"
        for pat in HARNESS_ONLY
        if pat in src
    ]
    assert not offenders, (
        "scratch dirs, stream awaits and the streaming shuffle width belong "
        "to plans/_scratch.py — route the query through scratch():\n"
        + "\n".join(offenders)
    )


def test_harness_still_owns_each_lifecycle_call():
    """Anti-tautology twin: the guard above passes vacuously if the
    harness stops making these calls under the same spelling."""
    src = _plans_sources()["_scratch.py"]
    for pat in HARNESS_ONLY:
        assert pat in src, pat
