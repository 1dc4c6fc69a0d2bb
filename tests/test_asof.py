"""As-of join operator tests (backward inclusive, left-outer)."""

from __future__ import annotations

import datetime

import pytest

from postgres_debezium_clickhouse_spark.operators.asof import asof_join


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, 0, s)


@pytest.mark.slow
def test_asof_basic_backward_inclusive(spark):
    quotes = spark.createDataFrame(
        [(1, _ts(1), 10.0), (1, _ts(5), 11.0), (1, _ts(9), 12.0), (2, _ts(3), 99.0)],
        "sym INT, qts TIMESTAMP, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [(1, _ts(5), 100), (1, _ts(7), 200), (1, _ts(0), 300), (2, _ts(2), 400)],
        "sym INT, tts TIMESTAMP, qty INT",
    )
    out = {
        (r.sym, r.qty): r.right_px
        for r in asof_join(trades, quotes, on=["sym"], left_ts="tts", right_ts="qts").collect()
    }
    assert out[(1, 100)] == 11.0   # equal ts → inclusive
    assert out[(1, 200)] == 11.0   # latest at-or-before 7 is ts5
    assert out[(1, 300)] is None   # no prior quote → left-outer NULL
    assert out[(2, 400)] is None   # sym 2's quote is AFTER the trade


def test_asof_tiebreak_last_wins(spark):
    right = spark.createDataFrame(
        [(1, _ts(5), 1, "first"), (1, _ts(5), 2, "second")],
        "k INT, rts TIMESTAMP, rid INT, tag STRING",
    )
    left = spark.createDataFrame([(1, _ts(6))], "k INT, lts TIMESTAMP")
    row = asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts", tiebreak="rid").first()
    assert row.right_tag == "second"  # max tiebreak among equal timestamps


def test_asof_one_shuffle(spark):
    """Scale contract: the plan contains exactly one hash exchange (the key
    shuffle) — no range explosion, no nested-loop."""
    quotes = spark.createDataFrame([(1, _ts(1), 10.0)], "sym INT, qts TIMESTAMP, px DOUBLE")
    trades = spark.createDataFrame([(1, _ts(2), 7)], "sym INT, tts TIMESTAMP, qty INT")
    df = asof_join(trades, quotes, on=["sym"], left_ts="tts", right_ts="qts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_tolerance_discards_stale_match(spark):
    quotes = spark.createDataFrame(
        [(1, _ts(1), 10.0), (1, _ts(20), 11.0)], "sym INT, qts TIMESTAMP, px DOUBLE"
    )
    trades = spark.createDataFrame(
        [(1, _ts(8), 100), (1, _ts(22), 200)], "sym INT, tts TIMESTAMP, qty INT"
    )
    out = {
        r.qty: r.right_px
        for r in asof_join(
            trades, quotes, on=["sym"], left_ts="tts", right_ts="qts", tolerance_seconds=5
        ).collect()
    }
    assert out[100] is None    # nearest prior quote is 7s old > 5s tolerance
    assert out[200] == 11.0    # 2s old, within tolerance


def test_asof_tolerance_requires_right_ts_in_payload(spark):
    import pytest as _pytest

    right = spark.createDataFrame([(1, _ts(5), 9.0)], "k INT, rts TIMESTAMP, px DOUBLE")
    left = spark.createDataFrame([(1, _ts(6))], "k INT, lts TIMESTAMP")
    # right_ts lands in the payload by default; dropping it via on-keys is
    # impossible here, so exercise the guard with a right frame whose ts
    # column doubles as a join key (excluded from the payload)
    with _pytest.raises(ValueError, match="tolerance"):
        asof_join(
            left.withColumnRenamed("lts", "rts"), right, on=["k", "rts"],
            left_ts="rts", right_ts="rts", tolerance_seconds=1,
        )


def test_asof_forward_direction(spark):
    """r15 forward as-of: earliest right at-or-after each left ts;
    equal-ts rights are INCLUSIVE and tie-break to the smallest id;
    forward tolerance discards matches too far in the FUTURE; bad
    direction refuses."""
    import pytest as _pytest

    from postgres_debezium_clickhouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 250), (2, 20, 100)],
        "k long, lid long, lts long",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 6, 100), (1, 7, 200), (1, 8, 300)],
        "k long, rid long, rts long",
    )
    out = {r.lid: r for r in asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        tiebreak="rid", direction="forward",
    ).collect()}
    assert out[10].right_rid == 5      # equal ts inclusive, smallest id
    assert out[11].right_rid == 8      # next at-or-after 250
    assert out[20].right_rid is None   # no rights for key 2 → NULL
    tol = {r.lid: r for r in asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        tiebreak="rid", direction="forward", tolerance_seconds=40.0,
    ).collect()}
    assert tol[10].right_rid == 5      # 0 ahead, within 40
    assert tol[11].right_rid is None   # 50 ahead > 40 → discarded
    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                  direction="nearest")
