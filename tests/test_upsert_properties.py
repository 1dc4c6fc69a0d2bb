"""Hypothesis property tests for the latest-wins merge: random event logs
compared against an in-Python reference model of ReplacingMergeTree+FINAL.

The model: group events by key; winner = max (version, offset); drop mode
removes keys whose winner is a delete; rewrite mode flags them.  Any arrival
order, any duplication.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from postgres_debezium_clickhouse_spark.operators.upsert import apply_cdc

COLS = ["id", "val", "op", "ts_ms", "offset"]

#: small key/version spaces force collisions (equal versions, duplicate
#: deliveries) — the interesting cases.
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),            # id
        st.text(alphabet="abcxyz", min_size=1, max_size=4),  # val
        st.sampled_from(["c", "u", "d", "r"]),            # op
        st.integers(min_value=1, max_value=4),            # ts_ms (version)
        st.integers(min_value=1, max_value=50),           # offset
    ),
    min_size=1,
    max_size=25,
)


def model_final_state(events, delete_mode):
    winners: dict[int, tuple] = {}
    for ev in events:
        k, _val, _op, ts, off = ev
        cur = winners.get(k)
        if cur is None or (ts, off) > (cur[3], cur[4]):
            winners[k] = ev
    if delete_mode == "drop":
        return {k: v[1] for k, v in winners.items() if v[2] != "d"}
    return {k: (v[1], v[2] == "d") for k, v in winners.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy)
def test_drop_mode_matches_model(spark, events):
    # hypothesis may generate two events with identical (key, ts, offset) but
    # different payloads — physically impossible in a Kafka log (offset is
    # unique per partition); dedupe to the physical invariant.
    seen, phys = set(), []
    for ev in events:
        slot = (ev[0], ev[3], ev[4])
        if slot not in seen:
            seen.add(slot)
            phys.append(ev)
    df = spark.createDataFrame(phys, COLS)
    got = {r.id: r.val for r in apply_cdc(df, keys=["id"], delete_mode="drop").collect()}
    assert got == model_final_state(phys, "drop")


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy)
def test_rewrite_mode_matches_model(spark, events):
    seen, phys = set(), []
    for ev in events:
        slot = (ev[0], ev[3], ev[4])
        if slot not in seen:
            seen.add(slot)
            phys.append(ev)
    df = spark.createDataFrame(phys, COLS)
    got = {r.id: (r.val, r["__deleted"]) for r in apply_cdc(df, keys=["id"], delete_mode="rewrite").collect()}
    assert got == model_final_state(phys, "rewrite")


@pytest.mark.slow
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy)
def test_agg_and_window_strategies_agree(spark, events):
    """Internal consistency: the map-side-combinable agg strategy (r7:
    max-over-struct with a max_by fallback) and the row_number window
    strategy are two plans for ONE semantics — they must pick identical
    winners on any log (given the physical invariant of unique
    (key, ts, offset) slots)."""
    from postgres_debezium_clickhouse_spark.operators.upsert import latest_wins

    seen, phys = set(), []
    for ev in events:
        slot = (ev[0], ev[3], ev[4])
        if slot not in seen:
            seen.add(slot)
            phys.append(ev)
    df = spark.createDataFrame(phys, COLS)
    agg = {r.id: (r.val, r.ts_ms, r.offset)
           for r in latest_wins(df, ["id"], ["ts_ms", "offset"], strategy="agg").collect()}
    win = {r.id: (r.val, r.ts_ms, r.offset)
           for r in latest_wins(df, ["id"], ["ts_ms", "offset"], strategy="window").collect()}
    assert agg == win
