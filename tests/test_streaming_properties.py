"""Property test: the streamed silver state equals batch latest-wins for
ANY event log split ANY way into micro-batches — the invariant the
cross-batch resurrection bug (fixed in streaming/pipeline.py) violated.

Spark streaming per example is expensive → few, adversarial examples:
hypothesis drives key collisions, delete/update interleavings, and batch
boundaries simultaneously.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from postgres_debezium_clickhouse_spark.operators.upsert import apply_cdc
from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver, silver_upsert_stream

SCHEMA = "id INT, val STRING, op STRING, ts_ms INT, offset INT"

#: tiny domains force collisions; offset made unique per event downstream.
raw_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),             # id
        st.sampled_from(["a", "b", "c"]),                  # val
        st.sampled_from(["c", "u", "d"]),                  # op
        st.integers(min_value=1, max_value=3),             # ts_ms
    ),
    min_size=1,
    max_size=8,
)
split_seed = st.integers(min_value=0, max_value=6)


@pytest.mark.slow
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=raw_events, seed=split_seed)
def test_streamed_silver_equals_batch(spark, tmp_path_factory, events, seed):
    # unique offsets = physical Kafka log
    log = [(k, v, op, ts, i + 1) for i, (k, v, op, ts) in enumerate(events)]

    d = tmp_path_factory.mktemp("prop")
    src = d / "src"
    src.mkdir()
    # deterministic split into 1-3 files → micro-batches via maxFilesPerTrigger=1
    n_files = (seed % 3) + 1
    chunks = [log[i::n_files] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        if not chunk:
            continue
        lines = [
            json.dumps({"id": k, "val": v, "op": op, "ts_ms": ts, "offset": off})
            for k, v, op, ts, off in chunk
        ]
        (src / f"b{i}.jsonl").write_text("\n".join(lines))

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").json(str(src))
    )
    q = silver_upsert_stream(
        stream, str(d / "out"), str(d / "ck"), keys=["id"], available_now=True
    )
    q.awaitTermination(180)
    streamed = {
        r.id: (r.val, r.op, r.ts_ms, r.offset)
        for r in read_silver(spark, str(d / "out")).collect()
    }

    batch_df = spark.createDataFrame(log, SCHEMA)
    batch = {
        r.id: (r.val, r.op, r.ts_ms, r.offset)
        for r in apply_cdc(batch_df, keys=["id"], delete_mode="drop").collect()
    }
    assert streamed == batch


@pytest.mark.slow
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),              # key
            st.integers(min_value=-500, max_value=500),         # cents
        ),
        min_size=1,
        max_size=10,
    ),
    seed=split_seed,
)
def test_streamed_summing_equals_batch_groupby(spark, tmp_path_factory, rows, seed):
    """r8 invariant: the summing sink's state equals the whole-log GROUP
    BY for ANY split of the log into micro-batches — addition commutes,
    so batch boundaries (driven adversarially here together with key
    collisions and negative values) must never shift a cent."""
    from collections import defaultdict

    from postgres_debezium_clickhouse_spark.streaming.pipeline import (
        silver_summing_stream,
    )

    d = tmp_path_factory.mktemp("sumprop")
    src = d / "src"
    src.mkdir()
    n_files = (seed % 3) + 1
    chunks = [rows[i::n_files] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        if not chunk:
            continue
        lines = [json.dumps({"k": k, "v": cents / 100.0}) for k, cents in chunk]
        (src / f"b{i}.jsonl").write_text("\n".join(lines))

    stream = (
        spark.readStream.schema("k INT, v DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = silver_summing_stream(
        stream, str(d / "out"), str(d / "ck"), keys=["k"], sum_cols=["v"],
        available_now=True,
    )
    q.awaitTermination(180)
    streamed = {
        r.k: (float(r.v), r["__n_rows"])
        for r in read_silver(spark, str(d / "out")).collect()
    }
    expect: dict = defaultdict(lambda: [0, 0])
    for k, cents in rows:
        expect[k][0] += cents
        expect[k][1] += 1
    assert streamed == {k: (c / 100.0, n) for k, (c, n) in expect.items()}


@pytest.mark.slow
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # key
            st.sampled_from([1, -1]),                # sign
            st.sampled_from(["p", "q", "r"]),        # payload
        ),
        min_size=1,
        max_size=8,
    ),
    seed=st.integers(min_value=0, max_value=6),
)
def test_streamed_collapse_equals_whole_log(spark, tmp_path_factory, ops, seed):
    """r9 property (verdict item 2's Done bar): the collapsing store's
    state equals the whole-log signed collapse for ANY event log split
    ANY way into micro-batches — per key: balance = Σsign, visible iff
    > 0, payload = the max-seq +1 row's."""
    from postgres_debezium_clickhouse_spark.streaming.pipeline import (
        read_collapsed,
        silver_collapsing_stream,
    )

    log = [(k, s, i + 1, v) for i, (k, s, v) in enumerate(ops)]
    d = tmp_path_factory.mktemp("clps")
    src = d / "src"
    src.mkdir()
    n_files = (seed % 3) + 1
    for i in range(n_files):
        chunk = log[i::n_files]
        if not chunk:
            continue
        lines = [
            json.dumps({"k": k, "sign": s, "seq": q, "payload": v})
            for k, s, q, v in chunk
        ]
        (src / f"b{i}.jsonl").write_text("\n".join(lines))
    stream = (
        spark.readStream.schema("k LONG, sign INT, seq LONG, payload STRING")
        .option("maxFilesPerTrigger", "1").json(str(src))
    )
    q = silver_collapsing_stream(
        stream, str(d / "out"), str(d / "ck"), keys=["k"], seq_col="seq",
        available_now=True,
    )
    assert q.awaitTermination(180)
    got = {
        r["k"]: (r["payload"], r["__sign_net"])
        for r in read_collapsed(spark, str(d / "out"), keys=["k"]).collect()
    }
    # reference collapse in plain Python
    want = {}
    for k in {k for k, *_ in log}:
        rows = [(s, q, v) for kk, s, q, v in log if kk == k]
        net = sum(s for s, _, _ in rows)
        plus = [(q, v) for s, q, v in rows if s == 1]
        if net > 0 and plus:
            want[k] = (max(plus)[1], net)
        elif net > 0:
            want[k] = (None, net)
    assert got == want
