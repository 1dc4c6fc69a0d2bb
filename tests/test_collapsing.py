"""CollapsingMergeTree / VersionedCollapsingMergeTree sink (r9, verdict
item 2): sign-collapse state must equal the whole-log signed collapse
regardless of micro-batch boundaries; versioned mode must survive
out-of-order cancels (cancel before its +1, across batch boundaries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("sign", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ver", T.LongType()),
        T.StructField("payload", T.StringType()),
    ]
)


@pytest.fixture()
def dirs(tmp_path):
    return {n: str(tmp_path / n) for n in ("src", "silver", "ckpt")}


def _run(spark, dirs, rows, batch_no, **kw):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").json(
        dirs["src"] + f"/b{batch_no}"
    )
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{batch_no}")
    q = pl.silver_collapsing_stream(
        stream, dirs["silver"], dirs["ckpt"] + f"/b{batch_no}",
        keys=["k"], available_now=True, **kw,
    )
    assert q.awaitTermination(120)


def _state(spark, dirs, version_col=None):
    df = pl.read_collapsed(spark, dirs["silver"], keys=["k"], version_col=version_col)
    return {r["k"]: (r["payload"], r["__sign_net"]) for r in df.collect()}


@pytest.mark.slow
def test_plain_collapse_insert_update_delete(spark, dirs):
    # batch 0: insert k=1 (v1), insert k=2 (v1)
    _run(spark, dirs, [(1, 1, 10, 0, "one-a"), (2, 1, 11, 0, "two-a")], 0,
         seq_col="seq")
    # batch 1: update k=1 (cancel old + new state), delete k=2 (cancel only)
    _run(spark, dirs, [
        (1, -1, 12, 0, "one-a"), (1, 1, 13, 0, "one-b"),
        (2, -1, 14, 0, "two-a"),
    ], 1, seq_col="seq")
    st = _state(spark, dirs)
    assert st == {1: ("one-b", 1)}          # k=2 fully cancelled → invisible


@pytest.mark.slow
def test_plain_collapse_batch_boundary_insensitive(spark, dirs, tmp_path):
    """State after N batches == state after 1 batch carrying all rows —
    the associative+commutative merge argument, checked concretely."""
    rows = [
        (1, 1, 1, 0, "a0"), (1, -1, 2, 0, "a0"), (1, 1, 3, 0, "a1"),
        (2, 1, 4, 0, "b0"),
        (3, 1, 5, 0, "c0"), (3, -1, 6, 0, "c0"),
        (1, -1, 7, 0, "a1"), (1, 1, 8, 0, "a2"),
    ]
    # split 1: three uneven batches
    for i, chunk in enumerate([rows[:3], rows[3:6], rows[6:]]):
        _run(spark, dirs, chunk, i, seq_col="seq")
    split_state = _state(spark, dirs)
    # split 2: everything in one batch, fresh store
    dirs2 = {n: str(tmp_path / ("x_" + n)) for n in ("src", "silver", "ckpt")}
    _run(spark, dirs2, rows, 0, seq_col="seq")
    assert split_state == _state(spark, dirs2) == {1: ("a2", 1), 2: ("b0", 1)}


@pytest.mark.slow
def test_versioned_collapse_out_of_order_cancel(spark, dirs):
    """The VersionedCollapsing contract: a cancel row arriving BEFORE its
    +1 (even in an earlier micro-batch) still annihilates exactly its own
    version; the surviving state is the highest positive-net version."""
    # batch 0: cancel of version 2 arrives FIRST; +1 of version 1 arrives
    _run(spark, dirs, [(1, -1, 0, 2, "v2"), (1, 1, 0, 1, "v1")], 0,
         version_col="ver")
    # k=1 visible at version 1 (net +1); version 2 pending at net -1
    assert _state(spark, dirs, version_col="ver") == {1: ("v1", 1)}
    # batch 1: the +1 of version 2 lands → annihilates the pending cancel
    _run(spark, dirs, [(1, 1, 0, 2, "v2")], 1, version_col="ver")
    # version 2 net 0 → dropped from the store; v1 remains current
    assert _state(spark, dirs, version_col="ver") == {1: ("v1", 1)}
    # batch 2: version 3 state lands normally → becomes current
    _run(spark, dirs, [(1, 1, 0, 3, "v3")], 2, version_col="ver")
    assert _state(spark, dirs, version_col="ver") == {1: ("v3", 1)}
    # cancelled version rows must have LEFT the store (bounded state)
    raw = pl.read_silver(spark, dirs["silver"])
    assert raw.filter(F.col("__sign_net") == 0).count() == 0


def test_plain_requires_seq(spark, dirs):
    spark.createDataFrame([(1, 1, 1, 0, "a")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(dirs["src"])
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"])
    with pytest.raises(ValueError, match="seq_col"):
        pl.silver_collapsing_stream(
            stream, dirs["silver"], dirs["ckpt"], keys=["k"], available_now=True
        )


def test_collapsing_replay_guard(spark, dirs):
    """Sign balances are additive → the non-idempotent replay guard must
    protect this sink exactly like the summing one."""
    import hashlib

    _run(spark, dirs, [(1, 1, 1, 0, "a")], 0, seq_col="seq")
    m = pl._read_manifest(dirs["silver"])
    ck1 = hashlib.md5((dirs["ckpt"] + "/b1").encode()).hexdigest()[:12]
    m["applied"] = {**m.get("applied", {}), ck1: 0}   # crash-replay shape
    pl._write_manifest(dirs["silver"], m)
    _run(spark, dirs, [(1, -1, 2, 0, "a")], 1, seq_col="seq")  # skipped
    assert _state(spark, dirs) == {1: ("a", 1)}       # balance NOT touched


def test_plain_net_zero_payload_beats_straggler(spark, dirs):
    """ADVICE r9 adjudication: plain mode must KEEP net-0 rows at merge
    time — the net-0 row carries the winning max-seq payload, and a
    straggler +1 with a LOWER seq arriving later must lose to it.  (An
    automatic merge-time purge — the advised fix — resurrects the
    straggler's stale payload; caught by the scattered sf0.01 replay.)"""
    # batch 0: k=1's UPDATE arrives first — cancel(seq 2) + new state
    # (seq 3).  Net 0, but the seq-3 payload must be remembered.
    _run(spark, dirs, [(1, -1, 2, 0, "old"), (1, 1, 3, 0, "new")], 0,
         seq_col="seq")
    raw = {r["k"]: (r["payload"], r["__sign_net"])
           for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert raw[1] == ("new", 0)              # net-0 row kept, payload "new"
    # batch 1: the ORIGINAL +1 (seq 1) straggles in → visible state must
    # be the seq-3 "new" payload, not the straggler's
    _run(spark, dirs, [(1, 1, 1, 0, "old")], 1, seq_col="seq")
    assert _state(spark, dirs) == {1: ("new", 1)}


@pytest.mark.slow
def test_plain_collapse_explicit_purge_bounds_state(spark, dirs):
    """ADVICE r9 (low), resolved as an explicit OPTIMIZE-FINAL analogue:
    ``collapse_purge_silver`` tombstones fully-cancelled (net-0) keys in
    one committed mutation; negative nets stay (an early cancel still
    annihilates its late +1); a post-purge re-insert starts a fresh
    balance via the sink's tombstone-restart rule."""
    _run(spark, dirs, [
        (1, 1, 10, 0, "one"),
        (2, 1, 11, 0, "two"), (2, -1, 12, 0, "two"),   # net 0
        (3, -1, 13, 0, "three"),                       # early cancel
    ], 0, seq_col="seq")
    assert pl.collapse_purge_silver(spark, dirs["silver"], keys=["k"]) == 1
    raw = {r["k"]: r["__sign_net"]
           for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert 2 not in raw                      # purged (tombstoned)
    assert raw[3] == -1                      # negative net untouched
    # k=2 re-inserts after the purge: fresh balance, fresh payload;
    # k=3's late +1 annihilates against the kept negative net
    _run(spark, dirs, [(2, 1, 15, 0, "two-b"), (3, 1, 14, 0, "three")], 1,
         seq_col="seq")
    assert _state(spark, dirs) == {1: ("one", 1), 2: ("two-b", 1)}
    # a second purge sweeps the now-annihilated k=3
    assert pl.collapse_purge_silver(spark, dirs["silver"], keys=["k"]) == 1
    raw = {r["k"] for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert raw == {1, 2}
