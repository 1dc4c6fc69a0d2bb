"""Transaction-consistent CDC visibility (r10, verdict item 2 / T9):
readers of the silver store must never observe a partially-applied
multi-row source transaction, however micro-batch boundaries cut the
stream — the feature Debezium's ``provide.transaction.metadata=true``
(abcsvb-connector-secure.json:50; value.json:731-754) exists for."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("txn_id", T.StringType()),
        T.StructField("txn_order", T.LongType()),
        T.StructField("txn_total", T.LongType()),
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
    q = pl.silver_txn_upsert_stream(
        stream, dirs["silver"], dirs["ckpt"] + f"/b{batch_no}",
        keys=["k"], version_col="ts", available_now=True, **kw,
    )
    assert q.awaitTermination(120)


def _silver(spark, dirs):
    if pl._read_manifest(dirs["silver"]) is None:
        return {}
    return {r["k"]: r["v"] for r in pl.read_silver(spark, dirs["silver"]).collect()}


def _pending_rows(spark, dirs):
    return pl.read_txn_pending(spark, dirs["silver"] + "_txn_pending").count()


@pytest.mark.slow
def test_partial_transactions_stay_invisible(spark, dirs):
    """Batches cut transactions mid-flight; after EVERY batch the store
    holds only whole transactions, and the final state equals the plain
    latest-wins result over the full log."""
    A = [(1, "a1", "c", 1, "A", 1, 3), (2, "a2", "c", 1, "A", 2, 3),
         (3, "a3", "c", 1, "A", 3, 3)]
    B = [(4, "b4", "c", 2, "B", 1, 2), (1, "b1", "u", 2, "B", 2, 2)]
    # b0: A is 2/3, B is 1/2 → NOTHING may be visible
    _run(spark, dirs, A[:2] + B[:1], 0)
    assert _silver(spark, dirs) == {}
    assert _pending_rows(spark, dirs) == 3
    # b1: B completes (its key-1 update must not appear without key 4)
    _run(spark, dirs, B[1:], 1)
    assert _silver(spark, dirs) == {4: "b4", 1: "b1"}
    assert _pending_rows(spark, dirs) == 2          # A still buffered
    # b2: A completes; key 1 keeps B's newer version (latest-wins)
    _run(spark, dirs, A[2:], 2)
    assert _silver(spark, dirs) == {1: "b1", 2: "a2", 3: "a3", 4: "b4"}
    assert _pending_rows(spark, dirs) == 0


def test_end_marker_declares_completeness(spark, dirs):
    """Data rows carry NO total (embedded Debezium metadata has none);
    the transaction-topic END marker — a row with NULL keys carrying
    txn_total — is what completes the transaction."""
    data = [(1, "m1", "c", 1, "M", 1, None), (2, "m2", "c", 1, "M", 2, None)]
    marker = [(None, None, None, None, "M", None, 2)]
    _run(spark, dirs, data, 0)
    assert _silver(spark, dirs) == {}               # total unknown → buffered
    _run(spark, dirs, marker, 1)
    assert _silver(spark, dirs) == {1: "m1", 2: "m2"}
    assert _pending_rows(spark, dirs) == 0          # marker drained too


@pytest.mark.slow
def test_delete_inside_transaction(spark, dirs):
    """A transaction mixing an update and a delete applies atomically:
    the tombstone and the update become visible in the same commit."""
    _run(spark, dirs, [(1, "x1", "c", 1, "A", 1, 2), (2, "x2", "c", 1, "A", 2, 2)], 0)
    assert _silver(spark, dirs) == {1: "x1", 2: "x2"}
    _run(spark, dirs, [(1, "y1", "u", 2, "B", 1, 2)], 1)
    assert _silver(spark, dirs) == {1: "x1", 2: "x2"}    # B mid-flight
    _run(spark, dirs, [(2, None, "d", 2, "B", 2, 2)], 2)
    assert _silver(spark, dirs) == {1: "y1"}             # update + delete together
    withd = pl.read_silver(spark, dirs["silver"], include_deleted=True)
    assert withd.filter("__deleted").count() == 1        # tombstone retained


@pytest.mark.slow
def test_batch_boundary_insensitive(spark, dirs, tmp_path):
    """State after adversarial splits == state after one batch with the
    whole log (both fully released)."""
    rows = [
        (1, "a1", "c", 1, "A", 1, 3), (2, "a2", "c", 1, "A", 2, 3),
        (3, "a3", "c", 1, "A", 3, 3),
        (4, "b4", "c", 2, "B", 1, 2), (1, "b1", "u", 2, "B", 2, 2),
        (3, None, "d", 3, "C", 1, 1),
    ]
    for i, chunk in enumerate([rows[:2], rows[2:5], rows[5:]]):
        _run(spark, dirs, chunk, i)
    split_state = _silver(spark, dirs)
    dirs2 = {n: str(tmp_path / ("x_" + n)) for n in ("src", "silver", "ckpt")}
    _run(spark, dirs2, rows, 0)
    assert split_state == _silver(spark, dirs2) == {1: "b1", 2: "a2", 4: "b4"}


@pytest.mark.slow
def test_duplicate_rows_within_buffer_are_idempotent(spark, dirs):
    """(txn_id, txn_order) is the row identity: re-delivery of a buffered
    row must not inflate the seen-count into a premature release."""
    r1 = (1, "a1", "c", 1, "A", 1, 2)
    _run(spark, dirs, [r1], 0)
    _run(spark, dirs, [r1], 1)                       # duplicate delivery
    assert _silver(spark, dirs) == {}                # still 1/2, not 2/2
    _run(spark, dirs, [(2, "a2", "c", 1, "A", 2, 2)], 2)
    assert _silver(spark, dirs) == {1: "a1", 2: "a2"}


def test_pending_store_is_directoried_beside_silver(spark, dirs):
    _run(spark, dirs, [(1, "a1", "c", 1, "A", 1, 2)], 0)
    assert os.path.isdir(dirs["silver"] + "_txn_pending")
    assert not os.path.isdir(dirs["silver"])         # nothing released yet


@pytest.mark.slow
def test_envelope_to_txn_sink_wiring(spark, dirs):
    """T9 end-to-end from the REFERENCE SURFACE: Debezium envelope JSON
    (payload.transaction carried by parse_envelope + unwrap_envelope
    keep_transaction) → with_txn_columns → txn_end_markers from the
    transaction topic's END events → the txn-consistent sink."""
    import json

    from postgres_debezium_clickhouse_spark.operators.transforms import (
        txn_end_markers, unwrap_envelope, with_txn_columns,
    )
    from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
    from postgres_debezium_clickhouse_spark.sources.cdc import parse_envelope

    def env(k, price, op, txn, order):
        after = {"o_orderkey": k, "o_custkey": 1, "o_orderstatus": "O",
                 "o_totalprice": str(price), "o_orderdate": "2024-01-01",
                 "o_orderpriority": "1", "o_clerk": "c", "o_shippriority": 0,
                 "o_comment": "x"}
        return json.dumps({"payload": {
            "before": None, "after": after, "op": op,
            "source": {"ts_ms": 1, "db": "d", "table": "orders"},
            "transaction": {"id": txn, "total_order": order,
                            "data_collection_order": order},
        }})

    raw = spark.createDataFrame(
        [(env(1, "10.0", "c", "T1", 1),), (env(2, "20.0", "c", "T1", 2),)],
        "value string",
    ).withColumn("offset", F.monotonically_increasing_id())
    flat = with_txn_columns(
        unwrap_envelope(
            parse_envelope(raw, ORDERS_ENVELOPE), drop_deletes=False,
            keep_transaction=True,
        )
    ).select("o_orderkey", "o_totalprice", F.col("__op").alias("op"),
             F.col("__ts_ms").alias("ts"), "txn_id", "txn_order", "txn_total")
    assert {r.txn_id for r in flat.collect()} == {"T1"}
    ends = spark.createDataFrame([("T1", 2)], "id string, event_count int")
    markers = txn_end_markers(ends, flat)
    assert markers.columns == flat.columns
    m = markers.first()
    assert (m.txn_id, m.txn_total, m.o_orderkey) == ("T1", 2, None)

    # through the sink: data alone buffers, the END marker releases
    full = flat.unionByName(markers)
    src = dirs["src"]
    full.filter(F.col("txn_total").isNull()).coalesce(1).write.json(src + "/b0")
    stream = spark.readStream.schema(full.schema).json(src + "/b0")
    q = pl.silver_txn_upsert_stream(
        stream, dirs["silver"], dirs["ckpt"] + "/b0", keys=["o_orderkey"],
        version_col="ts", available_now=True)
    assert q.awaitTermination(120)
    assert pl._read_manifest(dirs["silver"]) is None      # still buffered
    markers.coalesce(1).write.json(src + "/b1")
    stream = spark.readStream.schema(full.schema).json(src + "/b1")
    q = pl.silver_txn_upsert_stream(
        stream, dirs["silver"], dirs["ckpt"] + "/b1", keys=["o_orderkey"],
        version_col="ts", available_now=True)
    assert q.awaitTermination(120)
    got = {r.o_orderkey for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert got == {1, 2}


# ------------------------------------------------------ cross-table (r16)

MULTI_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ok", T.LongType()),       # orders key
        T.StructField("oprice", T.StringType()),
        T.StructField("lk", T.LongType()),       # lineitem key
        T.StructField("lqty", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("txn_id", T.StringType()),
        T.StructField("txn_order", T.LongType()),
        T.StructField("txn_total", T.LongType()),
    ]
)


def _multi_stores(dirs):
    return {
        "orders": {"path": dirs["silver"] + "_orders", "keys": ["ok"],
                   "version_col": "ts", "columns": ["ok", "oprice", "ts"]},
        "lineitem": {"path": dirs["silver"] + "_lineitem", "keys": ["lk"],
                     "version_col": "ts", "columns": ["lk", "lqty", "ts"]},
    }


def _run_multi(spark, dirs, rows, batch_no):
    spark.createDataFrame(rows, MULTI_SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(dirs["src"] + f"/m{batch_no}")
    stream = spark.readStream.schema(MULTI_SCHEMA).json(
        dirs["src"] + f"/m{batch_no}"
    )
    q = pl.silver_txn_multi_upsert_stream(
        stream, _multi_stores(dirs), dirs["ckpt"] + f"/m{batch_no}",
        pending_path=dirs["silver"] + "_txn_pending",
        available_now=True, n_buckets=4,
    )
    assert q.awaitTermination(120)


def _store_keys(spark, path, key):
    if pl._read_manifest(path) is None:
        return set()
    return {r[key] for r in pl.read_silver(spark, path).collect()}


def _ord_row(k, price, ts, txn, order, total=None, op="c"):
    return ("orders", op, k, price, None, None, ts, txn, order, total)


def _li_row(k, qty, ts, txn, order, total=None, op="c"):
    return ("lineitem", op, None, None, k, qty, ts, txn, order, total)


def _marker(txn, total, ts=0):
    return (None, None, None, None, None, None, ts, txn, 10**6, total)


@pytest.mark.slow
def test_multi_store_all_or_none(spark, dirs):
    """r16 (verdict item 2): a transaction spanning orders + lineitem
    becomes visible in BOTH stores in the same trigger, or in neither —
    a header without its details (or vice versa) is never readable."""
    # txn A: 1 order header + 2 detail rows (total=3, stamped)
    A = [_ord_row(1, "p1", 1, "A", 1, 3), _li_row(10, 5, 1, "A", 2, 3),
         _li_row(11, 7, 1, "A", 3, 3)]
    # txn B: lineitem-only (total=1)
    B = [_li_row(20, 9, 2, "B", 1, 1)]
    # batch 0: header + first detail only → NOTHING visible anywhere
    _run_multi(spark, dirs, A[:2] + B, 0)
    st = _multi_stores(dirs)
    assert _store_keys(spark, st["orders"]["path"], "ok") == set()
    assert _store_keys(spark, st["lineitem"]["path"], "lk") == {20}  # B done
    # batch 1: A completes → both stores atomically
    _run_multi(spark, dirs, A[2:], 1)
    assert _store_keys(spark, st["orders"]["path"], "ok") == {1}
    assert _store_keys(spark, st["lineitem"]["path"], "lk") == {10, 11, 20}
    assert pl.read_txn_pending(spark, dirs["silver"] + "_txn_pending").count() == 0
    # projected columns only — no cross-table NULL pollution
    ocols = pl.read_silver(spark, st["orders"]["path"]).columns
    assert "lk" not in ocols and "lqty" not in ocols


@pytest.mark.slow
def test_multi_store_end_marker_and_staged_replay(spark, dirs):
    """END-marker totals (NULL table row carrying the cross-collection
    event count) + a 3-stage replay cutting every txn mid-flight: after
    EVERY stage each transaction is all-or-none ACROSS both stores."""
    txns = {
        "T1": [_ord_row(1, "a", 1, "T1", 1), _li_row(100, 1, 1, "T1", 2),
               _li_row(101, 2, 1, "T1", 3), _marker("T1", 3)],
        "T2": [_ord_row(2, "b", 2, "T2", 1), _li_row(200, 3, 2, "T2", 2),
               _marker("T2", 2)],
        "T3": [_li_row(300, 4, 3, "T3", 1), _ord_row(3, "c", 3, "T3", 2),
               _marker("T3", 2)],
    }
    # stage s gets every row whose position % 3 == s → all txns cut
    stages = [[], [], []]
    for rows in txns.values():
        for i, r in enumerate(rows):
            stages[i % 3].append(r)
    st = _multi_stores(dirs)
    txn_keys = {
        "T1": {("orders", 1), ("lineitem", 100), ("lineitem", 101)},
        "T2": {("orders", 2), ("lineitem", 200)},
        "T3": {("orders", 3), ("lineitem", 300)},
    }
    for s, rows in enumerate(stages):
        _run_multi(spark, dirs, rows, s + 10)
        ok = _store_keys(spark, st["orders"]["path"], "ok")
        lk = _store_keys(spark, st["lineitem"]["path"], "lk")
        seen = {("orders", k) for k in ok} | {("lineitem", k) for k in lk}
        for t, keys in txn_keys.items():
            hit = keys & seen
            assert hit in (set(), keys), (
                f"stage {s}: txn {t} partially applied: {hit}"
            )
    assert _store_keys(spark, st["orders"]["path"], "ok") == {1, 2, 3}
    assert _store_keys(spark, st["lineitem"]["path"], "lk") == {
        100, 101, 200, 300,
    }
    assert pl.read_txn_pending(spark, dirs["silver"] + "_txn_pending").count() == 0


@pytest.mark.slow
def test_multi_store_batch_replay_idempotent(spark, dirs):
    """Whole-batch replay (the foreachBatch crash window): re-delivering
    an already-applied batch through a fresh checkpoint neither tears a
    transaction nor duplicates rows."""
    rows = [_ord_row(5, "x", 1, "R", 1, 2), _li_row(50, 6, 1, "R", 2, 2)]
    _run_multi(spark, dirs, rows, 20)
    st = _multi_stores(dirs)
    before_o = sorted(
        (r["ok"], r["oprice"]) for r in
        pl.read_silver(spark, st["orders"]["path"]).collect()
    )
    _run_multi(spark, dirs, rows, 21)   # same rows, new batch dir/ckpt
    after_o = sorted(
        (r["ok"], r["oprice"]) for r in
        pl.read_silver(spark, st["orders"]["path"]).collect()
    )
    assert before_o == after_o == [(5, "x")]
    assert _store_keys(spark, st["lineitem"]["path"], "lk") == {50}


def test_multi_store_unknown_collection_is_loud(spark, dirs):
    """r16 review: a released row whose table has no configured store
    must FAIL the trigger, not vanish from pending silently."""
    rows = [("ghost", "c", None, None, 77, 1, 1, "G", 1, 1)]
    spark.createDataFrame(rows, MULTI_SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(dirs["src"] + "/g0")
    stream = spark.readStream.schema(MULTI_SCHEMA).json(dirs["src"] + "/g0")
    q = pl.silver_txn_multi_upsert_stream(
        stream, _multi_stores(dirs), dirs["ckpt"] + "/g0",
        pending_path=dirs["silver"] + "_txn_pending",
        available_now=True, n_buckets=4,
    )
    with pytest.raises(Exception, match="no.*configured store|ghost"):
        q.awaitTermination(120)
