"""Debezium incremental snapshot (r11): signal-triggered PK-chunked
re-snapshot racing the live stream, DBLog watermark semantics carried by
the store's version-latest-wins order (streaming/snapshot.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl
from postgres_debezium_clickhouse_spark.streaming.snapshot import (
    list_signals, plan_snapshot_chunks, process_signals,
    run_incremental_snapshot, signal_snapshot,
)

EVENT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("val", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("offset", T.LongType()),
])

N = 40
W = 500  # the snapshot's low watermark in the stream's ts_ms domain


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("src", "silver", "ckpt")}


def _stream_merge(spark, dirs, rows, tag):
    src = f"{dirs['src']}/{tag}"
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.json(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).json(src)
    q = pl.silver_upsert_stream(
        stream, dirs["silver"], f"{dirs['ckpt']}/{tag}", keys=["id"],
        available_now=True,
    )
    assert q.awaitTermination(120)


def _seed_rows():
    # connector life before the signal: snapshot.mode=never — only odd
    # ids ever got a 'c'; updates flow for ALL ids %3==0 (change events
    # are not gated on the snapshot)
    rows = [(i, f"T{i}", "c", 100, i * 10) for i in range(1, N + 1, 2)]
    rows += [(i, f"U{i}", "u", 200 + i, i * 10 + 1)
             for i in range(1, N + 1) if i % 3 == 0]
    # an event AFTER the watermark delivered BEFORE any chunk merges —
    # the chunk for id 9 must not clobber it (window dedup)
    rows += [(9, "V9", "u", 600, 91)]
    return rows


def _table_truth(spark):
    # table state as of W: seed updates applied, post-W events not yet
    rows = [(i, f"U{i}" if i % 3 == 0 else f"T{i}")
            for i in range(1, N + 1)]
    return spark.createDataFrame(rows, "id long, val string")


def _mid_rows():
    # change events landing MID-snapshot (between chunks)
    rows = [(i, f"X{i}", "u", 700 + i, i * 10 + 2)
            for i in range(1, N + 1) if i % 4 == 0]
    rows += [(i, None, "d", 800 + i, i * 10 + 3)
             for i in range(1, N + 1) if i % 5 == 0]
    return rows


def _expected():
    out = {}
    for i in range(1, N + 1):
        if i % 5 == 0:
            continue
        if i % 4 == 0:
            out[i] = (f"X{i}", 700 + i)
        elif i == 9:
            out[i] = ("V9", 600)
        elif i % 3 == 0:
            out[i] = (f"U{i}", W)
        else:
            out[i] = (f"T{i}", W)
    return out


def _state(spark, dirs):
    return {r.id: (r.val, r.ts_ms)
            for r in pl.read_silver(spark, dirs["silver"]).collect()}


def test_plan_chunks_partition_key_space(spark):
    t = spark.createDataFrame([(i,) for i in range(1, 101)], "k long")
    bounds = plan_snapshot_chunks(t, "k", 5)
    assert bounds[0][0] is None and bounds[-1][1] is None
    assert len(bounds) >= 2
    for (lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 == lo2                       # contiguous, disjoint
    # every key lands in exactly one chunk
    from postgres_debezium_clickhouse_spark.streaming.snapshot import _chunk_pred
    import pyspark.sql.functions as F
    total = 0
    for lo, hi in bounds:
        total += t.filter(_chunk_pred("k", lo, hi)).count()
    assert total == 100
    # pathological skew: one repeated key value → collapses, never overlaps
    skew = spark.createDataFrame([(7,)] * 50, "k long")
    sb = plan_snapshot_chunks(skew, "k", 4)
    assert sum(skew.filter(_chunk_pred("k", lo, hi)).count() for lo, hi in sb) == 50


@pytest.mark.slow
def test_incremental_snapshot_full_scenario(spark, dirs):
    """Backfill + window dedup + mid-snapshot deletes, adversarially
    interleaved: change events land between chunks; events for keys in
    NOT-yet-merged chunks must beat their chunk rows, deletes must not be
    resurrected, never-streamed keys get table truth at W."""
    _stream_merge(spark, dirs, _seed_rows(), "seed")

    def hook(i):
        if i == 1:
            _stream_merge(spark, dirs, _mid_rows(), "mid")

    merged = run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
        interleave_hook=hook,
    )
    assert merged >= 2
    assert _state(spark, dirs) == _expected()


@pytest.mark.slow
def test_snapshot_is_idempotent(spark, dirs):
    _stream_merge(spark, dirs, _seed_rows(), "seed")
    for _ in range(2):   # running the same snapshot twice = same state
        run_incremental_snapshot(
            _table_truth(spark), dirs["silver"], ["id"],
            order_col="id", watermark_version=W, n_chunks=3,
        )
    st = _state(spark, dirs)
    assert st[2] == ("T2", W) and st[9] == ("V9", 600)
    assert len(st) == N


@pytest.mark.slow
def test_resume_after_crash_skips_completed_chunks(spark, dirs, tmp_path):
    _stream_merge(spark, dirs, _seed_rows(), "seed")

    calls = []

    def crash_hook(i):
        calls.append(i)
        if i == 1:
            raise RuntimeError("simulated crash mid-snapshot")

    with pytest.raises(RuntimeError, match="simulated crash"):
        run_incremental_snapshot(
            _table_truth(spark), dirs["silver"], ["id"],
            order_col="id", watermark_version=W, n_chunks=4,
            signal_id="sig1", interleave_hook=crash_hook,
        )
    assert calls == [0, 1]
    resumed = run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
        signal_id="sig1",
    )
    assert 0 < resumed < 4                      # only the remaining chunks
    # identical to an uninterrupted control run on a fresh store
    d2 = {k: str(tmp_path / ("ctl_" + k)) for k in ("src", "silver", "ckpt")}
    _stream_merge(spark, d2, _seed_rows(), "seed")
    run_incremental_snapshot(
        _table_truth(spark), d2["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
    )
    assert _state(spark, dirs) == _state(spark, d2)


@pytest.mark.slow
def test_signal_lifecycle(spark, dirs):
    _stream_merge(spark, dirs, _seed_rows(), "seed")
    sid = signal_snapshot(
        dirs["silver"], order_col="id", n_chunks=3, watermark_version=W,
    )
    assert [s["id"] for s in list_signals(dirs["silver"])] == [sid]
    with pytest.raises(ValueError, match="already exists"):
        signal_snapshot(dirs["silver"], order_col="id", n_chunks=3,
                        watermark_version=W, signal_id=sid)
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == [sid]
    assert list_signals(dirs["silver"]) == []    # renamed to .done
    st = _state(spark, dirs)
    assert len(st) == N and st[4] == ("T4", W)
    assert process_signals(_table_truth(spark), dirs["silver"], ["id"]) == []


def test_stop_snapshot_signal(spark, dirs):
    """r11: the Debezium stop-snapshot signal — already-merged chunks
    stay (correct table truth at the watermark), remaining chunks are
    skipped; a stop BEFORE any chunk merges leaves the store untouched;
    the signal file is marked .stopped, not .done."""
    import os

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        signal_stop_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    before = _state(spark, dirs)

    # stop mid-run: issue the stop from the interleave hook after chunk 0
    def hook(i):
        if i == 0:
            signal_stop_snapshot(dirs["silver"], "sigstop")

    merged = run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
        signal_id="sigstop", interleave_hook=hook,
    )
    assert merged == 1                       # chunk 0 merged, rest skipped
    mid = _state(spark, dirs)
    assert mid != before                     # chunk 0's backfill landed
    assert len(mid) < N                      # but not the whole table

    # stop before start: a pending signal drains to .stopped with 0 chunks
    sid = signal_snapshot(dirs["silver"], order_col="id", n_chunks=4,
                          watermark_version=W, signal_id="sigpend")
    signal_stop_snapshot(dirs["silver"], sid)
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == [sid]
    sdir = os.path.join(dirs["silver"], "_signals")
    assert os.path.exists(os.path.join(sdir, f"{sid}.json.stopped"))
    assert _state(spark, dirs) == mid        # store untouched by sigpend


@pytest.mark.slow
def test_resume_reuses_persisted_bounds(spark, dirs, monkeypatch):
    """ADVICE r11: chunk boundaries are planned ONCE and persisted with
    the progress; a crash-resume must reuse them verbatim (Debezium
    stores the actual chunk bounds in offsets) — re-quantiling a table
    the live stream mutated would shift the cuts and leave completed
    indices pointing at different PK ranges, silently skipping keys."""
    import json as _json
    import os

    import postgres_debezium_clickhouse_spark.streaming.snapshot as sn

    _stream_merge(spark, dirs, _seed_rows(), "seed")

    def crash_hook(i):
        if i == 0:
            raise RuntimeError("crash after first chunk")

    with pytest.raises(RuntimeError):
        run_incremental_snapshot(
            _table_truth(spark), dirs["silver"], ["id"],
            order_col="id", watermark_version=W, n_chunks=4,
            signal_id="sigb", interleave_hook=crash_hook,
        )
    prog = os.path.join(dirs["silver"], "_signals", "sigb.progress")
    saved = _json.load(open(prog))
    assert saved["completed"] == [0]
    assert len(saved["bounds"]) >= 2          # the planned cuts persisted

    def boom(*a, **k):
        raise AssertionError("resume must NOT re-plan chunk bounds")

    monkeypatch.setattr(sn, "plan_snapshot_chunks", boom)
    resumed = sn.run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4, signal_id="sigb",
    )
    assert resumed == len(saved["bounds"]) - 1
    assert not os.path.exists(prog)           # cleared on completion
    assert len(_state(spark, dirs)) == N      # full-table convergence


@pytest.mark.slow
def test_adhoc_rerun_remerges(spark, dirs):
    """ADVICE r11: two direct ad-hoc snapshots must both do work — the
    default signal id is fresh per invocation and progress is cleared on
    completion, so a re-backfill after reconfiguration never silently
    no-ops against a stale 'adhoc' progress file."""
    _stream_merge(spark, dirs, _seed_rows(), "seed")
    m1 = run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
    )
    m2 = run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
    )
    assert m1 > 0 and m2 == m1                # second run re-merges all


@pytest.mark.slow
def test_stopped_signal_id_not_reusable(spark, dirs):
    """ADVICE r11: a drained-stopped signal id is history like .done —
    re-issuing it must fail loudly, not create an instantly-cancelled
    signal; a bare orphan .stop marker (stop for a signal that never
    existed) is cleaned up so the new signal runs."""
    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        signal_stop_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    sid = signal_snapshot(dirs["silver"], order_col="id", n_chunks=3,
                          watermark_version=W, signal_id="sigx")
    signal_stop_snapshot(dirs["silver"], sid)
    assert process_signals(_table_truth(spark), dirs["silver"], ["id"]) == [sid]
    with pytest.raises(ValueError, match="already exists"):
        signal_snapshot(dirs["silver"], order_col="id", n_chunks=3,
                        watermark_version=W, signal_id="sigx")
    # orphan stop marker: never had a signal file — creating one clears it
    signal_stop_snapshot(dirs["silver"], "sigy")
    signal_snapshot(dirs["silver"], order_col="id", n_chunks=3,
                    watermark_version=W, signal_id="sigy")
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == ["sigy"]
    assert len(_state(spark, dirs)) == N      # it actually snapshotted


@pytest.mark.slow
def test_pause_resume_equals_uninterrupted(spark, dirs, tmp_path):
    """r12: Debezium pause-snapshot / resume-snapshot — a pause mid-run
    keeps progress (and the planned bounds), the signal stays pending in
    the poll loop, and after resume-snapshot the final state is identical
    to an uninterrupted control run."""
    import os

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        signal_pause_snapshot, signal_resume_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    sid = signal_snapshot(dirs["silver"], order_col="id", n_chunks=4,
                          watermark_version=W, signal_id="sigp")

    def hook(i):
        if i == 1:
            signal_pause_snapshot(dirs["silver"])

    # paused mid-run: not terminal, signal stays pending, progress kept
    assert process_signals(_table_truth(spark), dirs["silver"], ["id"],
                           interleave_hook=hook) == []
    assert [s["id"] for s in list_signals(dirs["silver"])] == [sid]
    prog = os.path.join(dirs["silver"], "_signals", f"{sid}.progress")
    assert os.path.exists(prog)
    assert len(_state(spark, dirs)) < N       # only some chunks merged

    # still paused: another poll merges nothing and keeps it pending
    assert process_signals(_table_truth(spark), dirs["silver"], ["id"]) == []

    signal_resume_snapshot(dirs["silver"])
    assert process_signals(_table_truth(spark), dirs["silver"], ["id"]) == [sid]
    assert not os.path.exists(prog)

    # identical to an uninterrupted control run on a fresh store
    d2 = {k: str(tmp_path / ("pctl_" + k)) for k in ("src", "silver", "ckpt")}
    _stream_merge(spark, d2, _seed_rows(), "seed")
    run_incremental_snapshot(
        _table_truth(spark), d2["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
    )
    assert _state(spark, dirs) == _state(spark, d2)
    # resume-snapshot when not paused is a no-op, not an error
    signal_resume_snapshot(dirs["silver"])


@pytest.mark.slow
def test_blocking_snapshot_suspends_stream_merges(spark, dirs):
    """r13 (verdict item 8) — ad-hoc BLOCKING snapshot: a stream merge
    attempted while the snapshot holds the store must WAIT until the
    lock clears (Debezium suspends streaming for a blocking snapshot),
    then apply normally — the final state equals snapshot-then-batch
    with no interleaving."""
    import threading
    import time

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        run_blocking_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")

    merge_done_at = {}
    lock_seen_held = {}

    def attempt_merge():
        _stream_merge(spark, dirs, _mid_rows(), "mid")
        merge_done_at["t"] = time.monotonic()

    t = threading.Thread(target=attempt_merge, daemon=True)

    def hook(i):
        if i == 1:
            t.start()
            time.sleep(1.0)  # give the stream a chance to (wrongly) run
            lock_seen_held["blocked"] = pl.merges_blocked(dirs["silver"])
            lock_seen_held["merge_pending"] = "t" not in merge_done_at
        time.sleep(0.2)

    n = run_blocking_snapshot(
        _table_truth(spark), dirs["silver"],
        ["id"], order_col="id", watermark_version=W, n_chunks=4,
        interleave_hook=hook,
    )
    unlock_at = time.monotonic()
    assert n == 4
    assert lock_seen_held == {"blocked": True, "merge_pending": True}
    t.join(120)
    assert "t" in merge_done_at, "suspended merge never completed"
    assert merge_done_at["t"] >= unlock_at - 0.05, (
        "stream merge finished while the blocking snapshot held the store"
    )
    assert not pl.merges_blocked(dirs["silver"])
    # final state: table truth at W, then the deferred batch on top —
    # same closed form as the incremental scenario's _expected() (V9's
    # post-W event still outversions its chunk row)
    assert _state(spark, dirs) == _expected()


@pytest.mark.slow
def test_blocking_snapshot_releases_lock_on_failure(spark, dirs):
    """A crash mid-blocking-snapshot must release the lock (finally
    path) so the stream is never wedged; a second snapshot can run."""
    import pytest as _pytest

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        run_blocking_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")

    def boom(i):
        raise RuntimeError("chunk crash")

    with _pytest.raises(RuntimeError, match="chunk crash"):
        run_blocking_snapshot(
            _table_truth(spark), dirs["silver"], ["id"],
            order_col="id", watermark_version=W, n_chunks=4,
            interleave_hook=boom,
        )
    assert not pl.merges_blocked(dirs["silver"])
    n = run_blocking_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=4,
    )
    assert n == 4


@pytest.mark.slow
def test_blocking_signal_via_process_signals(spark, dirs):
    """The signal route: snapshot_type='blocking' dispatches to the
    blocking runner and the signal file lands at .json.done."""
    import os

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    sid = signal_snapshot(
        dirs["silver"], order_col="id", n_chunks=3, watermark_version=W,
        snapshot_type="blocking",
    )
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == [sid]
    assert os.path.exists(
        os.path.join(dirs["silver"], "_signals", f"{sid}.json.done")
    )
    assert not pl.merges_blocked(dirs["silver"])
    # truth applied: every id present with snapshot version where no
    # newer event exists
    st = _state(spark, dirs)
    assert st[2] == ("T2", W) and st[3] == ("U3", W)
    assert st[9] == ("V9", 600)          # post-W event still wins

    # invalid snapshot_type rejected loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="incremental|blocking"):
        signal_snapshot(dirs["silver"], order_col="id", n_chunks=1,
                        watermark_version=W, snapshot_type="full")


@pytest.mark.slow
def test_filtered_snapshot_additional_condition(spark, dirs):
    """r13 — Debezium additional-conditions (filtered ad-hoc snapshot)
    via the signal route: only ODD ids are chunk-read; evens keep their
    stream-given state (mod-3 updates stay at their stream ts) and
    stream-untouched evens are NOT backfilled."""
    import os

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    sid = signal_snapshot(
        dirs["silver"], order_col="id", n_chunks=4, watermark_version=W,
        additional_condition="id % 2 = 1",
    )
    assert list_signals(dirs["silver"])[0]["additional_condition"] == "id % 2 = 1"
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == [sid]
    assert os.path.exists(
        os.path.join(dirs["silver"], "_signals", f"{sid}.json.done")
    )
    st = _state(spark, dirs)
    # odd keys: refreshed to table truth at W (post-W event still wins)
    assert st[1] == ("T1", W) and st[3] == ("U3", W)
    assert st[9] == ("V9", 600)
    # even mod-3 keys: stream state with the STREAM's ts, never restamped
    assert st[6] == ("U6", 206) and st[12] == ("U12", 212)
    # stream-untouched evens: absent (the filter's whole point)
    assert 2 not in st and 4 not in st and 8 not in st
    # full closed form
    expected = {}
    for i in range(1, N + 1):
        if i % 2 == 1:
            expected[i] = ("V9", 600) if i == 9 else (
                (f"U{i}", W) if i % 3 == 0 else (f"T{i}", W))
        elif i % 3 == 0:
            expected[i] = (f"U{i}", 200 + i)
    assert st == expected


@pytest.mark.slow
def test_kafka_channel_signal_lifecycle(spark, dirs, tmp_path):
    """r14 — Debezium `signal.enabled.channels=kafka`: an operator
    appends the kafka-signal envelope to the signal topic (no write
    access to the store's signal dir needed — the locked-down-source
    use case), the poll loop drains it into the same file-signal queue
    mid-stream, process_signals executes it, and the channel offset
    commits so replays are no-ops."""
    import os

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        kafka_signal_topic_append, poll_kafka_signal_channel,
    )

    topic = str(tmp_path / "signal-topic.jsonl")
    _stream_merge(spark, dirs, _seed_rows(), "seed")

    # signal arrives on the topic mid-stream
    off = kafka_signal_topic_append(topic, {
        "id": "kafkasig1", "type": "execute-snapshot",
        "data": {"type": "INCREMENTAL", "order_col": "id",
                 "n_chunks": 3, "watermark_version": W},
    })
    assert off == 0
    assert list_signals(dirs["silver"]) == []        # not yet polled
    assert poll_kafka_signal_channel(topic, dirs["silver"]) == ["kafkasig1"]
    assert [s["id"] for s in list_signals(dirs["silver"])] == ["kafkasig1"]

    # replay: offset committed, nothing re-enqueued
    assert poll_kafka_signal_channel(topic, dirs["silver"]) == []

    # the normal signal loop executes it; ack = .json.done + state merged
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == ["kafkasig1"]
    sdir = os.path.join(dirs["silver"], "_signals")
    assert os.path.exists(os.path.join(sdir, "kafkasig1.json.done"))
    st = _state(spark, dirs)
    assert len(st) == N and st[4] == ("T4", W)

    # a redelivered copy of the SAME message (at-least-once producer
    # retry) is skipped: the id is terminal
    kafka_signal_topic_append(topic, {
        "id": "kafkasig1", "type": "execute-snapshot",
        "data": {"type": "INCREMENTAL", "order_col": "id",
                 "n_chunks": 3, "watermark_version": W},
    })
    assert poll_kafka_signal_channel(topic, dirs["silver"]) == []

    # stop/pause/resume ride the channel too; poison messages skip
    kafka_signal_topic_append(topic, {"type": "pause-snapshot"})
    kafka_signal_topic_append(topic, "not-a-signal-at-all")
    kafka_signal_topic_append(topic, {"type": "resume-snapshot"})
    assert poll_kafka_signal_channel(topic, dirs["silver"]) == []
    assert not os.path.exists(os.path.join(sdir, "pause"))  # paused then resumed


@pytest.mark.slow
def test_kafka_channel_cli_roundtrip(spark, dirs, tmp_path):
    """r14 — the CLI surface: --channel kafka appends the envelope,
    poll-signals drains it into the queue."""
    from postgres_debezium_clickhouse_spark.__main__ import main

    topic = str(tmp_path / "t.jsonl")
    _stream_merge(spark, dirs, _seed_rows(), "seed")
    assert main(["signal-snapshot", dirs["silver"], "--order-col", "id",
                 "--watermark", str(W), "--chunks", "2",
                 "--channel", "kafka", "--topic", topic]) == 0
    assert list_signals(dirs["silver"]) == []
    assert main(["poll-signals", dirs["silver"], "--topic", topic]) == 0
    sigs = list_signals(dirs["silver"])
    assert len(sigs) == 1 and sigs[0]["n_chunks"] == 2
    done = process_signals(_table_truth(spark), dirs["silver"], ["id"])
    assert done == [sigs[0]["id"]]


@pytest.mark.slow
def test_notification_feed(spark, dirs):
    """r15 Debezium notification surface: a complete incremental
    snapshot emits STARTED -> IN_PROGRESS per chunk ->
    TABLE_SCAN_COMPLETED -> COMPLETED in order with the signal id
    threaded through; pause emits PAUSED and the resumed run leads
    with RESUMED; stop emits ABORTED; blocking snapshots report under
    their own aggregate type."""
    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        emit_notification,
        read_notifications,
        run_blocking_snapshot,
        signal_pause_snapshot,
        signal_resume_snapshot,
        signal_stop_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
        signal_id="sig-notify",
    )
    notes = read_notifications(dirs["silver"])
    kinds = [n["type"] for n in notes
             if n["aggregate_type"] == "Incremental Snapshot"]
    assert kinds == ["STARTED", "IN_PROGRESS", "IN_PROGRESS",
                     "IN_PROGRESS", "TABLE_SCAN_COMPLETED", "COMPLETED"]
    assert all(n["additional_data"]["signal_id"] == "sig-notify"
               for n in notes if n["aggregate_type"] == "Incremental Snapshot")
    assert notes[0]["additional_data"]["total_chunks"] == 3
    assert all("id" in n and "timestamp" in n for n in notes)

    # pause mid-run -> PAUSED; resume -> RESUMED ... COMPLETED
    def pause_hook(i):
        if i == 0:
            signal_pause_snapshot(dirs["silver"])

    run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
        signal_id="sig-pause", interleave_hook=pause_hook,
    )
    signal_resume_snapshot(dirs["silver"])
    run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
        signal_id="sig-pause",
    )
    kinds2 = [n["type"] for n in read_notifications(dirs["silver"])
              if n["aggregate_type"] == "Incremental Snapshot"
              and n["additional_data"].get("signal_id") == "sig-pause"]
    assert kinds2[0] == "STARTED" and "PAUSED" in kinds2
    assert kinds2[kinds2.index("PAUSED") + 1] == "RESUMED"
    assert kinds2[-1] == "COMPLETED"

    # stop -> ABORTED
    signal_stop_snapshot(dirs["silver"], "sig-stop")
    run_incremental_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W, n_chunks=3,
        signal_id="sig-stop",
    )
    kinds3 = [n["type"] for n in read_notifications(dirs["silver"])
              if n["additional_data"].get("signal_id") == "sig-stop"]
    assert kinds3[-1] == "ABORTED"

    # blocking snapshot: own aggregate type
    run_blocking_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W + 1, n_chunks=2,
    )
    blocking = [n["type"] for n in read_notifications(dirs["silver"])
                if n["aggregate_type"] == "Blocking Snapshot"]
    assert blocking == ["STARTED", "COMPLETED"]
    # the feed is append-only observability; emit_notification is
    # callable standalone (the Initial Snapshot aggregate)
    emit_notification(dirs["silver"], "Initial Snapshot", "SKIPPED")
    assert read_notifications(dirs["silver"])[-1]["type"] == "SKIPPED"


@pytest.mark.slow
def test_blocking_snapshot_plan_failure_no_orphan_aborted(spark, dirs):
    """r16 (r15 ADVICE): a failure in chunk PLANNING (before STARTED)
    must not emit an orphan ABORTED — the notification feed either has a
    STARTED..terminal pair or nothing; the lock is still released."""
    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        read_notifications,
        run_blocking_snapshot,
    )

    _stream_merge(spark, dirs, _seed_rows(), "seed")
    before = [n for n in read_notifications(dirs["silver"])
              if n["aggregate_type"] == "Blocking Snapshot"]
    with pytest.raises(Exception):
        run_blocking_snapshot(
            _table_truth(spark), dirs["silver"], ["id"],
            order_col="no_such_column", watermark_version=W + 1,
            n_chunks=2,
        )
    after = [n for n in read_notifications(dirs["silver"])
             if n["aggregate_type"] == "Blocking Snapshot"]
    assert after == before  # no orphan ABORTED
    # lock released by the finally: a follow-up blocking snapshot runs
    run_blocking_snapshot(
        _table_truth(spark), dirs["silver"], ["id"],
        order_col="id", watermark_version=W + 1, n_chunks=2,
    )
    kinds = [n["type"] for n in read_notifications(dirs["silver"])
             if n["aggregate_type"] == "Blocking Snapshot"]
    assert kinds == ["STARTED", "COMPLETED"]


# ------------------------------------------------------------------
# r17 (verdict item 7): multi-table snapshot × cross-table txn stream
# ------------------------------------------------------------------

MULTI_SCHEMA = T.StructType([
    T.StructField("table", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("hk", T.LongType()),
    T.StructField("hval", T.StringType()),
    T.StructField("dk", T.LongType()),
    T.StructField("dval", T.LongType()),
    T.StructField("ts_ms", T.LongType()),
    T.StructField("offset", T.LongType()),
    T.StructField("txn_id", T.StringType()),
    T.StructField("txn_order", T.LongType()),
    T.StructField("txn_total", T.LongType()),
])


def _multi_stores(dirs):
    return {
        "det": {"path": dirs["silver"] + "_det", "keys": ["dk"],
                "version_col": "ts_ms", "tiebreak_col": "offset",
                "columns": ["dk", "dval", "ts_ms", "offset"]},
        "hdr": {"path": dirs["silver"] + "_hdr", "keys": ["hk"],
                "version_col": "ts_ms", "tiebreak_col": "offset",
                "columns": ["hk", "hval", "ts_ms", "offset"]},
    }


def _run_multi_txn(spark, dirs, rows, tag):
    spark.createDataFrame(rows, MULTI_SCHEMA).coalesce(1).write.mode(
        "append").json(dirs["src"] + f"/{tag}")
    stream = spark.readStream.schema(MULTI_SCHEMA).json(
        dirs["src"] + f"/{tag}")
    q = pl.silver_txn_multi_upsert_stream(
        stream, _multi_stores(dirs), dirs["ckpt"] + f"/{tag}",
        pending_path=dirs["silver"] + "_txn_pending",
        available_now=True, n_buckets=4,
    )
    assert q.awaitTermination(120)


@pytest.mark.slow
def test_multi_table_snapshot_while_txns_stream(spark, dirs):
    """The composition: run_incremental_snapshot_multi backfills the
    hdr+det stores IN LOCKSTEP while cross-table transactions stream
    through silver_txn_multi_upsert_stream mid-snapshot.  Pins (a) the
    lockstep order (chunk i of every table before any chunk i+1), (b)
    final-state convergence on both stores (mid-snapshot atomic txn
    beats chunk rows key-by-key, snapshot backfills the rest), (c) the
    notification stream."""
    import json
    import os

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        _progress_path,
        run_incremental_snapshot_multi,
    )

    NH = 8
    # seed (pre-watermark): odd headers arrive as atomic hdr+2-det txns
    seed = []
    for i in range(1, NH + 1, 2):
        seed += [
            ("hdr", "c", i, f"S{i}", None, None, 100, i * 100,
             f"A{i}", 0, None),
            ("det", "c", None, None, i * 10, i * 10, 100, i * 100 + 1,
             f"A{i}", 1, None),
            ("det", "c", None, None, i * 10 + 1, i * 10 + 1, 100,
             i * 100 + 2, f"A{i}", 2, None),
            (None, None, None, None, None, None, 100, i * 100 + 9,
             f"A{i}", 99, 3),
        ]
    _run_multi_txn(spark, dirs, seed, "seed")

    st = _multi_stores(dirs)
    W = 500
    hdr_truth = spark.createDataFrame(
        [(i, f"H{i}") for i in range(1, NH + 1)], "hk long, hval string")
    det_truth = spark.createDataFrame(
        [(i * 10 + j, i * 10 + j) for i in range(1, NH + 1)
         for j in (0, 1)], "dk long, dval long")

    sid = "multi-test"
    coord = st["det"]["path"]                       # first sorted name
    seen_cycles = []

    def hook(i):
        # lockstep pin: after cycle i, BOTH tables' chunks 0..i are done
        with open(_progress_path(coord, sid)) as fh:
            comp = {tuple(c) for c in json.load(fh)["completed"]}
        for c in range(i + 1):
            assert ("det", c) in comp and ("hdr", c) in comp
        seen_cycles.append(i)
        if i == 1:
            # mid-snapshot CROSS-TABLE txn: hdr 4 + det 40 atomically
            mid = [
                ("hdr", "u", 4, "X4", None, None, 700, 9001, "M", 0, None),
                ("det", "u", None, None, 40, 999, 700, 9002, "M", 1, None),
                (None, None, None, None, None, None, 700, 9009, "M", 9, 2),
            ]
            _run_multi_txn(spark, dirs, mid, "mid")

    n = run_incremental_snapshot_multi(
        {
            "hdr": {"source_table": hdr_truth, "path": st["hdr"]["path"],
                    "keys": ["hk"], "order_col": "hk"},
            "det": {"source_table": det_truth, "path": st["det"]["path"],
                    "keys": ["dk"], "order_col": "dk"},
        },
        watermark_version=W, n_chunks=4, signal_id=sid, interleave_hook=hook,
    )
    assert n == 8 and seen_cycles == [0, 1, 2, 3]

    hdr = {r.hk: (r.hval, r.ts_ms)
           for r in pl.read_silver(spark, st["hdr"]["path"]).collect()}
    det = {r.dk: (r.dval, r.ts_ms)
           for r in pl.read_silver(spark, st["det"]["path"]).collect()}
    # every header backfilled; the mid-txn update beats its chunk row
    assert hdr == {i: (("X4", 700) if i == 4 else (f"H{i}", W))
                   for i in range(1, NH + 1)}
    assert det == {i * 10 + j: ((999, 700) if i * 10 + j == 40
                                else (i * 10 + j, W))
                   for i in range(1, NH + 1) for j in (0, 1)}
    # notifications: STARTED lists both tables, per-table scan-complete
    npath = os.path.join(coord, "_notifications.jsonl")
    recs = [json.loads(x) for x in open(npath)]
    types = [r["type"] for r in recs]
    assert types[0] == "STARTED"
    assert recs[0]["additional_data"]["tables"] == ["det", "hdr"]
    assert types.count("TABLE_SCAN_COMPLETED") == 2
    assert types[-1] == "COMPLETED"
    # progress cleared on completion
    assert not os.path.exists(_progress_path(coord, sid))


def test_multi_snapshot_stop_marker_consumed(spark, dirs):
    # r17 second-pass review: honoring a stop must CONSUME the marker —
    # a later re-backfill under the same signal_id runs instead of
    # aborting stillborn
    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        run_incremental_snapshot_multi,
        signal_stop_snapshot,
    )

    st = _multi_stores(dirs)
    hdr = spark.createDataFrame([(i, f"H{i}") for i in range(8)],
                                "hk long, hval string")
    tables = {
        "hdr": {"source_table": hdr, "path": st["hdr"]["path"],
                "keys": ["hk"], "order_col": "hk"},
    }
    # coordinator = the first (sorted) table's path — 'hdr', the only one
    signal_stop_snapshot(st["hdr"]["path"], "bf-1")
    n = run_incremental_snapshot_multi(
        tables, watermark_version=100, n_chunks=2, signal_id="bf-1")
    assert n == 0                                    # stopped run
    n2 = run_incremental_snapshot_multi(
        tables, watermark_version=100, n_chunks=2, signal_id="bf-1")
    assert n2 == 2                                   # marker consumed


@pytest.mark.slow
def test_multi_snapshot_consistency_vector_read(spark, dirs):
    """r18 (verdict item 6): the multi-table snapshot records a
    cross-store version vector at every lockstep boundary, and
    read_snapshot_consistent() time-travels every store to that cut —
    an ATOMIC multi-table read mid-backfill: both stores at the same
    chunk frontier, a mid-snapshot txn either visible in ALL stores of
    a boundary or in none."""
    import json as _json

    from postgres_debezium_clickhouse_spark.streaming.snapshot import (
        plan_snapshot_chunks,
        read_snapshot_consistent,
        run_incremental_snapshot_multi,
        snapshot_consistency_vectors,
    )

    NH = 8
    seed = []
    for i in range(1, NH + 1, 2):
        seed += [
            ("hdr", "c", i, f"S{i}", None, None, 100, i * 100,
             f"A{i}", 0, None),
            ("det", "c", None, None, i * 10, i * 10, 100, i * 100 + 1,
             f"A{i}", 1, None),
            (None, None, None, None, None, None, 100, i * 100 + 9,
             f"A{i}", 99, 2),
        ]
    _run_multi_txn(spark, dirs, seed, "seed")

    st = _multi_stores(dirs)
    W = 500
    hdr_truth = spark.createDataFrame(
        [(i, f"H{i}") for i in range(1, NH + 1)], "hk long, hval string")
    det_truth = spark.createDataFrame(
        [(i * 10, i * 10) for i in range(1, NH + 1)], "dk long, dval long")

    sid = "vector-test"
    coord = st["det"]["path"]

    def hook(i):
        if i == 1:
            mid = [
                ("hdr", "u", 4, "X4", None, None, 700, 9001, "M", 0, None),
                ("det", "u", None, None, 40, 999, 700, 9002, "M", 1, None),
                (None, None, None, None, None, None, 700, 9009, "M", 9, 2),
            ]
            _run_multi_txn(spark, dirs, mid, "mid")

    tables = {
        "hdr": {"source_table": hdr_truth, "path": st["hdr"]["path"],
                "keys": ["hk"], "order_col": "hk"},
        "det": {"source_table": det_truth, "path": st["det"]["path"],
                "keys": ["dk"], "order_col": "dk"},
    }
    run_incremental_snapshot_multi(
        tables, watermark_version=W, n_chunks=4, signal_id=sid,
        interleave_hook=hook)

    vectors = snapshot_consistency_vectors(coord, sid)
    # one per lockstep cycle + the completed entry; vectors OUTLIVE the
    # progress file
    n_cycles = max(
        len(plan_snapshot_chunks(hdr_truth, "hk", 4)),
        len(plan_snapshot_chunks(det_truth, "dk", 4)))
    assert len(vectors) == n_cycles + 1
    assert vectors[-1].get("completed") is True
    assert [v["chunk_index"] for v in vectors[:-1]] == list(range(n_cycles))

    hdr_bounds = plan_snapshot_chunks(hdr_truth, "hk", 4)
    det_bounds = plan_snapshot_chunks(det_truth, "dk", 4)

    def backfilled(bounds, keys, upto):
        out = set()
        for lo, hi in bounds[:upto + 1]:
            out |= {k for k in keys
                    if (lo is None or k >= lo) and (hi is None or k < hi)}
        return out

    paths = {"hdr": st["hdr"]["path"], "det": st["det"]["path"]}
    for b in range(n_cycles):
        cut = read_snapshot_consistent(spark, paths, coord, sid,
                                       boundary=b)
        hdr = {r.hk: (r.hval, r.ts_ms) for r in cut["hdr"].collect()}
        det = {r.dk: (r.dval, r.ts_ms) for r in cut["det"].collect()}
        hkeys = backfilled(hdr_bounds, range(1, NH + 1), b)
        dkeys = backfilled(det_bounds, [i * 10 for i in range(1, NH + 1)],
                           b)
        # the vector is captured BEFORE the cycle's interleave hook, so
        # the mid-txn (injected after cycle 1) is visible from boundary
        # 2 on — in BOTH stores or in NEITHER
        txn_visible = b >= 2
        exp_hdr = {}
        for k in range(1, NH + 1):
            if k == 4 and txn_visible:
                exp_hdr[k] = ("X4", 700)
            elif k in hkeys:
                exp_hdr[k] = (f"H{k}", W)
            elif k % 2 == 1:
                exp_hdr[k] = (f"S{k}", 100)
        exp_det = {}
        for k in [i * 10 for i in range(1, NH + 1)]:
            if k == 40 and txn_visible:
                exp_det[k] = (999, 700)
            elif k in dkeys:
                exp_det[k] = (k, W)
            elif (k // 10) % 2 == 1:
                exp_det[k] = (k, 100)
        assert hdr == exp_hdr, (b, hdr)
        assert det == exp_det, (b, det)

    # the completed vector equals the live read
    final = read_snapshot_consistent(spark, paths, coord, sid)
    live_hdr = {r.hk: (r.hval, r.ts_ms)
                for r in pl.read_silver(spark, st["hdr"]["path"]).collect()}
    got_hdr = {r.hk: (r.hval, r.ts_ms) for r in final["hdr"].collect()}
    assert got_hdr == live_hdr
