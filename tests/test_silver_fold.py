"""The keyed sink's background fold: its thread's lifetime around
``query.stop()``, maintenance waiting for it, a failing fold leaving the
stream and its deltas alone, vacuum next to a fold in flight — and the
two inline folds a trigger must run instead: past the ``3 × FOLD_DELTAS``
backstop behind a held fold, and after a restart under another delta
spec."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl
from postgres_debezium_clickhouse_spark.streaming.commit import ManifestCommitError

EVENTS = "id long, val string, op string, ts_ms long, offset long"
SEED = [(i, f"v{i}", "c", 1, i) for i in range(200)]


def _feed(spark, rows, src):
    spark.createDataFrame(rows, EVENTS).coalesce(1).write.mode("append").json(src)


def _upsert(spark, rows, src, store, ckpt):
    """Append ``rows`` under ``src`` and drain the sink over it."""
    _feed(spark, rows, src)
    q = pl.silver_upsert_stream(spark.readStream.schema(EVENTS).json(src), store, ckpt,
                                keys=["id"], available_now=True)
    assert q.awaitTermination(180)
    q.stop()


def _live(spark, store):
    return {r.id: r.val for r in pl.read_silver(spark, store).collect()}


def _fold_threads(store):
    return [t for t in threading.enumerate() if t.name == f"silver-fold {store}" and t.is_alive()]


def _until(cond, q=None, timeout_s=120):
    deadline = time.monotonic() + timeout_s
    while not cond():
        assert (q is None or q.exception() is None) and time.monotonic() < deadline
        time.sleep(0.05)


@pytest.fixture()
def gated_fold(monkeypatch):
    """Hold every background fold at its start until ``gate`` is set;
    ``ended`` records when each fold returned."""
    gate, ended = threading.Event(), []
    real = pl._SilverStore.fold_prepare

    def held(self, spark):
        assert gate.wait(120)
        try:
            return real(self, spark)
        finally:
            ended.append(time.monotonic())

    monkeypatch.setattr(pl._SilverStore, "fold_prepare", held)
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    yield gate, ended
    gate.set()


def _store_with_fold_in_flight(spark, tmp_path):
    """A seeded store whose second trigger made its one delta due, the
    stream stopped while that fold is held."""
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    _upsert(spark, SEED, src, store, ckpt)
    _upsert(spark, [(7, "new", "u", 2, 0), (8, None, "d", 2, 1)], src, store, ckpt)
    assert len(pl._read_manifest(store)[pl.DELTAS]) == 1
    return store


def test_no_fold_thread_outlives_its_fold_after_stop(spark, tmp_path, gated_fold):
    gate, ended = gated_fold
    store = _store_with_fold_in_flight(spark, tmp_path)
    assert len(_fold_threads(store)) == 1  # the query is stopped, its fold is not
    gate.set()
    assert pl._folder(store).wait(120)
    assert _fold_threads(store) == [] and len(ended) == 1
    assert pl._folder(store).plan is not None and pl._folder(store).error is None


def test_compact_right_after_stop_waits_for_the_fold(spark, tmp_path, gated_fold):
    """compact_silver commits the waited-for fold's plan (its own version)
    and then compacts, instead of losing a commit race to the fold."""
    gate, ended = gated_fold
    store = _store_with_fold_in_flight(spark, tmp_path)
    v = pl._read_manifest(store)["version"]
    threading.Timer(1.0, gate.set).start()
    assert pl.compact_silver(spark, store, ["id"], vacuum_grace_s=0) == 0
    done = time.monotonic()
    assert len(ended) == 1 and ended[0] < done
    m = pl._read_manifest(store)
    assert m["version"] == v + 2 and m[pl.DELTAS] == []
    assert pl._folder(store).plan is None and not pl._folder(store).outputs
    live = _live(spark, store)
    assert len(live) == 199 and live[7] == "new" and 8 not in live


class _FailFirstFoldClaim(pl.CommitBackend):
    """The active backend, except that the first claim on a fold epoch
    (negative) raises, as a claim held by another publisher would."""

    def __init__(self, inner):
        self.inner, self.failed = inner, 0

    def read_manifest(self, path):
        return self.inner.read_manifest(path)

    def commit_manifest(self, path, manifest, expected_version=None):
        self.inner.commit_manifest(path, manifest, expected_version)

    def claim_epoch(self, path, epoch, stale_s=pl.EPOCH_CLAIM_STALE_S):
        if epoch < 0 and not self.failed:
            self.failed += 1
            raise ManifestCommitError(f"epoch {epoch} at {path} already claimed (injected)")
        return self.inner.claim_epoch(path, epoch, stale_s)

    def release_claim(self, token):
        self.inner.release_claim(token)


def test_failed_fold_leaves_the_stream_and_its_deltas_alone(spark, tmp_path, monkeypatch):
    """A running stream whose first fold fails: the deltas stay readable,
    the stream keeps committing, and the next due trigger folds again —
    its plan lands in the trigger after it."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    backend = _FailFirstFoldClaim(pl.COMMIT_BACKEND)
    monkeypatch.setattr(pl, "COMMIT_BACKEND", backend)
    store, src = str(tmp_path / "silver"), str(tmp_path / "src")
    _feed(spark, SEED, src)
    q = pl.silver_upsert_stream(spark.readStream.schema(EVENTS).json(src), store,
                                str(tmp_path / "c"), keys=["id"], processing_interval_ms=100)
    try:
        def version():
            m = pl._read_manifest(store)
            return 0 if m is None else m["version"]

        _until(lambda: version() == 1, q)
        folder = pl._folder(store)
        for n in (1, 2, 3):
            _feed(spark, [(n, f"u{n}", "u", 1 + n, 0)], src)
            _until(lambda: version() == 1 + n, q)
            m = pl._read_manifest(store)
            if n == 1:  # the fold failed: no plan, the delta still there
                _until(lambda: folder.error is not None, q)
                assert isinstance(folder.error, ManifestCommitError) and folder.plan is None
                assert len(m[pl.DELTAS]) == 1
            if n == 2:  # due again: this fold succeeded
                _until(lambda: folder.plan is not None, q)
                assert folder.error is None
                assert len(m[pl.DELTAS]) == 2
            if n == 3:  # its plan rode in this trigger's commit
                assert [f.split("/")[0] for f in m[pl.DELTAS]] == ["__epoch=4"]
                assert any(f.startswith("__epoch=-3/") for f in m["files"])
            assert _live(spark, store) == {**{i: f"v{i}" for i in range(200)},
                                           **{i: f"u{i}" for i in range(1, n + 1)}}
        assert q.isActive and backend.failed == 1
    finally:
        q.stop()
        pl._folder(store).wait(120)


def test_vacuum_skips_a_fold_in_flight_and_an_unspent_plan(spark, tmp_path, monkeypatch):
    """vacuum_silver(grace_s=0) beside a fold: the fold epoch dir — here
    holding only an empty Spark ``_temporary`` tree, as a running write
    does — survives, and so do the written files of its unspent plan,
    which the next trigger then commits."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    writing, gate = threading.Event(), threading.Event()
    real = pl._SilverStore._write_buckets

    def held(self, bucketed, sort, rel):
        if rel.startswith("__epoch=-"):
            os.makedirs(os.path.join(self.path, rel, "_temporary", "0"))
            writing.set()
            assert gate.wait(120)
        return real(self, bucketed, sort, rel)

    monkeypatch.setattr(pl._SilverStore, "_write_buckets", held)
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    _upsert(spark, SEED, src, store, ckpt)
    _upsert(spark, [(7, "new", "u", 2, 0)], src, store, ckpt)
    assert writing.wait(120)
    rel = f"__epoch={-pl._read_manifest(store)['version']}"
    pl.vacuum_silver(store, grace_s=0)
    assert os.path.isdir(os.path.join(store, rel, "_temporary", "0"))
    gate.set()
    folder = pl._folder(store)
    assert folder.wait(120) and folder.plan is not None
    pl.vacuum_silver(store, grace_s=0)
    assert all(os.path.exists(os.path.join(store, f)) for f in folder.plan.written)
    _upsert(spark, [(9, "later", "u", 2, 0)], src, store, ckpt)
    m = pl._read_manifest(store)
    assert any(f.startswith(f"{rel}/") for f in m["files"])
    live = _live(spark, store)
    assert len(live) == 200 and (live[7], live[9]) == ("new", "later")
    assert folder.wait(120)


def test_vacuum_cadence_counts_every_commit(tmp_path, monkeypatch):
    """A commit by another writer that lands on the cadence's multiple
    does not skip the round: the sink's next version past it vacuums."""
    runs = []
    monkeypatch.setattr(pl, "vacuum_silver", lambda path: runs.append(path))
    path = str(tmp_path / "store")
    for v in range(1, 16):
        pl._vacuum_on_cadence(path, v)
    assert runs == []
    pl._vacuum_on_cadence(path, 17)  # version 16 was another writer's commit
    assert runs == [path]
    for v in range(18, 33):
        pl._vacuum_on_cadence(path, v)
    assert runs == [path, path]


def test_at_most_one_fold_in_flight_per_store():
    """Eight threads asking one store's folder to fold, each spending the
    plan as soon as it lands: never two folds at once."""
    folder = pl._Folder()
    mu, active, peak, done = threading.Lock(), [0], [0], [0]

    class Store:
        path = "store"

        def fold_prepare(self, spark):
            with mu:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            time.sleep(0.001)
            with mu:
                active[0] -= 1
                done[0] += 1
            return pl._FoldPlan(rel="__epoch=-1", n_buckets=1, keys=["id"], deltas=[],
                                buckets=set(), replaced=[], written=[], schema=None)

    def ask():
        for _ in range(200):
            folder.start(Store(), None)
            folder.spent(folder.plan)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert folder.wait(60)
    assert peak[0] == 1 and done[0] > 1


def test_backstop_waits_out_the_fold_and_folds_inline(spark, tmp_path, monkeypatch):
    """Deltas piling up past ``3 × FOLD_DELTAS`` behind a background fold
    held in its write: the trigger that finds them waits the fold out,
    spends its plan and folds batch ∪ deltas inline as its one commit."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 1)
    gate, ended = threading.Event(), []
    real = pl._SilverStore._write_buckets

    def held(self, bucketed, sort, rel):
        if not rel.startswith("__epoch=-"):
            return real(self, bucketed, sort, rel)
        assert gate.wait(120)
        try:
            return real(self, bucketed, sort, rel)
        finally:
            ended.append(time.monotonic())

    monkeypatch.setattr(pl._SilverStore, "_write_buckets", held)
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    fed = {i: f"v{i}" for i in range(200)}
    try:
        _upsert(spark, SEED, src, store, ckpt)
        for n in (1, 2, 3):  # the first delta starts the held fold; two more pile up
            _upsert(spark, [(n, f"u{n}", "u", 2, 0)], src, store, ckpt)
            fed[n] = f"u{n}"
        folder = pl._folder(store)
        m = pl._read_manifest(store)
        assert len(m[pl.DELTAS]) == 3 * pl.FOLD_DELTAS
        assert len(_fold_threads(store)) == 1 and folder.plan is None and ended == []
        threading.Timer(1.0, gate.set).start()
        _upsert(spark, [(4, None, "d", 2, 0), (5, "u5", "u", 2, 1)], src, store, ckpt)
        done = time.monotonic()
    finally:
        gate.set()
    del fed[4]
    fed[5] = "u5"
    assert len(ended) == 1 and ended[0] < done and folder.error is None
    assert folder.plan is None and not folder.outputs and _fold_threads(store) == []
    m2 = pl._read_manifest(store)
    assert m2["version"] == m["version"] + 1 and m2[pl.DELTAS] == []
    assert not any(f.startswith("__epoch=-") for f in m2["files"])
    assert _live(spark, store) == fed


def test_a_fold_claiming_after_later_commits_still_lands(spark, tmp_path, gated_fold,
                                                         monkeypatch):
    """The fold of snapshot 2, held at its start while three triggers
    commit: its claim on fold epoch -2 still succeeds (no live file lies
    under it), and its plan lands in the next delta commit instead of
    failing and being redone from scratch."""
    gate, ended = gated_fold
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    fed = {i: f"v{i}" for i in range(200)}
    _upsert(spark, SEED, src, store, ckpt)
    _upsert(spark, [(1, "u1", "u", 2, 0)], src, store, ckpt)  # due: the fold of v2 starts
    fed[1] = "u1"
    folder = pl._folder(store)
    assert len(_fold_threads(store)) == 1
    monkeypatch.setattr(pl, "FOLD_DELTAS", 2)  # keep the backstop out of reach
    for n in (2, 3, 4):
        _upsert(spark, [(n, f"u{n}", "u", 2, 0)], src, store, ckpt)
        fed[n] = f"u{n}"
    assert pl._read_manifest(store)["version"] == 5 and ended == []
    gate.set()
    assert folder.wait(120) and folder.error is None
    assert folder.plan is not None and folder.plan.rel == "__epoch=-2"
    _upsert(spark, [(5, "u5", "u", 2, 0)], src, store, ckpt)
    fed[5] = "u5"
    m = pl._read_manifest(store)
    assert m["version"] == 6 and any(f.startswith("__epoch=-2/") for f in m["files"])
    assert [f.split("/")[0] for f in m[pl.DELTAS]] == [f"__epoch={v}" for v in (3, 4, 5, 6)]
    assert _live(spark, store) == fed
    assert folder.wait(120)


SEQ_EVENTS = "id long, val string, op string, ts_ms long, offset long, seq long"


def test_delta_spec_change_folds_old_deltas_with_the_batch(spark, tmp_path, monkeypatch):
    """A sink restarted with another ``tiebreak_col`` over a store that
    still holds deltas: its first trigger folds batch ∪ the old deltas in
    one commit, latest-wins under the new spec."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 16)
    monkeypatch.setattr(pl, "FOLD_BYTES_FRACTION", 1e9)
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    # id 7's two ts 2 events tie on ts_ms: offset picks "b", seq picks "a"
    batches = [[(i, f"v{i}", "c", 1, i, 0) for i in range(100)],
               [(7, "a", "u", 2, 1, 9), (8, None, "d", 2, 2, 0)],
               [(7, "b", "u", 2, 2, 1)],
               [(50, "c", "u", 3, 0, 0)]]

    def drain(tiebreak_col):
        q = pl.silver_upsert_stream(spark.readStream.schema(SEQ_EVENTS).json(src), store, ckpt,
                                    keys=["id"], tiebreak_col=tiebreak_col, available_now=True)
        assert q.awaitTermination(180)
        q.stop()

    for rows in batches[:3]:
        spark.createDataFrame(rows, SEQ_EVENTS).coalesce(1).write.mode("append").json(src)
        drain("offset")
    m = pl._read_manifest(store)
    assert len(m[pl.DELTAS]) == 2 and m[pl.DELTA_SPEC]["tiebreak_col"] == "offset"
    assert _live(spark, store)[7] == "b"

    spark.createDataFrame(batches[3], SEQ_EVENTS).coalesce(1).write.mode("append").json(src)
    drain("seq")
    m2 = pl._read_manifest(store)
    assert m2["version"] == m["version"] + 1 and m2[pl.DELTAS] == []
    model = {}
    for row in (r for rows in batches for r in rows):
        k, val, op, ts, _offset, seq = row
        if k not in model or (ts, seq) > model[k][0]:
            model[k] = ((ts, seq), val, op)
    assert _live(spark, store) == {k: val for k, (_, val, op) in model.items() if op != "d"}
    assert pl._folder(store).plan is None
