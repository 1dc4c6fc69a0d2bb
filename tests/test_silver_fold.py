"""The keyed sink's background fold: its thread's lifetime around
``query.stop()``, maintenance waiting for it, a failing fold leaving the
stream and its deltas alone, and vacuum next to a fold in flight."""

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
