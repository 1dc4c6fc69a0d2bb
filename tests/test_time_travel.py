"""Silver-store time travel (r7): per-version manifest history →
`read_silver(as_of_version=...)` — the reproducibility primitive that
pins "the corpus training run X used".  Contract under test:

- every committed version leaves an immutable history manifest;
- an as-of read returns EXACTLY the state at that version;
- vacuum with ``retain_versions=N`` keeps those versions readable;
- a vacuumed version fails loudly, never returns partial state.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("offset", T.LongType()),
    ]
)


def _publish(spark, dirs, batch_no, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").json(
        dirs["src"] + f"/b{batch_no}"
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(dirs["src"] + f"/b{batch_no}")
    q = pl.silver_upsert_stream(
        stream, dirs["silver"], dirs["ckpt"] + f"/b{batch_no}",
        keys=["id"], available_now=True,
    )
    q.awaitTermination(120)


@pytest.fixture()
def dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("src", "silver", "ckpt")}


def _state(spark, dirs, **kw):
    return {r.id: r.val for r in pl.read_silver(spark, dirs["silver"], **kw).collect()}


@pytest.mark.slow
def test_as_of_read_returns_each_committed_state(spark, dirs):
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1), (2, "b1", "c", 100, 2)])
    _publish(spark, dirs, 2, [(1, "a2", "u", 200, 3)])
    _publish(spark, dirs, 3, [(2, None, "d", 300, 4), (3, "c1", "c", 300, 5)])

    versions = pl.silver_versions(dirs["silver"])
    assert len(versions) >= 3
    v1, v2, v3 = versions[0], versions[1], versions[-1]
    assert _state(spark, dirs, as_of_version=v1) == {1: "a1", 2: "b1"}
    assert _state(spark, dirs, as_of_version=v2) == {1: "a2", 2: "b1"}
    assert _state(spark, dirs, as_of_version=v3) == {1: "a2", 3: "c1"}
    # as-of the current version ≡ the plain read
    assert _state(spark, dirs, as_of_version=v3) == _state(spark, dirs)
    # unknown version lists what IS available
    with pytest.raises(ValueError, match="available"):
        pl.read_silver(spark, dirs["silver"], as_of_version=99999)


def _age_store(path, seconds=7200):
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            t = time.time() - seconds
            os.utime(full, (t, t))


@pytest.mark.slow
def test_vacuum_retain_versions_keeps_time_travel_alive(spark, dirs):
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1)])
    _publish(spark, dirs, 2, [(1, "a2", "u", 200, 2)])
    _publish(spark, dirs, 3, [(1, "a3", "u", 300, 3)])
    versions = pl.silver_versions(dirs["silver"])
    _age_store(dirs["silver"])  # every file clears the grace window
    removed = pl.vacuum_silver(dirs["silver"], grace_s=600,
                               retain_versions=len(versions))
    # all versions pinned → every as-of read still exact
    assert _state(spark, dirs, as_of_version=versions[0]) == {1: "a1"}
    assert _state(spark, dirs, as_of_version=versions[1]) == {1: "a2"}
    assert removed == 0


def test_vacuumed_version_fails_loudly(spark, dirs, monkeypatch):
    monkeypatch.setattr(pl, "FOLD_DELTAS", 0)  # the 2nd trigger rewrites v1's bucket
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1)])
    _publish(spark, dirs, 2, [(1, "a2", "u", 200, 2)])
    versions = pl.silver_versions(dirs["silver"])
    _age_store(dirs["silver"])
    removed = pl.vacuum_silver(dirs["silver"], grace_s=600, retain_versions=0)
    assert removed > 0  # v1's superseded bucket file reclaimed
    # current state survives any vacuum
    assert _state(spark, dirs) == {1: "a2"}
    with pytest.raises(ValueError, match="vacuumed"):
        pl.read_silver(spark, dirs["silver"], as_of_version=versions[0])


def test_vacuum_keeps_current_and_retained_deltas(spark, dirs, monkeypatch):
    """Delta files are live while the current manifest or a retained
    version lists them; once a fold supersedes them and vacuum reclaims
    them, reading a version that needs them fails loudly."""
    monkeypatch.setattr(pl, "FOLD_BYTES_FRACTION", float("inf"))  # tiny store: count only
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1), (2, "b1", "c", 100, 2)])
    _publish(spark, dirs, 2, [(1, "a2", "u", 200, 3)])
    _publish(spark, dirs, 3, [(2, None, "d", 300, 4)])
    _v1, v2, v3 = pl.silver_versions(dirs["silver"])
    assert len(pl._read_manifest(dirs["silver"])[pl.DELTAS]) == 2
    _age_store(dirs["silver"])
    assert pl.vacuum_silver(dirs["silver"], grace_s=600) == 0
    assert _state(spark, dirs) == {1: "a2"}
    assert _state(spark, dirs, as_of_version=v2) == {1: "a2", 2: "b1"}

    monkeypatch.setattr(pl, "FOLD_DELTAS", 0)
    _publish(spark, dirs, 4, [(3, "c1", "c", 400, 5)])
    assert pl._read_manifest(dirs["silver"])[pl.DELTAS] == []
    _age_store(dirs["silver"])
    assert pl.vacuum_silver(dirs["silver"], grace_s=600, retain_versions=2) == 0
    assert _state(spark, dirs, as_of_version=v3) == {1: "a2"}  # v3 pinned
    assert pl.vacuum_silver(dirs["silver"], grace_s=600) > 0
    assert _state(spark, dirs) == {1: "a2", 3: "c1"}
    with pytest.raises(ValueError, match="vacuumed"):
        pl.read_silver(spark, dirs["silver"], as_of_version=v3)


@pytest.mark.slow
def test_compaction_commits_a_version_and_history_survives(spark, dirs):
    """OPTIMIZE-style compaction is itself a versioned commit: the
    pre-compaction state stays reachable via as-of (its superseded files
    survive inside the vacuum grace window / retain pinning), and the
    post-compaction version reads identically to the pre-compaction
    CURRENT state — compaction must never change logical content."""
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1), (2, "b1", "c", 100, 2)])
    _publish(spark, dirs, 2, [(1, "a2", "u", 200, 3)])
    before_versions = pl.silver_versions(dirs["silver"])
    state_before = _state(spark, dirs)

    pl.compact_silver(spark, dirs["silver"], keys=["id"], vacuum_grace_s=600)
    after_versions = pl.silver_versions(dirs["silver"])
    assert len(after_versions) > len(before_versions)  # compaction committed

    # logical content unchanged by compaction
    assert _state(spark, dirs) == state_before
    assert _state(spark, dirs, as_of_version=after_versions[-1]) == state_before
    # the pre-compaction version is still exactly reachable
    assert _state(spark, dirs, as_of_version=before_versions[-1]) == state_before
    assert _state(spark, dirs, as_of_version=before_versions[0]) == {1: "a1", 2: "b1"}


def test_as_of_composes_with_include_deleted(spark, dirs):
    """Time travel must compose with the rewrite-mode read: as-of a
    version where a key was deleted, include_deleted=True shows its
    tombstone with __deleted=true, while the default read drops it —
    exactly like the current-state read."""
    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1), (2, "b1", "c", 100, 2)])
    _publish(spark, dirs, 2, [(2, None, "d", 200, 3)])
    versions = pl.silver_versions(dirs["silver"])
    v2 = versions[-1]
    assert _state(spark, dirs, as_of_version=v2) == {1: "a1"}
    flags = {
        r.id: r["__deleted"]
        for r in pl.read_silver(
            spark, dirs["silver"], include_deleted=True, as_of_version=v2
        ).collect()
    }
    assert flags == {1: False, 2: True}
    # and the pre-delete version still shows the live row either way
    assert _state(spark, dirs, as_of_version=versions[0]) == {1: "a1", 2: "b1"}


@pytest.mark.slow
def test_mutation_touches_only_matching_buckets(spark, dirs):
    """mutate_silver must be O(touched buckets): an UPDATE matching one
    key republished only that key's bucket (manifest keeps every other
    bucket's original files), returns the mutated-row count, refuses
    no-op argument sets, and leaves tombstoned rows untouched."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    _publish(spark, dirs, 1, [(i, f"v{i}", "c", 100, i) for i in range(1, 9)])
    before = pl._read_manifest(dirs["silver"])
    n = pl.mutate_silver(
        spark, dirs["silver"], ["id"], F.col("id") == 3,
        set_exprs={"val": F.lit("MUT")},
    )
    assert n == 1
    after = pl._read_manifest(dirs["silver"])
    assert after["version"] == before["version"] + 1
    kept = set(before["files"]) & set(after["files"])
    assert kept, "untouched buckets must keep their committed files"
    assert _state(spark, dirs)[3] == "MUT"
    assert _state(spark, dirs)[4] == "v4"
    # delete mutation → tombstone, visible via include_deleted
    assert pl.mutate_silver(spark, dirs["silver"], ["id"], F.col("id") == 5, delete=True) == 1
    st = _state(spark, dirs)
    assert 5 not in st and st[3] == "MUT"
    flags = {r.id: r["__deleted"] for r in pl.read_silver(
        spark, dirs["silver"], include_deleted=True).collect()}
    assert flags[5] is True
    # deleting an already-deleted row is a no-op (0 mutated)
    assert pl.mutate_silver(spark, dirs["silver"], ["id"], F.col("id") == 5, delete=True) == 0
    with _pytest.raises(ValueError, match="set_exprs or delete"):
        pl.mutate_silver(spark, dirs["silver"], ["id"], F.col("id") == 1)


def test_mutation_loses_race_to_concurrent_publish_loudly(spark, dirs):
    """A mutation racing a concurrent publisher must fail with
    ManifestCommitError and leave the store untouched — same single-writer
    guards (epoch claim + CAS) as compaction."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1)])
    cur = pl._read_manifest(dirs["silver"])
    claim = _os.path.join(dirs["silver"], f".epoch-{cur['version'] + 1}.claim")
    with open(claim, "w") as fh:
        fh.write("concurrent-publisher")
    import pytest as _pytest

    with _pytest.raises(pl.ManifestCommitError, match="claimed"):
        pl.mutate_silver(spark, dirs["silver"], ["id"], F.col("id") == 1,
                         set_exprs={"val": F.lit("MUT")})
    after = pl._read_manifest(dirs["silver"])
    assert after["version"] == cur["version"]  # store untouched
    assert _state(spark, dirs) == {1: "a1"}
    # stale claim (crashed publisher) is stolen and the mutation proceeds
    _os.utime(claim, (_time.time() - 7200, _time.time() - 7200))
    assert pl.mutate_silver(spark, dirs["silver"], ["id"], F.col("id") == 1,
                            set_exprs={"val": F.lit("MUT")}) == 1
    assert _state(spark, dirs) == {1: "MUT"}


def test_silver_versions_ignores_junk_history_files(spark, dirs):
    """Foreign files in _history (editor droppings, partial tmp writes)
    must not break version listing or as-of reads."""
    import os as _os

    _publish(spark, dirs, 1, [(1, "a1", "c", 100, 1)])
    hdir = _os.path.join(dirs["silver"], pl.HISTORY_DIR)
    for junk in ("_manifest.vNOPE.json", "README.txt", "_manifest.v2.json.tmp-99"):
        with open(_os.path.join(hdir, junk), "w") as fh:
            fh.write("junk")
    versions = pl.silver_versions(dirs["silver"])
    assert versions and all(isinstance(v, int) for v in versions)
    assert _state(spark, dirs, as_of_version=versions[-1]) == {1: "a1"}


def test_vacuum_prunes_history_manifests_beyond_retention(tmp_path):
    """ADVICE r7: one history manifest is written per publish, so a
    long-running stream must not accumulate them forever — vacuum keeps
    only the newest ``retain_history`` (never below ``retain_versions``,
    never the current version)."""
    root = str(tmp_path / "store")
    for v in range(1, 11):
        pl._write_manifest(root, {"version": v, "files": []})
    assert pl.silver_versions(root) == list(range(1, 11))
    pl.vacuum_silver(root, grace_s=0, retain_history=3)
    assert pl.silver_versions(root) == [8, 9, 10]
    # retain_versions pins at least that many history entries
    pl.vacuum_silver(root, grace_s=0, retain_versions=2, retain_history=0)
    assert pl.silver_versions(root) == [9, 10]
    # the current manifest's version always survives
    pl.vacuum_silver(root, grace_s=0, retain_history=0)
    assert pl.silver_versions(root) == [10]


def test_vacuum_default_history_retention_keeps_small_stores_intact(tmp_path):
    """Stores with fewer versions than HISTORY_RETAIN_DEFAULT are
    untouched — the pre-r8 time-travel behavior is preserved exactly."""
    root = str(tmp_path / "store")
    for v in range(1, 6):
        pl._write_manifest(root, {"version": v, "files": []})
    pl.vacuum_silver(root, grace_s=0)
    assert pl.silver_versions(root) == [1, 2, 3, 4, 5]


def test_optimize_deduplicate_semantics(spark, dirs):
    """r13 — OPTIMIZE … DEDUPLICATE BY: one survivor per by-group
    (lowest key), losers tombstoned through a versioned publish (time
    travel keeps the pre-optimize state), no-duplicates call is a
    0-return no-op that publishes nothing."""
    # vals: ids 1..6 with by-value groups A:{1,3,5} B:{2,4} C:{6}
    rows = [(i, "A" if i % 2 == 1 else ("B" if i != 6 else "C"),
             "c", 100, i) for i in range(1, 7)]
    _publish(spark, dirs, 1, rows)
    v_before = pl.silver_versions(dirs["silver"])[-1]
    n = pl.optimize_deduplicate(spark, dirs["silver"], ["id"], ["val"])
    assert n == 3                           # A loses 3,5; B loses 4
    assert _state(spark, dirs) == {1: "A", 2: "B", 6: "C"}
    # audit trail: the pre-optimize state is still readable
    assert _state(spark, dirs, as_of_version=v_before) == {
        1: "A", 2: "B", 3: "A", 4: "B", 5: "A", 6: "C"}
    # already-deduped store: no-op, nothing republished
    v_now = pl.silver_versions(dirs["silver"])[-1]
    assert pl.optimize_deduplicate(spark, dirs["silver"], ["id"], ["val"]) == 0
    assert pl.silver_versions(dirs["silver"])[-1] == v_now
