"""r10 store-lifecycle parity ops: system.parts-style describe, FREEZE
(zero-copy hardlink snapshot), and restore-to-version (append-only
rollback through the normal commit path)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl


def _seed(spark, path, n=300, n_buckets=4):
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, f"v{i}") for i in range(n)],
        "k long, sec long, val string",
    ).withColumn("__deleted", F.lit(False))
    pl._SilverStore(path, {"version": 0, "n_buckets": n_buckets, "files": []}).publish(
        df, ["k"], set(range(n_buckets)),
    )


def test_describe_silver_lists_every_live_file(spark, tmp_path):
    path = str(tmp_path / "store")
    _seed(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    rows = pl.describe_silver(spark, path).collect()
    m = pl._read_manifest(path)
    n_expected = len(m["files"]) + len(m["projections"]["by_sec"]["files"])
    assert len(rows) == n_expected
    assert {r.layout for r in rows} == {"primary", "proj:by_sec"}
    assert all(r.bytes > 0 for r in rows)
    assert {r.bucket for r in rows} == set(range(4))
    assert all(r.version == m["version"] for r in rows)


def test_describe_and_freeze_cover_deltas(spark, tmp_path):
    """An upsert trigger on a non-empty store lands as a delta:
    ``describe_silver`` lists it as its own layout with a NULL bucket,
    and a frozen snapshot carries it, reading the merged state."""
    path, snap = str(tmp_path / "store"), str(tmp_path / "snap")
    events = "k long, val string, op string, ts_ms long, offset long"
    pl._cdc_upsert(spark.createDataFrame([(i, f"v{i}", "c", 1, i) for i in range(50)], events),
                   path, ["k"], 4, "ts_ms", "offset")
    pl._cdc_upsert(spark.createDataFrame([(3, "new", "u", 2, 0), (4, None, "d", 2, 1)], events),
                   path, ["k"], 4, "ts_ms", "offset")
    m = pl._read_manifest(path)
    assert len(m[pl.DELTAS]) == 1
    rows = pl.describe_silver(spark, path).collect()
    delta = [r for r in rows if r.layout == "delta"]
    assert [(r.file, r.bucket, r.epoch) for r in delta] == [(m[pl.DELTAS][0], None, m["version"])]
    assert delta[0].bytes > 0 and len(rows) == len(m["files"]) + 1
    assert pl.freeze_silver(path, snap) == len(m["files"]) + 1
    state = {(r.k, r.val) for r in pl.read_silver(spark, snap).collect()}
    assert state == {(r.k, r.val) for r in pl.read_silver(spark, path).collect()}
    assert (3, "new") in state and len(state) == 49


def test_freeze_is_zero_copy_and_immune_to_source_changes(spark, tmp_path):
    path = str(tmp_path / "store")
    snap = str(tmp_path / "snap")
    _seed(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    n = pl.freeze_silver(path, snap)
    m = pl._read_manifest(path)
    assert n == len(m["files"]) + len(m["projections"]["by_sec"]["files"])
    # zero-copy: same inode
    rel = m["files"][0]
    assert os.stat(os.path.join(path, rel)).st_ino == \
        os.stat(os.path.join(snap, rel)).st_ino
    before = {(r.k, r.val) for r in pl.read_silver(spark, path).collect()}
    assert {(r.k, r.val) for r in pl.read_silver(spark, snap).collect()} == before
    # mutate + vacuum the live store: the snapshot must not move
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 3 == 0, delete=True)
    pl.vacuum_silver(path, grace_s=0.0, retain_history=1)
    assert {(r.k, r.val) for r in pl.read_silver(spark, snap).collect()} == before
    with pytest.raises(FileExistsError):
        pl.freeze_silver(path, snap)


def test_restore_silver_rolls_back_as_new_version(spark, tmp_path):
    path = str(tmp_path / "store")
    _seed(spark, path)
    v1 = pl._read_manifest(path)["version"]
    good = {(r.k, r.val) for r in pl.read_silver(spark, path).collect()}
    # the "bad" mutation: delete a third, rewrite some values
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 3 == 0, delete=True)
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 3 == 1,
                     set_exprs={"val": F.lit("CLOBBERED")})
    assert {(r.k, r.val) for r in pl.read_silver(spark, path).collect()} != good
    v_new = pl.restore_silver(spark, path, ["k"], v1)
    assert v_new > v1 + 2                      # append-only: a NEW version
    assert {(r.k, r.val) for r in pl.read_silver(spark, path).collect()} == good
    # the bad versions remain reachable for audit
    assert pl.read_silver(spark, path, as_of_version=v_new - 1).filter(
        F.col("val") == "CLOBBERED").count() > 0
    # restoring PRESERVES tombstone semantics: delete, restore to the
    # deleted version, tombstones still hide the rows
    pl.ttl_silver(spark, path, ["k"], "sec", F.lit(100))
    v_ttl = pl._read_manifest(path)["version"]
    n_after_ttl = pl.read_silver(spark, path).count()
    pl.restore_silver(spark, path, ["k"], v_ttl)
    assert pl.read_silver(spark, path).count() == n_after_ttl


@pytest.mark.slow
def test_bloom_filters_written_by_every_publisher(spark, tmp_path):
    """r10: set_bloom_filters is a metadata-only declaration that every
    later publish honors — proven by the parquet footprint: the bloomed
    store's republished files carry the split-block filter bytes (~1.2
    bits/NDV/file minimum) the bloom-less twin lacks, for the primary
    AND the projection copies, while reads stay identical."""
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    for p in (plain, bloomed):
        _seed(spark, p, n=20000, n_buckets=2)
        pl.add_projection(spark, p, ["k"], "by_sec", ["sec"])
    pl.set_bloom_filters(bloomed, {"val": 20000})
    # a mutation republishes every bucket it touches — here all of them
    for p in (plain, bloomed):
        pl.mutate_silver(spark, p, ["k"], where=F.col("k") >= 0,
                         set_exprs={"val": F.concat(F.col("val"), F.lit("x"))})
    sizes = {}
    for p in (plain, bloomed):
        rows = pl.describe_silver(spark, p).collect()
        cur = pl._read_manifest(p)["version"]
        latest = [r for r in rows if r.epoch == cur]
        sizes[p] = {
            "primary": sum(r.bytes for r in latest if r.layout == "primary"),
            "proj": sum(r.bytes for r in latest if r.layout != "primary"),
        }
    assert sizes[bloomed]["primary"] > sizes[plain]["primary"] + 8000
    assert sizes[bloomed]["proj"] > sizes[plain]["proj"] + 8000
    a = {(r.k, r.val) for r in pl.read_silver(spark, plain).collect()}
    b = {(r.k, r.val) for r in pl.read_silver(spark, bloomed).collect()}
    assert a == b and len(a) == 20000
    # the declaration survives further publishes (carried manifest field)
    assert pl._read_manifest(bloomed)["bloom_cols"] == {"val": 20000}
