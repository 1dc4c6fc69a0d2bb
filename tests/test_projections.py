"""CH-style per-part projections (r9): a secondary-key-sorted copy of
every bucket, maintained by every publisher, committed by the same
manifest swap — so secondary-key range queries get parquet row-group
pruning a primary-sorted file cannot offer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl


def _seed_store(spark, path, n=400, n_buckets=4):
    df = spark.createDataFrame(
        [(i, (i * 7919) % 1000, f"v{i}") for i in range(n)],
        "k long, sec long, val string",
    ).withColumn("__deleted", F.lit(False))
    pl._SilverStore(path, {"version": 0, "n_buckets": n_buckets, "files": []}).publish(
        df, ["k"], set(range(n_buckets)),
    )
    return df


def test_projection_backfill_matches_primary(spark, tmp_path):
    path = str(tmp_path / "store")
    _seed_store(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    prim = {(r.k, r.sec, r.val) for r in pl.read_silver(spark, path).collect()}
    proj = {
        (r.k, r.sec, r.val)
        for r in pl.read_silver_projection(spark, path, "by_sec").collect()
    }
    assert proj == prim and len(prim) == 400
    with pytest.raises(ValueError, match="already exists"):
        pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    with pytest.raises(ValueError, match="no projection"):
        pl.read_silver_projection(spark, path, "nope")


def test_projection_maintained_by_later_publishers(spark, tmp_path):
    """An upsert wave after ADD PROJECTION must update BOTH layouts in one
    commit — and a TTL mutation (a different publisher) must too."""
    path = str(tmp_path / "store")
    _seed_store(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    # mutation publisher: delete k % 5 == 0
    n = pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 5 == 0, delete=True)
    assert n == 80
    prim = {r.k for r in pl.read_silver(spark, path).collect()}
    proj = {r.k for r in pl.read_silver_projection(spark, path, "by_sec").collect()}
    assert proj == prim and len(prim) == 320
    # tombstones visible through the projection too, same semantics
    withd = pl.read_silver_projection(spark, path, "by_sec", include_deleted=True)
    assert withd.filter("__deleted").count() == 80


def test_projection_rowgroup_stats_are_narrow(spark, tmp_path):
    """The POINT of the projection: in the proj files the secondary
    column's parquet row-group min/max spans are narrow (sorted), so a
    pushed filter skips row groups; in the primary files (sorted by k)
    the same column spans nearly the full domain per row group."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "store")
    # small row groups so files carry several groups (hadoop conf, not a
    # SQL conf — set on the context so task-side writers see it)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        _seed_store(spark, path, n=20000, n_buckets=2)
        pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)
    m = pl._read_manifest(path)

    def spans(files, col):
        out = []
        import os

        for rel in files:
            md = pq.ParquetFile(os.path.join(path, rel)).metadata
            idx = md.schema.names.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                out.append(st.max - st.min)
        return out

    proj_files = m["projections"]["by_sec"]["files"]
    prim_spans = spans(m["files"], "sec")
    proj_spans = spans(proj_files, "sec")
    # enough row groups for the comparison to mean something
    assert len(proj_spans) >= 4, "fixture produced too few row groups"
    # sorted copy: average span a fraction of the primary's
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert avg(proj_spans) < avg(prim_spans) / 3, (prim_spans, proj_spans)


def test_projection_vacuum_and_drop(spark, tmp_path):
    path = str(tmp_path / "store")
    _seed_store(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") == 1, delete=True)
    # the backfill epoch's proj files are now dead for touched buckets;
    # vacuum with zero grace reclaims dead files in BOTH subtrees but
    # keeps every live one
    removed = pl.vacuum_silver(path, grace_s=0.0)
    assert removed > 0
    assert {r.k for r in pl.read_silver_projection(spark, path, "by_sec").collect()} \
        == {r.k for r in pl.read_silver(spark, path).collect()}
    # drop: metadata-only, files reclaimed by the next vacuum
    pl.drop_projection(path, "by_sec")
    pl.drop_projection(path, "by_sec")  # idempotent
    with pytest.raises(ValueError, match="no projection"):
        pl.read_silver_projection(spark, path, "by_sec")
    assert pl.vacuum_silver(path, grace_s=0.0) > 0  # orphaned proj files
    import os

    leftovers = []
    for root, _d, files in os.walk(str(tmp_path / "store")):
        if "__proj_" in root:
            leftovers += [f for f in files if f.endswith(".parquet")]
    assert not leftovers


def test_primary_bucket_files_key_sorted_by_contract(spark, tmp_path):
    """r9 regression pin for the write-path fix: with __epoch as a
    partition column, ConstantFolding stripped its (literal) sort key
    while the writer still required it — the dynamic-partition writer
    then re-sorted by partition columns only, silently destroying the
    per-bucket key order on adversarially-ordered input.  Files must now
    be key-sorted BY CONTRACT (writer requirement satisfied by prefix,
    no writer sort)."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "store")
    df = (
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5000)], "k long, val string"
        )
        .orderBy(F.rand(7))  # adversarial upstream order
        .withColumn("__deleted", F.lit(False))
    )
    pl._SilverStore(path, {"version": 0, "n_buckets": 4, "files": []}).publish(
        df, ["k"], set(range(4))
    )
    m = pl._read_manifest(path)
    for rel in m["files"]:
        ks = pq.ParquetFile(os.path.join(path, rel)).read(columns=["k"])["k"].to_pylist()
        assert ks == sorted(ks), f"bucket file {rel} lost key order"


def test_compaction_preserves_projections(spark, tmp_path):
    """compact_silver is just another publisher — a compaction on a
    projected store must rebuild the projection files too and keep both
    layouts content-equal."""
    path = str(tmp_path / "store")
    _seed_store(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 2 == 0, delete=True)
    pl.compact_silver(spark, path, keys=["k"], vacuum_grace_s=0.0)
    prim = {r.k for r in pl.read_silver(spark, path).collect()}
    proj = {r.k for r in pl.read_silver_projection(spark, path, "by_sec").collect()}
    assert proj == prim and len(prim) == 200


def test_auto_routing_picks_matching_projection(spark, tmp_path):
    """r10 (verdict item 1): read_silver_auto must route a filter on the
    projection's leading sort key to the projection file set, leave
    primary-key (and unsortable) filters on the primary layout, and be
    value-identical either way — the route is an access path, never a
    semantic choice."""
    path = str(tmp_path / "store")
    _seed_store(spark, path)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])

    routed = pl.read_silver_auto(spark, path, where=F.col("sec") == 105)
    assert routed.inputFiles() and all(
        "__proj_by_sec" in f for f in routed.inputFiles()
    )
    expect = {(r.k, r.sec, r.val)
              for r in pl.read_silver(spark, path).filter("sec = 105").collect()}
    assert {(r.k, r.sec, r.val) for r in routed.collect()} == expect and expect

    # primary-key filter → primary layout; val filter (no layout sorted
    # by it) → primary; no filter → primary, full store
    for pred in (F.col("k") < 10, F.col("val") == "v7"):
        got = pl.read_silver_auto(spark, path, where=pred)
        assert got.inputFiles() and not any(
            "__proj_" in f for f in got.inputFiles()
        )
    assert pl.read_silver_auto(spark, path).count() == 400

    # a filter touching BOTH layouts' keys scores 1 each → tie prefers
    # primary (same volume, stay on the default files)
    both = pl.read_silver_auto(
        spark, path, where=(F.col("k") == 7) & (F.col("sec") == (7 * 7919) % 1000)
    )
    assert both.inputFiles() and not any("__proj_" in f for f in both.inputFiles())

    # tombstone semantics identical through the routed path
    pl.mutate_silver(spark, path, ["k"], where=F.col("k") % 5 == 0, delete=True)
    vis = pl.read_silver_auto(spark, path, where=F.col("sec") < 1000)
    assert vis.count() == 320
    withd = pl.read_silver_auto(
        spark, path, where=F.col("sec") < 1000, include_deleted=True
    )
    assert withd.filter("__deleted").count() == 80


def test_auto_routing_scan_is_pushed_and_prunable(spark, tmp_path):
    """The plan/file audit behind the routing claim: the routed read's
    parquet scan carries the filter as PushedFilters over the projection
    files, and the projection's row-group stats make the predicate
    selective (most groups skippable) where the primary's are not."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "store")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        _seed_store(spark, path, n=20000, n_buckets=2)
        pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)

    routed = pl.read_silver_auto(spark, path, where=F.col("sec") == 500)
    files = routed.inputFiles()
    assert files and all("__proj_by_sec" in f for f in files)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(sec,500)" in plan, plan

    def matching_groups(rel_files):
        hit = total = 0
        for rel in rel_files:
            md = pq.ParquetFile(os.path.join(path, rel)).metadata
            idx = md.schema.names.index("sec")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                total += 1
                hit += st.min <= 500 <= st.max
        return hit, total

    m = pl._read_manifest(path)
    proj_hit, proj_total = matching_groups(m["projections"]["by_sec"]["files"])
    prim_hit, prim_total = matching_groups(m["files"])
    assert proj_total >= 4 and prim_hit == prim_total  # primary: no pruning
    assert proj_hit <= proj_total // 3                 # projection: most skipped


def test_rebucket_preserves_projections(spark, tmp_path):
    """r10: the two r9 features compose — a width change republishes the
    projection file set at the new width in the same commit, and the
    auto-router still reaches it."""
    path = str(tmp_path / "store")
    _seed_store(spark, path, n=200, n_buckets=2)
    pl.add_projection(spark, path, ["k"], "by_sec", ["sec"])
    pl.rebucket_silver(spark, path, ["k"], 8)
    m = pl._read_manifest(path)
    assert m["n_buckets"] == 8
    pfiles = m["projections"]["by_sec"]["files"]
    assert pfiles and all("__epoch=" in f for f in pfiles)
    assert {int(f.split("__bucket=")[1].split("/")[0]) for f in pfiles} <= set(range(8))
    prim = {(r.k, r.sec) for r in pl.read_silver(spark, path).collect()}
    proj = {(r.k, r.sec)
            for r in pl.read_silver_projection(spark, path, "by_sec").collect()}
    assert prim == proj and len(prim) == 200
    routed = pl.read_silver_auto(spark, path, where=F.col("sec") == (7 * 7919) % 1000)
    assert routed.inputFiles() and all("__proj_by_sec" in f for f in routed.inputFiles())
