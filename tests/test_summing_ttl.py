"""SummingMergeTree-mode sink + table TTL (streaming/pipeline.py r8):
per-key running sums must equal the batch groupBy regardless of batch
boundaries; TTL expiry is a committed tombstone mutation (pre-TTL state
stays time-travelable)."""

from __future__ import annotations

import pytest
from _jobs import ran_stages, spark_jobs
from pyspark.sql import functions as F
from pyspark.sql import types as T

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


@pytest.fixture()
def dirs(tmp_path):
    return {n: str(tmp_path / n) for n in ("src", "silver", "ckpt")}


def _run_summing(spark, dirs, rows, batch_no):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").json(
        dirs["src"] + f"/b{batch_no}"
    )
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{batch_no}")
    q = pl.silver_summing_stream(
        stream, dirs["silver"], dirs["ckpt"] + f"/b{batch_no}",
        keys=["k", "grp"], sum_cols=["v"], available_now=True,
    )
    assert q.awaitTermination(120)


@pytest.mark.slow
def test_summing_sums_across_batches(spark, dirs):
    _run_summing(spark, dirs, [(1, "a", 1.10), (1, "a", 2.20), (2, "b", 5.00)], 0)
    _run_summing(spark, dirs, [(1, "a", 0.70), (3, "a", 9.99)], 1)
    state = {
        (r.k, r.grp): (float(r.v), r["__n_rows"])
        for r in pl.read_silver(spark, dirs["silver"]).collect()
    }
    assert state == {
        (1, "a"): (4.0, 3),     # 1.10+2.20+0.70 exact in decimal
        (2, "b"): (5.0, 1),
        (3, "a"): (9.99, 1),
    }
    # one row per key — rows collapsed on merge, SummingMergeTree-style
    assert pl.read_silver(spark, dirs["silver"]).count() == 3


@pytest.mark.slow
def test_summing_empty_batch_publishes_nothing(spark, dirs):
    _run_summing(spark, dirs, [(1, "a", 1.0)], 0)
    v1 = pl.silver_versions(dirs["silver"])
    _run_summing(spark, dirs, [], 1)
    assert pl.silver_versions(dirs["silver"]) == v1


@pytest.mark.slow
def test_ttl_expires_rows_and_keeps_history(spark, dirs):
    base = spark.createDataFrame(
        [(i, f"u{i}", 1000 + i) for i in range(20)], "k long, val string, ts long"
    ).withColumn("__deleted", F.lit(False))
    manifest = {"version": 0, "n_buckets": 4, "files": []}
    pl._SilverStore(dirs["silver"], manifest).publish(base, ["k"], set(range(4)))
    n = pl.ttl_silver(spark, dirs["silver"], ["k"], "ts", F.lit(1010))
    assert n == 10                       # ts 1000..1009 expired
    live = {r.k for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert live == set(range(10, 20))
    # pre-TTL state reachable by time travel; expired rows are tombstones
    v0 = pl.silver_versions(dirs["silver"])[0]
    before = pl.read_silver(spark, dirs["silver"], as_of_version=v0)
    assert before.count() == 20
    tomb = pl.read_silver(spark, dirs["silver"], include_deleted=True)
    assert tomb.filter(F.col("__deleted")).count() == 10
    # idempotent: nothing left under the cutoff
    assert pl.ttl_silver(spark, dirs["silver"], ["k"], "ts", F.lit(1010)) == 0


@pytest.mark.slow
def test_agg_spec_min_max_across_batches(spark, dirs):
    def run(rows, batch_no):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").json(
            dirs["src"] + f"/b{batch_no}"
        )
        stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{batch_no}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{batch_no}",
            keys=["grp"],
            agg_spec={"v_sum": ("v", "sum"), "v_min": ("v", "min"),
                      "v_max": ("v", "max")},
            available_now=True,
        )
        assert q.awaitTermination(120)

    run([(1, "a", 5.0), (2, "a", 1.0), (3, "b", 7.0)], 0)
    run([(4, "a", 9.0), (5, "b", -2.0)], 1)
    state = {r.grp: (float(r.v_sum), r.v_min, r.v_max, r["__n_rows"])
             for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"a": (15.0, 1.0, 9.0, 3), "b": (5.0, -2.0, 7.0, 2)}


def test_agg_spec_rejects_unknown_op(spark, dirs):
    import os

    os.makedirs(dirs["src"], exist_ok=True)
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"])
    with pytest.raises(ValueError, match="op must be one of"):
        pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"], keys=["grp"],
            agg_spec={"x": ("v", "avg")},
        )
    with pytest.raises(ValueError, match="sum_cols and/or agg_spec"):
        pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"], keys=["grp"])


def test_merge_stage_width_stays_bounded(spark, dirs):
    """Regression guard for the r8 shuffle-width cliff: a persisted
    aggregate (the transaction trigger persists its merged ``universe``
    of pending ∪ batch rows before its completeness aggregate) must
    still be AQE-coalesced — with
    canChangeCachedPlanOutputPartitioning at its FALSE default, a cached
    plan materializes the shuffle at initialPartitionNum uncoalesced
    (measured: 2048-task stages per trigger, stream_summing_state 20.6s
    -> 3.4s at sf0.001).  The session conf (session.py) must keep the
    fix; this test recreates the scale session's initialPartitionNum and
    asserts no merge stage runs ultra-wide."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i % 50, float(i)) for i in range(10_000)], "k long, v double"
    )
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "2048")
        agg = df.groupBy("k").agg(F.sum("v").alias("s"))
        agg.persist()
        try:
            with spark_jobs(spark) as jobs:
                agg.count()
                agg.select("k").distinct().count()
        finally:
            agg.unpersist()
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", prev)
    seen = [s.numTasks for s in ran_stages(spark, jobs)]
    assert seen, "listener saw no stages"
    assert max(seen) <= 256, f"cached-plan shuffle ran a {max(seen)}-task stage"


@pytest.mark.slow
def test_summing_does_not_resurrect_tombstones(spark, dirs):
    """Review r8: a TTL/mutation tombstone must survive later merges of
    its bucket untouched — and a NEW batch row for the expired key must
    restart it from the new partial only, never fold back the expired
    totals."""
    _run_summing(spark, dirs, [(1, "a", 10.0), (1, "b", 20.0), (1, "c", 5.0)], 0)
    # expire key ('a',) — wait: keys are (k, grp); expire grp='a' row
    n = pl.mutate_silver(
        spark, dirs["silver"], ["k", "grp"],
        where=F.col("grp") == "a", delete=True,
    )
    assert n == 1
    # next batch touches the same bucket space; 'b' gets more mass,
    # tombstoned 'a' is NOT in the batch
    _run_summing(spark, dirs, [(1, "b", 1.5)], 1)
    state = {r.grp: float(r.v) for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"b": 21.5, "c": 5.0}          # 'a' stayed expired
    tomb = pl.read_silver(spark, dirs["silver"], include_deleted=True)
    assert tomb.filter(F.col("__deleted")).count() == 1
    # a NEW row for the expired key restarts it from the new partial only
    _run_summing(spark, dirs, [(1, "a", 2.0)], 2)
    state = {r.grp: (float(r.v), r["__n_rows"])
             for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state["a"] == (2.0, 1)                  # NOT 12.0 / not 2 rows
    assert (
        pl.read_silver(spark, dirs["silver"], include_deleted=True)
        .filter(F.col("__deleted")).count() == 0   # tombstone replaced
    )


def test_summing_refuses_legacy_flat_store(spark, dirs):
    """Review r8: committing a first manifest over an unmigrated flat
    store would hide the legacy rows forever — the summing sink must fail
    loudly instead (only the upsert sink migrates)."""
    import os

    os.makedirs(dirs["silver"], exist_ok=True)
    spark.createDataFrame([(1, "a", 1.0)], SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dirs["silver"] + "_flat")
    # move a flat parquet file into the store root
    import shutil

    flat = [f for f in os.listdir(dirs["silver"] + "_flat") if f.endswith(".parquet")]
    shutil.copy(
        os.path.join(dirs["silver"] + "_flat", flat[0]),
        os.path.join(dirs["silver"], "part-legacy.parquet"),
    )
    spark.createDataFrame([(2, "b", 1.0)], SCHEMA).coalesce(1).write.mode(
        "append"
    ).json(dirs["src"])
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"])
    q = pl.silver_summing_stream(
        stream, dirs["silver"], dirs["ckpt"], keys=["k", "grp"],
        sum_cols=["v"], available_now=True,
    )
    import pytest as _pt

    with _pt.raises(Exception, match="pre-manifest flat store"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))


@pytest.mark.slow
def test_summing_replay_guard_skips_applied_batch(spark, dirs):
    """Review r8: addition is not idempotent, so a micro-batch replayed
    after a crash-between-commit-and-checkpoint must be skipped — the
    manifest's per-checkpoint applied-batch watermark is the guard."""
    import hashlib

    _run_summing(spark, dirs, [(1, "a", 1.0)], 0)
    m = pl._read_manifest(dirs["silver"])
    ck0 = hashlib.md5((dirs["ckpt"] + "/b0").encode()).hexdigest()[:12]
    assert m.get("applied", {}).get(ck0) == 0     # watermark recorded
    # simulate "this batch already committed" for the NEXT run's
    # checkpoint: pre-seed its watermark AT batch 0 (the crash-between-
    # manifest-commit-and-checkpoint-write shape — the only legitimate
    # replay is batch_id == watermark; below it raises, see next test)
    ck1 = hashlib.md5((dirs["ckpt"] + "/b1").encode()).hexdigest()[:12]
    m["applied"] = {**m.get("applied", {}), ck1: 0}
    pl._write_manifest(dirs["silver"], m)
    before = pl.silver_versions(dirs["silver"])
    _run_summing(spark, dirs, [(1, "a", 5.0)], 1)  # replayed → skipped
    state = {r.grp: float(r.v) for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"a": 1.0}                     # NOT doubled/added
    assert pl.silver_versions(dirs["silver"]) == before
    # a genuinely new checkpoint still applies (fresh sequence)
    _run_summing(spark, dirs, [(1, "a", 2.0)], 2)
    state = {r.grp: float(r.v) for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"a": 3.0}


@pytest.mark.slow
def test_kmv_state_column_batch_boundary_insensitive(spark, dirs, tmp_path):
    """r9 (verdict item 3): the kmv sketch-STATE column must produce the
    BIT-IDENTICAL sketch whether the rows arrive as one batch or three —
    union+sort+slice is associative/commutative/idempotent, and the test
    also replays a duplicate row to exercise idempotence."""
    rows = [(i % 4, "g", float(i % 37)) for i in range(200)] + [(0, "g", 5.0)]

    def run(d, chunks):
        for bi, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "append"
            ).json(d["src"] + f"/b{bi}")
            stream = spark.readStream.schema(SCHEMA).json(d["src"] + f"/b{bi}")
            q = pl.silver_summing_stream(
                stream, d["silver"], d["ckpt"] + f"/b{bi}", keys=["k"],
                agg_spec={"vs": ("v", "kmv")}, kmv_k=16, available_now=True,
            )
            assert q.awaitTermination(120)
        return {
            r["k"]: list(r["vs"])
            for r in pl.read_silver(spark, d["silver"]).collect()
        }

    split = run(dirs, [rows[:70], rows[70:71], rows[71:]])
    d2 = {n: str(tmp_path / ("one_" + n)) for n in ("src", "silver", "ckpt")}
    whole = run(d2, [rows])
    assert split == whole
    # k=16 < 37 distinct values → every sketch is exactly 16 hashes
    assert all(len(v) == 16 for v in split.values())


def test_summing_wiped_checkpoint_reuse_fails_loudly(spark, dirs):
    """Advice r9: batch ids restarting BELOW the recorded watermark mean
    the checkpoint path was wiped and reused against existing store state
    — silently skipping would drop every restarted batch until ids catch
    up, so the sink must raise with the remedy instead."""
    import hashlib

    _run_summing(spark, dirs, [(1, "a", 1.0)], 0)
    m = pl._read_manifest(dirs["silver"])
    ck1 = hashlib.md5((dirs["ckpt"] + "/b1").encode()).hexdigest()[:12]
    m["applied"] = {**m.get("applied", {}), ck1: 99}   # far above batch 0
    pl._write_manifest(dirs["silver"], m)
    with pytest.raises(Exception, match="below this checkpoint's applied watermark"):
        _run_summing(spark, dirs, [(1, "a", 5.0)], 1)
    # state untouched by the failed run
    state = {r.grp: float(r.v) for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"a": 1.0}


def test_compaction_preserves_replay_watermarks(spark, dirs):
    """compact_silver (plain re-publish, no version_col needed) must work
    on a summing store AND carry the applied-batch watermark forward —
    dropping it would re-open the replay window the guard closes."""
    _run_summing(spark, dirs, [(1, "a", 1.0), (2, "b", 2.0)], 0)
    applied_before = pl._read_manifest(dirs["silver"])["applied"]
    removed = pl.compact_silver(
        spark, dirs["silver"], keys=["k", "grp"], vacuum_grace_s=0
    )
    assert removed == 0                           # nothing to GC, pure merge
    m = pl._read_manifest(dirs["silver"])
    assert m["applied"] == applied_before         # watermark survived
    state = {r.grp: float(r.v) for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state == {"a": 1.0, "b": 2.0}


@pytest.mark.slow
def test_replay_watermark_never_evicts_silently(spark, dirs):
    """Advice r9 (supersedes the r8 recency-prune): evicting ANY
    checkpoint's watermark re-arms the double-apply hazard for that
    stream, so the map never prunes — up to 8 sequences coexist, updates
    to an existing key always work, and a 9th NEW sequence fails loudly
    with the remedy."""
    import hashlib

    ck0 = hashlib.md5((dirs["ckpt"] + "/b0").encode()).hexdigest()[:12]
    # long-lived stream commits first...
    _run_summing(spark, dirs, [(1, "a", 1.0)], 0)
    # ...seven ad-hoc runs with fresh checkpoints fill the map to 8 keys...
    for i in range(1, 8):
        _run_summing(spark, dirs, [(i + 100, "x", 1.0)], i)
    # ...the long-lived stream still commits from the SAME checkpoint
    # (new source file, same ckpt dir → next batch id): updating an
    # existing key is always allowed at the cap
    _run_summing(spark, dirs, [(1, "a", 0.5)], 0)
    applied = pl._read_manifest(dirs["silver"])["applied"]
    assert len(applied) == 8
    assert applied[ck0] == 1       # carries its SECOND batch's id
    state = {(r.k, r.grp): float(r.v)
             for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert state[(1, "a")] == 1.5  # both commits landed exactly once
    # a 9th NEW checkpoint sequence would need a silent eviction → raises
    with pytest.raises(Exception, match="more than 8 checkpoint sequences"):
        _run_summing(spark, dirs, [(999, "x", 1.0)], 8)
    assert pl._read_manifest(dirs["silver"])["applied"] == applied


def test_ttl_rollup_downsamples_and_composes(spark, tmp_path):
    """r9: TTL GROUP BY rollup (GraphiteMergeTree use case) — expired
    hour rows collapse into day rows (keys coarsened, measures summed);
    a SECOND rollup with a later cutoff must merge newly-expired hours
    into the day rows the first rollup created (associative algebra);
    tombstones pass through; schema/dtypes stable."""
    import datetime as dt

    path = str(tmp_path / "store")
    ts = lambda d, h: dt.datetime(2024, 1, d, h)  # noqa: E731
    rows = [
        # day 1: three hour buckets
        (ts(1, 0), "click", 1.0, 1), (ts(1, 5), "click", 2.0, 1),
        (ts(1, 9), "view", 4.0, 2),
        # day 2: two hour buckets
        (ts(2, 3), "click", 8.0, 1), (ts(2, 7), "click", 16.0, 3),
        # day 3 (stays full-granularity)
        (ts(3, 1), "click", 32.0, 1),
    ]
    df = spark.createDataFrame(
        rows, ["ts", "event_type", "v", "__n_rows"]
    ).withColumn("__deleted", F.lit(False))
    manifest = {"version": 0, "n_buckets": 4, "files": []}
    pl._SilverStore(path, manifest).publish(df, ["ts", "event_type"], set(range(4)))

    day = lambda c: F.date_trunc("day", c)  # noqa: E731
    # rollup 1: everything before day 2 → day granularity
    n = pl.ttl_rollup_silver(
        spark, path, ["ts", "event_type"], "ts", dt.datetime(2024, 1, 2),
        coarsen={"ts": day}, agg_spec={"v": "sum"},
    )
    assert n == 3
    state = {(r.ts, r.event_type): (r.v, r["__n_rows"])
             for r in pl.read_silver(spark, path).collect()}
    assert state[(ts(1, 0), "click")] == (3.0, 2)      # 1+2 summed, day key
    assert state[(ts(1, 0), "view")] == (4.0, 2)
    assert state[(ts(2, 3), "click")] == (8.0, 1)      # untouched
    assert len(state) == 5
    # rollup 2 with a later cutoff: day-2 hours fold to a NEW day-2 row;
    # re-rolling day 1 rows (already at day keys, still < cutoff) must be
    # an identity merge, not a duplication
    n = pl.ttl_rollup_silver(
        spark, path, ["ts", "event_type"], "ts", dt.datetime(2024, 1, 3),
        coarsen={"ts": day}, agg_spec={"v": "sum"},
    )
    assert n == 4   # 2 day-1 rolled rows (identity re-roll) + 2 day-2 hours
    state = {(r.ts, r.event_type): (r.v, r["__n_rows"])
             for r in pl.read_silver(spark, path).collect()}
    assert state == {
        (ts(1, 0), "click"): (3.0, 2),
        (ts(1, 0), "view"): (4.0, 2),
        (ts(2, 0), "click"): (24.0, 4),
        (ts(3, 1), "click"): (32.0, 1),
    }
    # dtype stability: v stayed double, __n_rows stayed long
    sch = {f.name: f.dataType.simpleString()
           for f in pl.read_silver(spark, path).schema.fields}
    assert sch["v"] == "double" and sch["__n_rows"] == "bigint"


def test_ttl_rollup_rejects_uncovered_columns(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "store2")
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), "a", 1.0, "extra")],
        ["ts", "k", "v", "other"],
    ).withColumn("__deleted", F.lit(False))
    pl._SilverStore(path, {"version": 0, "n_buckets": 2, "files": []}).publish(df, ["ts", "k"], {0, 1})
    with pytest.raises(ValueError, match="missing: \\['other'\\]"):
        pl.ttl_rollup_silver(
            spark, path, ["ts", "k"], "ts", dt.datetime(2025, 1, 1),
            coarsen={"ts": lambda c: F.date_trunc("day", c)},
            agg_spec={"v": "sum"},
        )


def test_ttl_rollup_keeps_null_ttl_rows(spark, tmp_path):
    """ADVICE r9 (high): a live row with NULL ttl in a touched bucket
    must survive the rollup untouched — NULL means "never expires", like
    plain ttl_silver.  Before the fix, expired_pred was NULL-false (OK)
    but live_keep's ~(ttl < cutoff) was NULL (row silently dropped)."""
    import datetime as dt

    path = str(tmp_path / "store")
    ts = lambda d, h: dt.datetime(2024, 1, d, h)  # noqa: E731
    rows = [
        (ts(1, 0), "click", 1.0), (ts(1, 5), "click", 2.0),
        (None, "click", 64.0),       # NULL ttl: must never roll or vanish
        (ts(3, 1), "click", 32.0),
    ]
    df = spark.createDataFrame(rows, ["ts", "event_type", "v"]).withColumn(
        "__deleted", F.lit(False)
    )
    manifest = {"version": 0, "n_buckets": 1, "files": []}
    pl._SilverStore(path, manifest).publish(df, ["ts", "event_type"], {0})
    n = pl.ttl_rollup_silver(
        spark, path, ["ts", "event_type"], "ts", dt.datetime(2024, 1, 2),
        coarsen={"ts": lambda c: F.date_trunc("day", c)},
        agg_spec={"v": "sum"},
    )
    assert n == 2
    state = {(r.ts, r.event_type): r.v
             for r in pl.read_silver(spark, path).collect()}
    assert state == {
        (ts(1, 0), "click"): 3.0,
        (None, "click"): 64.0,       # survived, un-aggregated
        (ts(3, 1), "click"): 32.0,
    }


@pytest.mark.slow
def test_qsample_state_column_batch_boundary_insensitive(spark, dirs, tmp_path):
    """r10 (verdict item 4): the quantile bottom-k-sample state must be
    BIT-IDENTICAL whether rows arrive as one batch or three, and a
    duplicate delivery of the same sampling id must be absorbed (the
    struct dedup makes the union idempotent).  grp doubles as the
    sampling id here: unique per row, replayed once."""
    rows = [(i % 4, str(i), float((i * 31) % 97)) for i in range(200)]
    rows.append(rows[0])                       # duplicate id delivery

    def run(d, chunks):
        for bi, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "append"
            ).json(d["src"] + f"/b{bi}")
            stream = spark.readStream.schema(SCHEMA).json(d["src"] + f"/b{bi}")
            q = pl.silver_summing_stream(
                stream, d["silver"], d["ckpt"] + f"/b{bi}", keys=["k"],
                agg_spec={"vq": ("v", "qsample:grp")}, qsample_k=16,
                available_now=True,
            )
            assert q.awaitTermination(120)
        return {
            r["k"]: [(x["h"], x["v"]) for x in r["vq"]]
            for r in pl.read_silver(spark, d["silver"]).collect()
        }

    split = run(dirs, [rows[:70], rows[70:71], rows[71:]])
    d2 = {n: str(tmp_path / ("one_" + n)) for n in ("src", "silver", "ckpt")}
    whole = run(d2, [rows])
    assert split == whole
    # 50 rows per key > k=16 → every sample is full and hash-sorted
    for v in split.values():
        assert len(v) == 16 and v == sorted(v)

    # read-side estimator: nearest-rank quantiles of the sampled values,
    # exact on a handmade two-element state
    from postgres_debezium_clickhouse_spark.operators.sketch import (
        qsample_quantile_expr,
    )

    df = spark.createDataFrame(
        [([(1, 10.0), (2, 20.0)],)],
        "s array<struct<h:long,v:double>>",
    )
    got = df.select(
        qsample_quantile_expr("s", 0.5).alias("p50"),
        qsample_quantile_expr("s", 1.0).alias("p100"),
    ).first()
    assert (got.p50, got.p100) == (10.0, 20.0)


@pytest.mark.slow
def test_topk_state_column_guarantees(spark, dirs, tmp_path):
    """r10: the Space-Saving topK state column.  The merge is only
    bound-preserving (truncation loses information — CH topK has the
    same caveat), so what is asserted are the GUARANTEES: ≤cap structs
    per key; every heavy hitter present after adversarial splits; every
    reported count bracketing the exact count (cnt−err ≤ true ≤ cnt);
    and the single-batch run exact (err 0, true counts)."""
    # key 0: hot items far above the tail; 60 tail items of count 1
    rows = [(0, "hot1", 1.0)] * 50 + [(0, "hot2", 1.0)] * 30
    rows += [(0, f"t{i}", 1.0) for i in range(60)]
    rows += [(1, "only", 1.0)] * 5
    import random

    random.Random(3).shuffle(rows)
    exact = {}
    for k, g, _v in rows:
        exact[(k, g)] = exact.get((k, g), 0) + 1

    def run(d, chunks):
        for bi, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                "append"
            ).json(d["src"] + f"/b{bi}")
            stream = spark.readStream.schema(SCHEMA).json(d["src"] + f"/b{bi}")
            q = pl.silver_summing_stream(
                stream, d["silver"], d["ckpt"] + f"/b{bi}", keys=["k"],
                agg_spec={"tk": ("grp", "topk")}, topk_cap=8,
                available_now=True,
            )
            assert q.awaitTermination(120)
        return {r["k"]: [(x["item"], x["cnt"], x["err"]) for x in r["tk"]]
                for r in pl.read_silver(spark, d["silver"]).collect()}

    st = run(dirs, [rows[:40], rows[40:41], rows[41:]])
    assert all(len(v) <= 8 for v in st.values())
    items0 = {i: (c, e) for i, c, e in st[0]}
    for hot in ("hot1", "hot2"):
        assert hot in items0, st[0]
        c, e = items0[hot]
        assert c - e <= exact[(0, hot)] <= c, (hot, c, e)
    assert st[1] == [("only", 5, 0)]         # sub-cap key: exact
    # single batch: exact top-8 by construction
    d2 = {n: str(tmp_path / ("one_" + n)) for n in ("src", "silver", "ckpt")}
    st1 = run(d2, [rows])
    assert ("hot1", 50, 0) in st1[0] and ("hot2", 30, 0) in st1[0]
    assert all(e == 0 for _i, _c, e in st1[0])


def test_mixed_agg_spec_with_topk(spark, dirs):
    """r10: a spec mixing the join-branch op (topk) with single-agg ops
    (sum + kmv) must compose in one sink — the topk branch joins back
    without disturbing the main merge's columns or __n_rows."""
    rows = [(1, "a", 1.0), (1, "a", 2.0), (1, "b", 4.0),
            (2, "c", 8.0), (1, "a", 16.0)]
    for bi, chunk in enumerate([rows[:2], rows[2:]]):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "append").json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={
                "v_sum": ("v", "sum"),
                "g_sketch": ("grp", "kmv"),
                "g_top": ("grp", "topk"),
            },
            topk_cap=4, kmv_k=16, available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: r for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert float(st[1]["v_sum"]) == 23.0 and st[1]["__n_rows"] == 4
    assert len(st[1]["g_sketch"]) == 2               # a, b distinct
    assert [(x["item"], x["cnt"]) for x in st[1]["g_top"]] == [("a", 3), ("b", 1)]
    assert [(x["item"], x["cnt"]) for x in st[2]["g_top"]] == [("c", 1)]


@pytest.mark.slow
def test_topk_state_ignores_null_source(spark, dirs):
    """r11 (ADVICE r10): NULL source values must not occupy a topK
    summary slot — matching the kmv/hll/qsample siblings and ClickHouse
    topK, which all ignore NULLs.  Rows with NULL grp still count toward
    __n_rows (they are real rows), but never appear as an item."""
    rows = [(1, "a", 1.0), (1, None, 1.0), (1, "a", 1.0), (1, None, 1.0),
            (1, "b", 1.0), (2, None, 1.0)]
    for bi, chunk in enumerate([rows[:3], rows[3:]]):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "append"
        ).json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"tk": ("grp", "topk")}, topk_cap=4,
            available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: r for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert [(x["item"], x["cnt"]) for x in st[1]["tk"]] == [("a", 2), ("b", 1)]
    assert st[1]["__n_rows"] == 5
    assert st[2]["tk"] == [] and st[2]["__n_rows"] == 1


@pytest.mark.slow
def test_map_state_columns_across_batches(spark, dirs):
    """r11: summap/minmap/maxmap state columns (CH SummingMergeTree map
    columns / sumMap-family states).  Values combine per MAP-KEY across
    rows and batches with key union — keys appearing in only one batch
    must survive; adversarial splits cannot change a single value
    (decimal sum; min/max never accumulate).  NULL map rows are ignored;
    an all-NULL key gets the empty map."""
    MSCHEMA = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    ])
    rows = [
        (1, {"a": 1.5, "b": 10.0}),
        (1, {"a": 2.25, "c": -4.0}),
        (1, {"b": -1.0}),
        (1, None),
        (2, {"z": 7.0}),
        (3, None),
    ]
    for bi, chunk in enumerate([rows[:2], rows[2:3], rows[3:]]):
        spark.createDataFrame(chunk, MSCHEMA).coalesce(1).write.mode(
            "append"
        ).json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(MSCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"ms": ("m", "summap"), "mn": ("m", "minmap"),
                      "mx": ("m", "maxmap")},
            available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: r for r in pl.read_silver(spark, dirs["silver"]).collect()}
    as_f = lambda d: {k: float(v) for k, v in d.items()}
    assert as_f(st[1]["ms"]) == {"a": 3.75, "b": 9.0, "c": -4.0}
    assert as_f(st[1]["mn"]) == {"a": 1.5, "b": -1.0, "c": -4.0}
    assert as_f(st[1]["mx"]) == {"a": 2.25, "b": 10.0, "c": -4.0}
    assert as_f(st[2]["ms"]) == {"z": 7.0}
    assert st[3]["ms"] == {} and st[3]["mn"] == {} and st[3]["__n_rows"] == 1
    assert st[1]["__n_rows"] == 4


@pytest.mark.slow
def test_bitmap_state_exact_distinct_and_set_algebra(spark, dirs):
    """r11: groupBitmap state — EXACT distinct set as sorted array,
    union-merged (idempotent: duplicate delivery cannot change it).
    NULLs ignored; all-NULL key gets the empty set; set algebra
    (intersection across keys) works on the stored state directly."""
    BSCHEMA = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("u", T.LongType()),
    ])
    rows = [(1, 10), (1, 20), (1, 10), (1, None), (2, 20), (2, 30),
            (1, 40), (2, 40), (3, None)]
    for bi, chunk in enumerate([rows[:4], rows[4:6], rows[4:6], rows[6:]]):
        spark.createDataFrame(chunk, BSCHEMA).coalesce(1).write.mode(
            "append"
        ).json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(BSCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"bm": ("u", "bitmap")}, available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: list(r["bm"]) for r in
          pl.read_silver(spark, dirs["silver"]).collect()}
    assert st == {1: [10, 20, 40], 2: [20, 30, 40], 3: []}
    inter = sorted(set(st[1]) & set(st[2]))
    assert inter == [20, 40]


@pytest.mark.slow
def test_sortedarray_state_n_smallest_with_duplicates(spark, dirs):
    """r11: groupArraySorted(N) state — the N smallest values per key,
    DUPLICATES KEPT (CH semantics, unlike bitmap's set union), bounded
    at sorted_k under adversarial batch splits."""
    BSCHEMA = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    rows = [(1, 5.0), (1, 1.0), (1, 3.0), (1, 1.0), (1, 9.0), (1, 2.0),
            (2, 7.0), (1, 0.5), (1, 8.0)]
    for bi, chunk in enumerate([rows[:3], rows[3:6], rows[6:]]):
        spark.createDataFrame(chunk, BSCHEMA).coalesce(1).write.mode(
            "append"
        ).json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(BSCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"sa": ("v", "sortedarray")}, sorted_k=4,
            available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: list(r["sa"]) for r in
          pl.read_silver(spark, dirs["silver"]).collect()}
    assert st[1] == [0.5, 1.0, 1.0, 2.0]     # duplicates kept, capped at 4
    assert st[2] == [7.0]


@pytest.mark.slow
def test_topkweighted_state_column(spark, dirs, tmp_path):
    """r12: the CH topKWeighted state column — the Space-Saving summary
    with weight-sum contributions.  Sub-cap keys are exact weight sums
    across adversarial batch splits; in the truncation regime a
    weight-heavy but row-rare item must survive where row counts would
    evict it (the reason the weighted variant exists); NULL weights are
    skipped like NULL items."""
    # key 1 sub-cap: exact weighted sums; weights ride the v column
    rows = [(1, "a", 5.0), (1, "a", 7.0), (1, "b", 1.0), (1, None, 9.0)]
    for bi, chunk in enumerate([rows[:2], rows[2:]]):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "append").json(dirs["src"] + f"/b{bi}")
        stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, dirs["silver"], dirs["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"tk": ("grp", "topkweighted:v")}, topk_cap=4,
            available_now=True,
        )
        assert q.awaitTermination(120)
    st = {r["k"]: r for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert [(x["item"], x["cnt"], x["err"]) for x in st[1]["tk"]] == [
        ("a", 12, 0), ("b", 1, 0)]
    assert st[1]["__n_rows"] == 4            # NULL-item row still counted

    # truncation regime: one item with 3 rows × weight 100 must beat 10
    # items with 5 rows × weight 1 at cap 4 (row-count ranking would
    # rank 'heavy' below every tail item)
    d2 = {n: str(tmp_path / ("w_" + n)) for n in ("src", "silver", "ckpt")}
    rows2 = [(7, "heavy", 100.0)] * 3
    rows2 += [(7, f"t{i}", 1.0) for i in range(10) for _ in range(5)]
    import random
    random.Random(4).shuffle(rows2)
    for bi, chunk in enumerate([rows2[:20], rows2[20:]]):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "append").json(d2["src"] + f"/b{bi}")
        stream = spark.readStream.schema(SCHEMA).json(d2["src"] + f"/b{bi}")
        q = pl.silver_summing_stream(
            stream, d2["silver"], d2["ckpt"] + f"/b{bi}", keys=["k"],
            agg_spec={"tk": ("grp", "topkweighted:v")}, topk_cap=4,
            available_now=True,
        )
        assert q.awaitTermination(120)
    st2 = {r["k"]: [(x["item"], x["cnt"], x["err"]) for x in r["tk"]]
           for r in pl.read_silver(spark, d2["silver"]).collect()}
    items = {i: (c, e) for i, c, e in st2[7]}
    assert len(st2[7]) <= 4
    assert "heavy" in items
    c, e = items["heavy"]
    assert c - e <= 300 <= c                 # bracket on the weight sum

    # NULL weight rows are skipped (CH topKWeighted ignores them)
    d3 = {n: str(tmp_path / ("nw_" + n)) for n in ("src", "silver", "ckpt")}
    rows3 = [(9, "x", 2.0), (9, "x", None), (9, "y", 3.0)]
    spark.createDataFrame(rows3, SCHEMA).coalesce(1).write.json(d3["src"])
    stream = spark.readStream.schema(SCHEMA).json(d3["src"])
    q = pl.silver_summing_stream(
        stream, d3["silver"], d3["ckpt"], keys=["k"],
        agg_spec={"tk": ("grp", "topkweighted:v")}, topk_cap=4,
        available_now=True,
    )
    assert q.awaitTermination(120)
    st3 = {r["k"]: [(x["item"], x["cnt"]) for x in r["tk"]]
           for r in pl.read_silver(spark, d3["silver"]).collect()}
    assert st3[9] == [("y", 3), ("x", 2)]


def test_topkweighted_fractional_weights_sum_before_cast(spark, dirs):
    """r13 ADVICE fix: fractional weights must be SUMMED then cast —
    the old per-row cast truncated 1.9 to 1 before summing (a+b would
    count 2 instead of 3)."""
    rows = [(1, "a", 1.9), (1, "a", 1.2), (1, "b", 0.4)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append").json(dirs["src"] + "/b0")
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"] + "/b0")
    q = pl.silver_summing_stream(
        stream, dirs["silver"], dirs["ckpt"] + "/b0", keys=["k"],
        agg_spec={"tk": ("grp", "topkweighted:v")}, topk_cap=4,
        available_now=True,
    )
    assert q.awaitTermination(120)
    st = {r["k"]: [(x["item"], x["cnt"], x["err"]) for x in r["tk"]]
          for r in pl.read_silver(spark, dirs["silver"]).collect()}
    assert st[1] == [("a", 3, 0), ("b", 0, 0)]   # 1.9+1.2=3.1→3; 0.4→0
