"""The keyed silver sink's per-trigger contract: the one-aggregate
touched-bucket merge keeps stored tombstones, the manifest's union schema
replaces footer reads, and a steady-state trigger stays within its job,
stage-name and task-width budget with one key-sorted file per bucket."""

from __future__ import annotations

import json
import os

from _jobs import ran_stages, spark_jobs
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import postgres_debezium_clickhouse_spark.streaming.pipeline as pl
from postgres_debezium_clickhouse_spark.operators.upsert import merge_touched

EVENTS = "id long, val string, op string, ts_ms long, offset long"


def _upsert(spark, rows, src, store, ckpt, schema=EVENTS):
    """Append ``rows`` as one JSON file under ``src`` and run the upsert
    sink over it to completion; returns the finished query."""
    _feed(spark, rows, src, schema)
    return _drain(spark, src, store, ckpt, schema)


def _feed(spark, rows, src, schema=EVENTS):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").json(src)


def _drain(spark, src, store, ckpt, schema=EVENTS):
    q = pl.silver_upsert_stream(
        spark.readStream.schema(schema).json(src), store, ckpt,
        keys=["id"], available_now=True,
    )
    assert q.awaitTermination(180)
    return q


def _bucket_of(spark, ids, nb):
    return {
        r.id: r.b
        for r in spark.createDataFrame([(i,) for i in ids], "id long")
        .select("id", F.pmod(F.hash("id"), F.lit(nb)).alias("b")).collect()
    }


def _manifest(store):
    with open(os.path.join(store, "_manifest.json")) as fh:
        return json.load(fh)


def _bucket(f):
    return int(f.split("__bucket=")[1].split("/")[0])


# -- merge_touched --------------------------------------------------------

_stored = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.sampled_from(["c", "u", "d"]),
              st.integers(1, 3), st.booleans()),
    min_size=6, max_size=6,
)
_batch = st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from(["x", "y"]),
              st.sampled_from(["u", "d"]), st.integers(1, 4), st.integers(0, 9)),
    min_size=1, max_size=10,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(stored=_stored, batch=_batch)
def test_merge_touched_matches_model(spark, stored, batch):
    """Latest-wins over batch ∪ stored: a key with a batch row takes its
    flag from the winner's op; a key without one keeps its stored flag,
    which may disagree with its op (a ``mutate_silver`` delete)."""
    cur = [(k, v, op, ts, 100 + k, deleted) for k, (v, op, ts, deleted) in enumerate(stored)]
    seen, events = set(), []
    for k, v, op, ts, off in batch:  # one event per (key, version) slot
        if (k, ts, off) not in seen:
            seen.add((k, ts, off))
            events.append((k, v, op, ts, off))
    want = {k: (v, d) for k, v, _op, _ts, _off, d in cur}
    best = {k: (ts, off, v, op) for k, v, op, ts, off, _d in cur}
    for k, v, op, ts, off in events:
        if (ts, off) > best[k][:2]:
            best[k] = (ts, off, v, op)
    for k in {e[0] for e in events}:
        want[k] = (best[k][2], best[k][3] == "d")
    got = merge_touched(
        spark.createDataFrame(events, EVENTS),
        spark.createDataFrame(cur, "id long, val string, op string, ts_ms long, "
                                   "offset long, __deleted boolean"),
        keys=["id"],
    )
    assert got.columns == ["id", "val", "op", "ts_ms", "offset", "__deleted"]
    assert {r.id: (r.val, r["__deleted"]) for r in got.collect()} == want


def test_mutate_deleted_row_stays_deleted_when_bucket_mate_updates(spark, tmp_path):
    """``mutate_silver`` sets the flag and leaves ``op`` alone; a later
    trigger that rewrites the bucket for a DIFFERENT key must keep it
    deleted."""
    store, src = str(tmp_path / "silver"), str(tmp_path / "src")
    ids = list(range(1, 200))
    _upsert(spark, [(i, f"v{i}", "c", 100, i) for i in ids], src, store, str(tmp_path / "c1"))
    nb = _manifest(store)["n_buckets"]
    bucket = _bucket_of(spark, ids, nb)
    victim = 7
    mate = next(i for i in ids if i != victim and bucket[i] == bucket[victim])

    assert pl.mutate_silver(spark, store, ["id"], where=F.col("id") == victim, delete=True) == 1
    _upsert(spark, [(mate, "new", "u", 200, 1)], src, store, str(tmp_path / "c1"))

    assert bucket[victim] in {_bucket(f) for f in _manifest(store)["files"]
                              if f.startswith(f"__epoch={_manifest(store)['version']}/")}
    live = {r.id: r.val for r in pl.read_silver(spark, store).collect()}
    assert victim not in live and live[mate] == "new" and len(live) == len(ids) - 1
    full = {r.id: (r.op, r["__deleted"])
            for r in pl.read_silver(spark, store, include_deleted=True).collect()}
    assert full[victim] == ("c", True)


# -- union schema ---------------------------------------------------------

_WIDE = "id long, val string, tier string, op string, ts_ms long, offset long"


def _wide_then_narrow_into_empty_buckets(spark, tmp_path):
    """A wide store (``tier`` column) on ids 1..4, then a narrowed stream
    writing only ids whose buckets hold no rows yet; returns the store."""
    store, ckpt = str(tmp_path / "silver"), str(tmp_path / "c")
    wide_rows = [(i, f"v{i}", f"t{i}", "c", 1, i) for i in range(1, 5)]
    _upsert(spark, wide_rows, str(tmp_path / "s1"), store, ckpt + "1", schema=_WIDE)
    nb = _manifest(store)["n_buckets"]
    bucket = _bucket_of(spark, range(1, 400), nb)
    used = {bucket[i] for i in range(1, 5)}
    fresh = [i for i in range(5, 400) if bucket[i] not in used][:3]
    assert len(fresh) == 3
    _upsert(spark, [(i, f"n{i}", "c", 2, i) for i in fresh], str(tmp_path / "s2"), store,
            ckpt + "2", schema=EVENTS)
    return store, fresh


def test_union_schema_keeps_dropped_column_on_untouched_rows(spark, tmp_path):
    store, fresh = _wide_then_narrow_into_empty_buckets(spark, tmp_path)
    m = _manifest(store)
    new_files = [f for f in m["files"] if f.startswith(f"__epoch={m['version']}/")]
    # the newest epoch's files lack `tier`; the manifest still records it
    assert "tier" not in spark.read.parquet(os.path.join(store, new_files[0])).columns
    assert m[pl.SCHEMA_UNION] is True
    assert "tier" in [f["name"] for f in json.loads(m["schema"])["fields"]]

    got = {r.id: (r.val, r.tier) for r in pl.read_silver(spark, store).collect()}
    assert got == {**{i: (f"v{i}", f"t{i}") for i in range(1, 5)},
                   **{i: (f"n{i}", None) for i in fresh}}
    old = {r.id: r.tier for r in pl.read_silver(spark, store, as_of_version=m["version"] - 1).collect()}
    assert old == {i: f"t{i}" for i in range(1, 5)}


def test_manifest_without_union_flag_reads_through_merge_schema(spark, tmp_path):
    """A manifest written before the union schema records only the last
    frame's schema: it must still read every column (mergeSchema), and the
    next publish upgrades it to a union-schema manifest."""
    store, fresh = _wide_then_narrow_into_empty_buckets(spark, tmp_path)
    m = _manifest(store)
    del m[pl.SCHEMA_UNION]
    m["schema"] = spark.createDataFrame([], EVENTS + ", __deleted boolean").schema.json()
    with open(os.path.join(store, "_manifest.json"), "w") as fh:
        json.dump(m, fh)

    got = {r.id: r.tier for r in pl.read_silver(spark, store).collect()}
    assert got == {**{i: f"t{i}" for i in range(1, 5)}, **{i: None for i in fresh}}

    _upsert(spark, [(fresh[0], "again", "u", 3, 0)], str(tmp_path / "s2"), store,
            str(tmp_path / "c2"))
    m2 = _manifest(store)
    assert m2[pl.SCHEMA_UNION] is True
    assert "tier" in [f["name"] for f in json.loads(m2["schema"])["fields"]]
    assert {r.id: r.tier for r in pl.read_silver(spark, store).collect()}[1] == "t1"


# -- per-trigger budget ---------------------------------------------------


def test_steady_trigger_budget_and_layout(spark, tmp_path):
    """A steady-state trigger of 30 events into a 64-bucket store:

    - at most 7 Spark jobs (touched-bucket collect, merge, publish);
    - no ``parquet at …`` stage, i.e. no file-listing and no footer
      (mergeSchema) job — neither in the trigger nor when a full read of
      the store's 64 files is opened;
    - no stage wider than the cores plus the batch's one input file: the
      merge's map stage scans the touched files at core width and the
      batch beside them; the publish writes at core width, not one task
      per bucket;
    - the new epoch holds exactly one key-sorted file per touched bucket,
      with more touched buckets than write tasks."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    ids = list(range(3000))
    _upsert(spark, [(i, f"v{i}", "c", 1, i) for i in ids], src, store, ckpt + "0")
    assert _manifest(store)["n_buckets"] == 64
    # warm-up trigger, then the measured one (each its own query run)
    for rep in (1, 2):
        batch = [((i * 97 + rep) % 3000, f"u{rep}", "u", 1 + rep, i) for i in range(30)]
        _feed(spark, batch, f"{src}{rep}")
        with spark_jobs(spark) as jobs:
            _drain(spark, f"{src}{rep}", store, f"{ckpt}{rep}")
    # `jobs` and `batch` are now the measured trigger's

    stages = ran_stages(spark, jobs)
    assert 0 < len(jobs) <= 7, len(jobs)
    assert not [s.name for s in stages if s.name.startswith("parquet at")]
    assert max(s.numTasks for s in stages) <= cores + 1, [(s.name, s.numTasks) for s in stages]

    with spark_jobs(spark) as open_jobs:
        full = pl.read_silver(spark, store)
    assert open_jobs == []
    assert len(_manifest(store)["files"]) == 64

    m = _manifest(store)
    epoch = f"__epoch={m['version']}/"
    touched = {_bucket(f) for f in m["files"] if f.startswith(epoch)}
    assert touched == set(_bucket_of(spark, [r[0] for r in batch], 64).values())
    assert len(touched) > cores
    for b in touched:
        files = [f for f in m["files"] if f.startswith(f"{epoch}__bucket={b}/")]
        assert len(files) == 1, (b, files)
        keys = [r.id for r in spark.read.parquet(os.path.join(store, files[0])).collect()]
        assert keys == sorted(keys)
    assert full.count() == len(ids)
    assert {r.id: r.val for r in full.filter(F.col("val") == "u2").collect()} == {
        r[0]: "u2" for r in batch
    }
