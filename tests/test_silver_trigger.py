"""The keyed silver sink's per-trigger contract: the one-aggregate
touched-bucket merge keeps stored tombstones, the manifest's union schema
replaces footer reads, a delta trigger writes the batch as one file in
one single-task job, an inline fold stays within its job, stage-name and
task-width budget with one key-sorted file per bucket, and a background
fold lands in the next delta's commit — each trigger one claim and one
manifest commit."""

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


def test_mutate_deleted_row_stays_deleted_when_bucket_mate_updates(spark, tmp_path, monkeypatch):
    """``mutate_silver`` sets the flag and leaves ``op`` alone; a later
    trigger for a DIFFERENT key of its bucket must keep it deleted, both
    as a delta merged at read and as the fold that rewrites the bucket."""
    store, src = str(tmp_path / "silver"), str(tmp_path / "src")
    ids = list(range(1, 200))
    _upsert(spark, [(i, f"v{i}", "c", 100, i) for i in ids], src, store, str(tmp_path / "c1"))
    nb = _manifest(store)["n_buckets"]
    bucket = _bucket_of(spark, ids, nb)
    victim = 7
    mate = next(i for i in ids if i != victim and bucket[i] == bucket[victim])

    def check(val):
        live = {r.id: r.val for r in pl.read_silver(spark, store).collect()}
        assert victim not in live and live[mate] == val and len(live) == len(ids) - 1
        full = {r.id: (r.op, r["__deleted"])
                for r in pl.read_silver(spark, store, include_deleted=True).collect()}
        assert full[victim] == ("c", True)

    assert pl.mutate_silver(spark, store, ["id"], where=F.col("id") == victim, delete=True) == 1
    _upsert(spark, [(mate, "new", "u", 200, 1)], src, store, str(tmp_path / "c1"))
    assert len(_manifest(store)[pl.DELTAS]) == 1
    check("new")

    monkeypatch.setattr(pl, "FOLD_DELTAS", 0)
    _upsert(spark, [(mate, "newer", "u", 300, 1)], src, store, str(tmp_path / "c1"))
    m = _manifest(store)
    assert m[pl.DELTAS] == []
    assert bucket[victim] in {_bucket(f) for f in m["files"]
                              if f.startswith(f"__epoch={m['version']}/")}
    check("newer")


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
    new_files = [f for f in m["files"] + m.get(pl.DELTAS, [])
                 if f.startswith(f"__epoch={m['version']}/")]
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


class _CountingBackend(pl.CommitBackend):
    """The active commit backend, counting epoch claims and manifest CAS
    commits."""

    def __init__(self, inner):
        self.inner, self.claims, self.commits = inner, 0, 0

    def read_manifest(self, path):
        return self.inner.read_manifest(path)

    def commit_manifest(self, path, manifest, expected_version=None):
        self.inner.commit_manifest(path, manifest, expected_version)
        self.commits += 1

    def claim_epoch(self, path, epoch, stale_s=pl.EPOCH_CLAIM_STALE_S):
        self.claims += 1
        return self.inner.claim_epoch(path, epoch, stale_s)

    def release_claim(self, token):
        self.inner.release_claim(token)


def _parquet_files(store):
    return {os.path.relpath(os.path.join(root, f), store)
            for root, _dirs, files in os.walk(store) for f in files if f.endswith(".parquet")}


def _measured_trigger(spark, tmp_path, monkeypatch):
    """A 3000-row store in 64 buckets, one warm-up trigger, then one
    measured trigger of 30 events.  Returns the store, the measured
    batch, its job ids, its counting backend, and the manifest and
    parquet files before it."""
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    ids = list(range(3000))
    _upsert(spark, [(i, f"v{i}", "c", 1, i) for i in ids], src, store, ckpt + "0")
    assert _manifest(store)["n_buckets"] == 64
    for rep in (1, 2):  # warm-up trigger, then the measured one
        batch = [((i * 97 + rep) % 3000, f"u{rep}", "u", 1 + rep, i) for i in range(30)]
        _feed(spark, batch, f"{src}{rep}")
        before, files_before = _manifest(store), _parquet_files(store)
        backend = _CountingBackend(pl.COMMIT_BACKEND)
        monkeypatch.setattr(pl, "COMMIT_BACKEND", backend)
        with spark_jobs(spark) as jobs:
            _drain(spark, f"{src}{rep}", store, f"{ckpt}{rep}")
        monkeypatch.setattr(pl, "COMMIT_BACKEND", backend.inner)
    return store, batch, jobs, backend, before, files_before


def _check_state(spark, store, batch):
    full = pl.read_silver(spark, store)
    assert full.count() == 3000
    assert {r.id: r.val for r in full.filter(F.col("val") == "u2").collect()} == {
        r[0]: "u2" for r in batch
    }


def test_delta_trigger_budget(spark, tmp_path, monkeypatch):
    """A steady-state trigger between folds appends ONE delta holding
    exactly the batch's rows, key-sorted — no per-trigger aggregate, so
    the readers' FINAL sees every event — in ONE Spark job of ONE task:
    exactly one parquet file written, one epoch claim, one CAS commit and
    the base file list unchanged.  Opening the merged read runs no job."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 16)
    store, batch, jobs, backend, before, files_before = _measured_trigger(
        spark, tmp_path, monkeypatch)

    assert len(jobs) == 1, len(jobs)
    stages = ran_stages(spark, jobs)
    assert [s.numTasks for s in stages] == [1], [(s.name, s.numTasks) for s in stages]
    assert (backend.claims, backend.commits) == (1, 1)
    m = _manifest(store)
    written = _parquet_files(store) - files_before
    assert len(written) == 1 and m[pl.DELTAS] == before[pl.DELTAS] + sorted(written)
    assert m["files"] == before["files"] and len(m[pl.DELTAS]) == 2
    assert m["version"] == before["version"] + 1
    delta = spark.read.parquet(os.path.join(store, *written))
    assert delta.columns == ["id", "val", "op", "ts_ms", "offset"]
    assert [tuple(r) for r in delta.collect()] == sorted(batch)

    with spark_jobs(spark) as open_jobs:
        pl.read_silver(spark, store)
    assert open_jobs == []
    _check_state(spark, store, batch)


def test_fold_trigger_budget_and_layout(spark, tmp_path, monkeypatch):
    """A folding trigger (forced every trigger here) into a 64-bucket
    store:

    - at most 7 Spark jobs (touched-bucket collect, merge, publish);
    - no ``parquet at …`` stage, i.e. no file-listing and no footer
      (mergeSchema) job — neither in the trigger nor when a full read of
      the store's 64 files is opened;
    - no stage wider than the cores plus the batch's one input file: the
      merge's map stage scans the touched files at core width and the
      batch beside them; the publish writes at core width, not one task
      per bucket;
    - one epoch claim and one CAS commit, the deltas cleared;
    - the new epoch holds exactly one key-sorted file per touched bucket,
      with more touched buckets than write tasks."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 0)
    store, batch, jobs, backend, _before, _files = _measured_trigger(
        spark, tmp_path, monkeypatch)
    sc = spark.sparkContext
    cores = sc.defaultParallelism

    stages = ran_stages(spark, jobs)
    assert 0 < len(jobs) <= 7, len(jobs)
    assert not [s.name for s in stages if s.name.startswith("parquet at")]
    assert max(s.numTasks for s in stages) <= cores + 1, [(s.name, s.numTasks) for s in stages]
    assert (backend.claims, backend.commits) == (1, 1)

    with spark_jobs(spark) as open_jobs:
        pl.read_silver(spark, store)
    assert open_jobs == []
    m = _manifest(store)
    assert len(m["files"]) == 64 and m[pl.DELTAS] == []

    epoch = f"__epoch={m['version']}/"
    touched = {_bucket(f) for f in m["files"] if f.startswith(epoch)}
    assert touched == set(_bucket_of(spark, [r[0] for r in batch], 64).values())
    assert len(touched) > cores
    for b in touched:
        files = [f for f in m["files"] if f.startswith(f"{epoch}__bucket={b}/")]
        assert len(files) == 1, (b, files)
        keys = [r.id for r in spark.read.parquet(os.path.join(store, files[0])).collect()]
        assert keys == sorted(keys)
    _check_state(spark, store, batch)


def test_background_fold_rides_in_the_next_delta_commit(spark, tmp_path, monkeypatch):
    """With the cadence at 2, the second delta makes the deltas due: that
    trigger starts the background fold and commits only its delta.  The
    fold's plan rides in the third trigger's one commit, which
    republishes the buckets of both folded deltas from fold epoch
    ``-version`` and keeps only its own delta; every trigger is one
    version."""
    monkeypatch.setattr(pl, "FOLD_DELTAS", 2)
    store, src, ckpt = str(tmp_path / "silver"), str(tmp_path / "src"), str(tmp_path / "c")
    _upsert(spark, [(i, f"v{i}", "c", 1, i) for i in range(300)], src, store, ckpt)
    v0 = _manifest(store)["version"]
    batches = [[(10, "a", "u", 2, 0)], [(20, "b", "u", 2, 0), (30, None, "d", 2, 1)],
               [(40, "c", "u", 2, 0)]]
    for n, rows in enumerate(batches, 1):
        _upsert(spark, rows, f"{src}{n}", store, f"{ckpt}{n}")
        if n == 2:
            folder = pl._folder(store)
            assert folder.wait(120) and folder.plan is not None and folder.error is None
        m = _manifest(store)
        assert m["version"] == v0 + n
        assert len(m[pl.DELTAS]) == (n if n < 3 else 1)
    assert m[pl.DELTAS][0].startswith(f"__epoch={v0 + 3}/")
    fold_epoch = f"__epoch={-(v0 + 2)}/"
    assert {_bucket(f) for f in m["files"] if f.startswith(fold_epoch)} == set(
        _bucket_of(spark, [10, 20, 30], 64).values())
    assert pl._folder(store).plan is None and not pl._folder(store).outputs
    live = {r.id: r.val for r in pl.read_silver(spark, store).collect()}
    assert len(live) == 299 and 30 not in live
    assert (live[10], live[20], live[40]) == ("a", "b", "c")
