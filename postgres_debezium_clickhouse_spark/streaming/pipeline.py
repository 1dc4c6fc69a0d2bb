"""Streaming pipeline: the materialized-view registry and the bronze/silver
write paths (SURVEY §2.1 S7-S8/S10, §2.8 D5, §2.9).

ClickHouse's ``CREATE MATERIALIZED VIEW … TO target AS SELECT …``
(basic_example/init.sql:31-35,52-63) is insert-triggered incremental
compute — exactly a Structured Streaming query.  The registry here is the
engine-side replacement for connector REST registration
(basic_example/start.sh:67-74): ``Pipeline.register_mv`` creates/replaces a
named streaming query; re-registering stops the old one (the PUT-connector
equivalent).

Mapping:
- offset tracking  → checkpointLocation (T1; Kafka consumer-group offsets,
  clickhouse.sql:18 / debezium_offsets topic, docker-compose.yml:87-89)
- poison messages  → PERMISSIVE from_json + corrupt filter (T2;
  kafka_skip_broken_messages=1, clickhouse.sql:20)
- backpressure     → maxOffsetsPerTrigger / maxFilesPerTrigger (T7;
  max.batch.size=1024, abcsvb-connector-secure.json:44)
- heartbeats       → StreamingQueryListener progress events (T6;
  heartbeat.interval.ms, debezium-pg-connector.json:15)
- error policy     → fail-fast: query.exception() surfaced on await (T8;
  errors.tolerance=none, abcsvb-connector-secure.json:51-53)

Scale: bronze append is shuffle-free (narrow projection → partitioned
parquet).  The keyed upsert sinks are merge-on-read, like the reference's
ReplacingMergeTree (basic_example/clickhouse.sql:40-82): each insert
lands as a part, ``SELECT … FINAL`` collapses versions at read time, and
background merges fold parts later.  Here a trigger writes its batch's
rows as they arrived as ONE delta file — no aggregate, no touched-bucket
collect, no read of current rows: one single-task Spark job — and every
reader applies FINAL over base ∪ deltas (one latest-wins aggregate,
``operators.upsert.merge_touched``).  The merges run beside the sink,
not in it: once the deltas are due, the store's background fold (one
daemon thread per store, alive only while it folds) reads, merges and
re-writes only the buckets whose keys appear in the deltas, in one task
when they are small, and leaves a plan that the next trigger's delta
commit carries — every other bucket's files are untouched.  A trigger
folds inline only when it must (an empty, legacy or projected store, or
deltas piling up past ``3 × FOLD_DELTAS``).  A trigger lists no
directories and reads no parquet footers: the manifest names every live
file and records the store's union schema.

Silver store layout (manifest-committed, bucketed)::

    <path>/_manifest.json                      # atomic commit point
    <path>/__epoch=<v>/__bucket=<b>/part-*.parquet   # base: "files"
    <path>/__epoch=-<v>/__bucket=<b>/part-*.parquet  # base a background fold wrote
    <path>/__epoch=<v>/part-*.parquet                # a delta: "deltas"

``_manifest.json`` lists the LIVE data files: ``files`` (the bucketed
base) and ``deltas`` (one key-sorted file per trigger since the last
fold, with ``delta_spec`` naming the merge columns).  Each publish writes
fresh files under a new ``__epoch`` dir, then atomically replaces the
manifest (write-temp + ``os.replace``) — exactly one manifest commit per
trigger, delta or inline fold.  A background fold of version v writes
under the negative epoch ``-v``, its own claim namespace, and commits
nothing itself: its plan rides in a later commit, which applies it only
if the plan's buckets and the deltas it folded are still as it saw
them.  Files referenced by any committed manifest are never mutated, so
a reader that loaded a manifest sees a consistent snapshot even while a
publish is in flight; replaced files stay on disk until
``vacuum_silver`` passes their grace period.

One class owns this layout and the manifest format: ``_SilverStore``, a
snapshot of one committed manifest.  Every trigger, maintenance op and
reader goes through it — manifest reads, the live files per layout, the
touched-bucket collect, the FINAL read, the bucket and delta publishes,
the fold, metadata edits, legacy flat-store migration and vacuum's live
set — and tests/test_silver_store_guard.py keeps manifest access out of
every other function.

Writer contract: ONE writer per store — the streaming sink plus its
background fold, in one process (run ``compact_silver`` only while the
stream is stopped; like every maintenance op it first waits for the
fold).  Every write goes through the store's one commit path, whose two
guards turn a violated assumption into a loud
:class:`ManifestCommitError` instead of silent row loss: an exclusive
per-epoch claim file taken before any file I/O, and a conditional
(compare-and-swap on version) manifest commit.
The commit contract lives behind :class:`CommitBackend`
(streaming/commit.py): local-FS impl today; an object-store port
implements the same two primitives as conditional puts (S3
``If-Match``/ETag + ``If-None-Match: *``, GCS generation preconditions)
— no lock objects — and the fault-injection suite
(tests/test_commit_backends.py) already proves the race behavior holds
under exactly those semantics via the in-memory conditional-put fake.
Alternatively use Delta/Iceberg, whose MERGE this layout deliberately
mirrors.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators._pipe import _fits_one_task
from ..operators.upsert import DELETED_FLAG, merge_touched


def _start(writer, available_now: bool,
           processing_interval_ms: int | None = None) -> StreamingQuery:
    """Start a sink's ``writer`` under its trigger: ``available_now``
    drains what is there and stops; else a processing interval polls;
    else Spark's default trigger."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_interval_ms is not None:
        writer = writer.trigger(processingTime=f"{processing_interval_ms} milliseconds")
    return writer.start()


def bronze_append_stream(
    records: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    available_now: bool = False,
    processing_interval_ms: int | None = None,
) -> StreamingQuery:
    """S7 — durable raw archive: append-mode parquet sink with Kafka lineage
    + ingestion_time (init_clickhouse_raw_tables.sql:28-37).  Exactly-once
    to the file sink via the checkpoint (T1).  ``processing_interval_ms``
    is the Debezium ``poll.interval.ms`` analogue (a processingTime
    trigger); ignored under ``available_now``."""
    bronze = records.withColumn("ingestion_time", F.current_timestamp())
    writer = (
        bronze.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _start(writer, available_now, processing_interval_ms)


from .commit import (  # noqa: E402  (re-exported: the store's public commit API)
    EPOCH_CLAIM_STALE_S,
    MANIFEST,
    CommitBackend,
    InMemoryConditionalPutBackend,
    LocalFSCommitBackend,
    ManifestCommitError,
)

#: default number of hash buckets for a new silver store.  A fold's
#: write I/O is O(touched buckets); at 100 TB raise this so a single
#: bucket stays executor-sized (the value is recorded in the manifest at
#: store creation, so readers/writers never depend on the default).
DEFAULT_SILVER_BUCKETS = 64

#: The active commit backend (manifest + epoch-claim control plane).
#: LocalFS by default; swap for :class:`InMemoryConditionalPutBackend`
#: (tests) or an S3/GCS conditional-put impl (deployment).  Resolved at
#: call time, by the two wrappers below and by :class:`_SilverStore`.
COMMIT_BACKEND: CommitBackend = LocalFSCommitBackend()


def _read_manifest(path: str) -> dict | None:
    return COMMIT_BACKEND.read_manifest(path)


def _write_manifest(path: str, manifest: dict, expected_version: int | None = None) -> None:
    COMMIT_BACKEND.commit_manifest(path, manifest, expected_version)
    _SilverStore.keep_history(path, manifest)


#: immutable per-version manifest copies for time travel live here.
HISTORY_DIR = "_history"


def silver_versions(path: str) -> list[int]:
    """Committed manifest versions available for time travel (history
    copies plus the current manifest), ascending."""
    versions: set[int] = set()
    hdir = os.path.join(path, HISTORY_DIR)
    if os.path.isdir(hdir):
        for f in os.listdir(hdir):
            if f.startswith("_manifest.v") and f.endswith(".json"):
                try:
                    versions.add(int(f[len("_manifest.v"):-len(".json")]))
                except ValueError:
                    continue
    cur = _SilverStore.load(path)
    if cur is not None:
        versions.add(cur.version)
    return sorted(versions)


def _bucket_expr(keys: list[str], n_buckets: int):
    return F.pmod(F.hash(*keys), F.lit(n_buckets))


#: manifest flag: ``schema`` is the UNION of every live file's schema
#: (manifests written before it record only the last publish's frame).
SCHEMA_UNION = "schema_union"

#: manifest keys of the merge-on-read layout: ``deltas`` lists the delta
#: files (one per trigger since the last fold, oldest first), and
#: ``delta_spec`` the keys and version/tiebreak/op columns they merge by
DELTAS = "deltas"
DELTA_SPEC = "delta_spec"


def _merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """``old``'s fields in order, nested structs merged, then ``new``'s
    fields ``old`` lacks — the additive union ``mergeSchema`` computes
    from footers.  On a non-struct type clash ``new`` wins."""
    fields = {f.name: f for f in new.fields}
    out = []
    for f in old.fields:
        g = fields.pop(f.name, None)
        if g is None:
            out.append(f)
        elif isinstance(f.dataType, T.StructType) and isinstance(g.dataType, T.StructType):
            out.append(T.StructField(
                f.name, _merge_schemas(f.dataType, g.dataType), f.nullable or g.nullable
            ))
        else:
            out.append(T.StructField(g.name, g.dataType, f.nullable or g.nullable))
    return T.StructType(out + list(fields.values()))


#: merge-on-read fold cadence of the keyed upsert sinks: a trigger folds
#: when the manifest already holds FOLD_DELTAS deltas, or when the delta
#: files' bytes reach FOLD_BYTES_FRACTION of the base files' bytes (which
#: bounds the extra rows every read merges)
FOLD_DELTAS = 8
FOLD_BYTES_FRACTION = 0.25


class _SilverStore:
    """One committed snapshot of a silver store, and the only code that
    knows the manifest format and the file layout (module docstring).

    A snapshot is one manifest version.  Every commit through it — a
    bucket publish, a delta, an inline fold, a fold plan, a metadata edit
    — is version + 1 through the one commit path (:meth:`_claim`, then
    :meth:`_commit` with a CAS on the snapshot's version), so a writer
    whose snapshot went stale fails loudly instead of overwriting the
    newer version.  A background fold's first step
    (:meth:`fold_prepare`) writes under a claim of its own and commits
    nothing."""

    def __init__(self, path: str, manifest: dict, legacy: list[str] | None = None):
        self.path, self.manifest = path, manifest
        #: a pre-manifest flat store's parquet files: this snapshot's
        #: rows, removed once its first publish commits
        self.legacy = legacy or []

    # -- opening a snapshot ----------------------------------------------

    @classmethod
    def load(cls, path: str) -> _SilverStore | None:
        """The current snapshot, or None when ``path`` has no manifest."""
        manifest = _read_manifest(path)
        return None if manifest is None else cls(path, manifest)

    @classmethod
    def load_or_new(cls, path: str, n_buckets: int, migrate: bool = False) -> _SilverStore:
        """The current snapshot, or an empty version 0 of ``n_buckets``
        buckets when there is none."""
        return cls.load(path) or cls._new(path, n_buckets, migrate)

    @classmethod
    def _new(cls, path: str, n_buckets: int, migrate: bool) -> _SilverStore:
        """An empty version 0.  A pre-manifest flat store (plain
        ``*.parquet`` under ``path``) is adopted when ``migrate`` — its
        rows become the snapshot's rows — and refused otherwise: a first
        manifest committed over unmigrated flat files would hide their
        rows from every reader forever."""
        legacy = [
            f for f in (os.listdir(path) if os.path.isdir(path) else [])
            if f.endswith(".parquet") and os.path.isfile(os.path.join(path, f))
        ]
        if legacy and not migrate:
            raise ValueError(
                f"pre-manifest flat store at {path}: this sink cannot migrate "
                "it; run silver_upsert_stream or compact_silver once to "
                "convert it to the bucketed manifest layout"
            )
        return cls(path, {"version": 0, "n_buckets": n_buckets, "files": []}, legacy)

    @classmethod
    def open(cls, path: str, spark: SparkSession | None = None, fold_first: bool = False,
             migrate: bool = False) -> _SilverStore:
        """The current snapshot of an existing store; raises
        FileNotFoundError when there is none.  ``fold_first`` first waits
        for the store's background fold, then folds the deltas (a commit
        or two of its own) and returns the snapshot after it: every writer
        other than the upsert trigger rewrites base buckets, and a delta
        left on top would override what it decided.
        ``migrate`` opens a pre-manifest flat store (see :meth:`_new`)."""
        store = cls.load(path)
        if store is None:
            store = cls._new(path, DEFAULT_SILVER_BUCKETS, migrate=True)
            if not (migrate and store.legacy):
                raise FileNotFoundError(f"no silver store at {path}")
        elif fold_first:
            # wait out a background fold, commit its plan when it still
            # applies, and fold what is left here
            plan = _folder(path).settle()
            if plan is not None and store.fold_commit(plan):
                store = cls.load(path)
            if store.deltas:
                store.fold(spark, None, store.manifest[DELTA_SPEC])
                store = cls.load(path)
        return store

    @staticmethod
    def _history_file(path: str, version: int) -> str:
        return os.path.join(path, HISTORY_DIR, f"_manifest.v{version}.json")

    @classmethod
    def as_of(cls, path: str, version: int) -> _SilverStore:
        """The snapshot of committed ``version`` — current if it matches,
        else its history copy; raises with the available versions when
        absent, and when any of the version's data files was already
        vacuumed (a stale snapshot must fail loudly, not return silently
        partial state)."""
        cur = cls.load(path)
        if cur is not None and cur.version == version:
            return cur
        try:
            with open(cls._history_file(path, version)) as fh:
                store = cls(path, json.load(fh))
        except FileNotFoundError:
            raise ValueError(
                f"no manifest for version {version} at {path}; "
                f"available: {silver_versions(path)}"
            ) from None
        files = store.files + store.deltas
        missing = [f for f in files if not os.path.exists(os.path.join(path, f))]
        if missing:
            raise ValueError(
                f"version {version} at {path} was vacuumed: {len(missing)} of "
                f"{len(files)} files gone (first: {missing[0]}); "
                "retain versions with vacuum_silver(retain_versions=...)"
            )
        return store

    @classmethod
    def keep_history(cls, path: str, manifest: dict) -> None:
        """Write the immutable ``_history`` copy of a manifest that just
        won its CAS (time travel).  Plain file IO, not the commit backend:
        history is an audit artifact on the data plane, like the parquet
        itself, and must never fail a commit that already won."""
        v = manifest.get("version")
        if v is None:
            return
        try:
            hpath = cls._history_file(path, v)
            os.makedirs(os.path.dirname(hpath), exist_ok=True)
            if not os.path.exists(hpath):  # versions are immutable once written
                tmp = f"{hpath}.tmp-{os.getpid()}"
                with open(tmp, "w") as fh:
                    json.dump(manifest, fh)
                os.replace(tmp, hpath)
        except OSError:
            pass

    # -- what the snapshot holds -----------------------------------------

    @property
    def version(self) -> int:
        return self.manifest["version"]

    @property
    def n_buckets(self) -> int:
        return self.manifest["n_buckets"]

    @property
    def all_buckets(self) -> set[int]:
        return set(range(self.n_buckets))

    @property
    def files(self) -> list[str]:
        return self.manifest["files"]

    @property
    def deltas(self) -> list[str]:
        return self.manifest.get(DELTAS, [])

    @property
    def projections(self) -> dict[str, dict]:
        return self.manifest.get("projections", {})

    @property
    def sort_keys(self) -> list[str]:
        return self.manifest.get("sort_keys", [])

    @property
    def applied(self) -> dict[str, int]:
        """The replay watermarks of the non-idempotent sinks."""
        return self.manifest.get("applied", {})

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest["schema"]))

    @staticmethod
    def _bucket_of(f: str) -> int | None:
        return int(f.split("__bucket=")[1].split("/")[0]) if "__bucket=" in f else None

    def parts(self):
        """``(layout, file, bucket, epoch)`` of every live file: the base
        (``primary``), the deltas (``delta``, no bucket) and each
        projection (``proj:<name>``)."""
        layouts = [("primary", self.files), ("delta", self.deltas)] + [
            (f"proj:{p}", s.get("files", [])) for p, s in self.projections.items()
        ]
        for layout, files in layouts:
            for f in files:
                epoch = int(f.split("__epoch=")[1].split("/")[0])
                yield layout, f, self._bucket_of(f), epoch

    def touched(self, df: DataFrame, keys: list[str]) -> set[int]:
        """The buckets of ``df``'s rows by ``keys``: one distinct collect
        of at most ``n_buckets`` ids."""
        ids = df.select(_bucket_expr(keys, self.n_buckets).alias("b")).distinct().collect()
        return {int(r[0]) for r in ids}

    def in_buckets(self, df: DataFrame, keys: list[str], buckets: set[int]) -> DataFrame:
        return df.filter(_bucket_expr(keys, self.n_buckets).isin(sorted(buckets)))

    # -- reading ---------------------------------------------------------

    def _files_df(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Load ``files`` (store-relative) as one DataFrame.  ``basePath``
        keeps the ``__epoch``/``__bucket`` partition columns derivable.
        Additive schema evolution across epochs (an untouched bucket may
        predate a column the source added, or keep one it dropped) is
        honored by reading with the manifest's union schema: files lacking
        a column read it as NULL, and no footer job runs.  A manifest
        without the union flag (written before it existed) reads through
        ``mergeSchema``, which opens every footer.  No files (e.g.
        compaction GC'd every row) reconstructs an empty frame from the
        recorded schema."""
        if not files:
            return spark.createDataFrame([], self.schema)
        reader = spark.read.option("basePath", self.path)
        if self.manifest.get(SCHEMA_UNION):
            reader = reader.schema(self.schema)
        else:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[os.path.join(self.path, f) for f in files]).drop(
            "__epoch", "__bucket"
        )

    def base(self, spark: SparkSession, buckets: set[int]) -> DataFrame | None:
        """The base rows of ``buckets`` (a flat store's every row), or None
        when they hold no file."""
        if self.legacy:
            # explicit file list, not the directory: a crashed earlier
            # migration may have left an __epoch dir next to the flat
            # files, and a whole-dir read would fail on the conflicting
            # partition structures
            return spark.read.parquet(*[os.path.join(self.path, f) for f in self.legacy])
        files = [f for f in self.files if self._bucket_of(f) in buckets]
        return self._files_df(spark, files) if files else None

    def _delta_rows(self, spark: SparkSession) -> DataFrame:
        """The delta rows as batch events: the stored flag is dropped, so a
        merge re-derives it from ``op`` exactly as it does for a
        trigger's batch."""
        return self._files_df(spark, self.deltas).drop(DELETED_FLAG)

    def read(self, spark: SparkSession) -> DataFrame:
        """The FINAL view: the base files, and when the snapshot holds
        deltas, :func:`merge_touched` of the delta rows over the base rows
        — the fold's own merge, so winners, tie-breaks and the stored
        ``__deleted`` rule are the eager path's by construction."""
        if self.legacy:
            return self.base(spark, self.all_buckets)
        base = self._files_df(spark, self.files)
        if not self.deltas:
            return base
        spec = self.manifest[DELTA_SPEC]
        return merge_touched(
            self._delta_rows(spark), base, spec["keys"],
            spec["version_col"], spec["tiebreak_col"], spec["op_col"],
        ).select(*base.columns)

    def read_projection(self, spark: SparkSession, name: str) -> DataFrame:
        pspec = self.projections.get(name)
        if pspec is None:
            raise ValueError(f"no projection {name!r} at {self.path}")
        return self._files_df(spark, pspec["files"])

    # -- the one commit path ---------------------------------------------

    @contextmanager
    def _claim(self, epoch: int | None = None):
        """Hold the claim on ``epoch`` — by default ``version + 1``, the
        next commit's; a fold's is ``-version`` (:meth:`fold_prepare`) —
        and yield its directory, empty.  Two guards make a concurrent
        writer fail LOUDLY instead of losing data: this claim (taken
        before any file I/O — the leftover ``rmtree`` below may only run
        while holding it) and the CAS of :meth:`_commit`.  The store is
        still single-writer — one streaming sink and its folder,
        maintenance only while it is stopped — and these guards turn a
        violated assumption into an error."""
        epoch = self.version + 1 if epoch is None else epoch
        epoch_dir = os.path.join(self.path, f"__epoch={epoch}")
        claim = COMMIT_BACKEND.claim_epoch(self.path, epoch, EPOCH_CLAIM_STALE_S)
        try:
            # Re-verify AFTER claiming and BEFORE any file I/O: a writer
            # holding a STALE snapshot (another commit landed since it
            # read) would otherwise treat the committed epoch v+1 as crash
            # leftovers and rmtree the winner's live files.  Loud failure
            # here, while the store is still untouched.
            cur = _read_manifest(self.path)
            cur_version = cur["version"] if cur is not None else 0
            if cur_version != self.version:
                raise ManifestCommitError(
                    f"concurrent publish at {self.path}: store is at version "
                    f"{cur_version}, expected {self.version}"
                )
            # Crash recovery: epoch v+1 is by definition UNCOMMITTED (the
            # manifest holds v), so anything already under its dir is
            # leftovers of a publish that died between the file write and
            # the manifest swap; so is fold epoch -v (a plan of snapshot v
            # can only commit at a later version).  A replayed batch must
            # not commit those alongside its own files — that would
            # silently duplicate every row in the touched buckets.  Safe
            # only under the claim + the version recheck: a LIVE concurrent
            # writer can't be mid-write here (it would have failed the
            # claim), and a committed epoch can't be mistaken for leftovers
            # (the recheck would have failed).
            if os.path.isdir(epoch_dir):
                shutil.rmtree(epoch_dir)
            yield epoch_dir
        finally:
            COMMIT_BACKEND.release_claim(claim)

    def _commit(self, manifest: dict) -> int:
        """CAS ``manifest`` in as version + 1 (call under :meth:`_claim`);
        a flat store's files are superseded by this first commit.  Returns
        the new version."""
        _write_manifest(self.path, {**manifest, "version": self.version + 1},
                        expected_version=self.version)
        for f in self.legacy:
            os.remove(os.path.join(self.path, f))
        return self.version + 1

    def edit(self, changes: dict) -> int:
        """Commit a metadata-only change as the next version (no data file
        is written), so a writer holding the pre-edit snapshot fails its
        commit instead of overwriting the edit."""
        with self._claim():
            return self._commit({**self.manifest, **changes})

    def with_projection(self, name: str, proj_keys: list[str] | None = None) -> dict:
        """The manifest change that adds projection ``name`` sorted by
        ``proj_keys`` (its files written by the publish that commits it),
        or, without keys, drops it."""
        projections = dict(self.projections)
        if proj_keys is None:
            projections.pop(name, None)
        else:
            projections[name] = {"keys": list(proj_keys), "files": []}
        return {"projections": projections}

    def _write_options(self) -> dict[str, str]:
        """CH-style per-column BLOOM FILTERS (r10): declared once via
        set_bloom_filters, honored by EVERY publisher (upserts, deltas,
        mutations, TTL, compaction, projections) — parquet-mr writes a
        split-block bloom per column chunk, and Spark's reader prunes row
        groups on equality predicates against it.  The point-lookup
        accelerator for columns the sort order can NOT serve (the
        bloom_filter index type of clickhouse MergeTree skip indexes)."""
        opts = {}
        for c, ndv in self.manifest.get("bloom_cols", {}).items():
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(ndv)
        return opts

    def publish(self, df: DataFrame, keys: list[str], replaced: set[int],
                edits: dict | None = None) -> int:
        """Rewrite the ``replaced`` buckets from ``df`` as the next
        version.  Each layout — the main one sorted by ``keys``, each
        projection (ClickHouse's per-part PROJECTIONS) by its own keys —
        gets one key-sorted file per bucket (the O1 sparse-index layout
        within a bucket) under a new ``__epoch`` dir; the new manifest
        keeps every other bucket's files, with the union schema of every
        live file.  ``edits`` (a new width, a new projection, replay
        watermarks, cleared deltas) apply to the manifest first; every
        other sink-specific field carries forward.

        A store holding deltas may only be republished by the fold, which
        clears them in the same commit: a bucket rewrite that carried them
        forward would let a delta row override what the rewrite decided
        (a mutation's tombstone, say).  Returns the new version."""
        m = {**self.manifest, **(edits or {})}
        if m.get(DELTAS):
            raise RuntimeError(
                f"{self.path} holds {len(m[DELTAS])} unfolded delta files; "
                "fold them (open(fold_first=True)) before republishing buckets"
            )
        epoch, n_buckets = self.version + 1, m["n_buckets"]
        projections = m.get("projections", {})
        layouts = {"": (keys, m["files"])}
        layouts.update({f"__proj_{p}/": (s["keys"], s.get("files", []))
                        for p, s in projections.items()})
        width = _core_width(df, len(replaced))
        files = {}
        with self._claim():
            if projections:
                # every layout's write re-evaluates df's plan — pin it once
                df.persist()
            try:
                for prefix, (sort, old) in layouts.items():
                    rel = f"{prefix}__epoch={epoch}"
                    if os.path.isdir(os.path.join(self.path, rel)):
                        shutil.rmtree(os.path.join(self.path, rel))  # crash leftovers, the claim's rule
                    bucketed = df.withColumn("__bucket", _bucket_expr(keys, n_buckets))
                    written = self._write_buckets(
                        bucketed.repartition(width, "__bucket"), sort, rel)
                    files[prefix] = [f for f in old if self._bucket_of(f) not in replaced] + written
                kept = [f for f in m["files"] if self._bucket_of(f) not in replaced]
                return self._commit({
                    **m,
                    "files": files[""],
                    "schema": self._union_schema(kept, df).json(),
                    SCHEMA_UNION: True,
                    "sort_keys": list(keys),  # r10: primary in-bucket order, for projection routing
                    **({"projections": {p: {**s, "files": files[f"__proj_{p}/"]}
                                        for p, s in projections.items()}}
                       if projections else {}),
                })
            finally:
                if projections:
                    df.unpersist()

    def _write_buckets(self, bucketed: DataFrame, sort: list[str], rel: str) -> list[str]:
        """Write ``bucketed`` — a ``__bucket`` column, each bucket in ONE
        partition — into the store-relative dir ``rel`` as one file per
        bucket sorted by ``sort``; returns the files, store-relative.

        Partitioned by __bucket ONLY, written INTO the epoch dir (r9): with
        __epoch as a partition column its sort key is a foldable literal
        that ConstantFolding strips from our sort, so the writer added its
        own unstable (epoch, bucket) sort and destroyed the in-bucket key
        order.  Our (__bucket, keys) sort satisfies the writer's
        requirement by prefix: the order is contractual."""
        edir = os.path.join(self.path, rel)
        (bucketed.sortWithinPartitions("__bucket", *sort)
         .write.mode("append").options(**self._write_options())
         .partitionBy("__bucket").parquet(edir))
        return [
            f"{rel}/{b}/{f}"
            for b in (sorted(os.listdir(edir)) if os.path.isdir(edir) else [])
            if b.startswith("__bucket=") and os.path.isdir(os.path.join(edir, b))
            for f in sorted(os.listdir(os.path.join(edir, b)))
            if f.endswith(".parquet")
        ]

    def _union_schema(self, kept: list[str], df: DataFrame) -> T.StructType:
        """Union schema of the files the next version keeps plus ``df``.  A
        manifest without the union flag is upgraded once, from the kept
        files' footers."""
        if not kept:
            return df.schema
        if self.manifest.get(SCHEMA_UNION):
            prev = self.schema
        else:
            prev = self._files_df(df.sparkSession, kept).schema
        return _merge_schemas(prev, df.schema)

    # -- merge-on-read ---------------------------------------------------

    def publish_delta(self, rows: DataFrame, spec: dict,
                      plan: _FoldPlan | None = None) -> _SilverStore | None:
        """Commit ``rows`` — one trigger's batch as it arrived, any number
        of events per key — as ONE key-sorted delta file: the new manifest
        keeps every base file and appends the delta.  The batch needs no
        aggregate of its own: readers and the fold run latest-wins over
        the delta rows as events (:meth:`_delta_rows`), and a max over a
        superset of a key's events picks the same winner.  A column the
        store already holds keeps its stored type (the batch is cast to
        it), so a delta never narrows the schema readers apply to the
        base.  ``plan``, a finished background fold, rides in the same
        commit when it still applies (:meth:`_folded`).  Returns the
        committed snapshot, or None — committing nothing — when ``rows``
        is empty."""
        import pyarrow.parquet as pq

        stored = {f.name: f.dataType for f in self.schema.fields}
        rows = rows.withColumns({
            f.name: rows[f.name].cast(stored[f.name]) for f in rows.schema.fields
            if f.name in stored and stored[f.name] != f.dataType
            and not isinstance(f.dataType, T.StructType)
        })
        # a small batch is one task end to end — scan, sort, write, no
        # exchange; a large one (a snapshot, a backfill) still parses at
        # scan width before the one writing task
        one = rows.coalesce(1) if _fits_one_task(rows) else rows.repartition(1)
        with self._claim() as epoch_dir:
            one.sortWithinPartitions(*spec["keys"]).write.options(
                **self._write_options()
            ).parquet(epoch_dir)
            names = sorted(
                f for f in (os.listdir(epoch_dir) if os.path.isdir(epoch_dir) else [])
                if f.endswith(".parquet")
                and pq.read_metadata(os.path.join(epoch_dir, f)).num_rows
            )
            if not names:
                shutil.rmtree(epoch_dir, ignore_errors=True)
                return None
            base = (self._folded(plan) if plan is not None else None) or self
            manifest = {
                **base.manifest,
                DELTAS: base.deltas + [f"__epoch={self.version + 1}/{f}" for f in names],
                DELTA_SPEC: spec,
                "schema": _merge_schemas(base.schema, rows.schema).json(),
            }
            return _SilverStore(self.path, {**manifest, "version": self._commit(manifest)})

    def must_fold(self, spec: dict) -> bool:
        """Whether the next keyed upsert trigger must fold inline, as its
        one commit, instead of appending a delta.  Decided from the
        manifest — no Spark job.  An empty, flat (pre-manifest) or
        pre-union-schema store always folds, so does one with projections
        (their files stay exact), one whose deltas were written under
        different merge columns, and one holding ``3 × FOLD_DELTAS``
        deltas (its background fold fell behind)."""
        if not self.manifest.get(SCHEMA_UNION) or self.projections:
            return True
        if not (self.files or self.deltas) or len(self.deltas) >= 3 * FOLD_DELTAS:
            return True
        return bool(self.deltas) and self.manifest[DELTA_SPEC] != spec

    def fold_due(self) -> bool:
        """Whether the deltas are due a background fold: FOLD_DELTAS of
        them, or their bytes reach FOLD_BYTES_FRACTION of the base files'
        bytes (which bounds the extra rows every read merges).  Driver-side
        file sizes — no Spark job."""
        if not self.deltas:
            return False
        if len(self.deltas) >= FOLD_DELTAS:
            return True

        def size(files):
            return sum(os.path.getsize(os.path.join(self.path, f)) for f in files)

        return size(self.deltas) >= FOLD_BYTES_FRACTION * size(self.files)

    def fold(self, spark: SparkSession, events: DataFrame | None, spec: dict) -> None:
        """The inline FOLD: :func:`_touched_bucket_merge` with ``events`` ∪
        the delta rows as the events, republishing the buckets they touch
        at core width and clearing the deltas in the SAME commit."""
        if self.deltas:
            deltas = self._delta_rows(spark)
            events = deltas if events is None else events.unionByName(
                deltas, allowMissingColumns=True
            )
        keys = spec["keys"]
        _touched_bucket_merge(
            events, self, keys,
            prepare=lambda b: b,
            merge_fn=lambda current, prepared: merge_touched(
                prepared, current, keys, spec["version_col"], spec["tiebreak_col"],
                spec["op_col"],
            ),
            edits={DELTAS: []},
        )

    def fold_prepare(self, spark: SparkSession) -> _FoldPlan | None:
        """The background fold's first step, which commits nothing: merge
        base ∪ this snapshot's deltas over the buckets the deltas touch,
        and write those buckets' files under fold epoch ``-version``.
        That claim namespace is the fold's own, so a fold in flight never
        holds the epoch of the next commit.  Under :func:`_fits_one_task`
        the merge, sort and write run in one task, which leaves the other
        cores to triggers and reads; above it, at core width.  Vacuum
        leaves the output alone until the plan is spent.  None when there
        is nothing to fold."""
        if not self.deltas:
            return None
        spec = self.manifest[DELTA_SPEC]
        keys = spec["keys"]
        outputs = _folder(self.path).outputs
        with self._claim(-self.version) as edir:
            rel = os.path.basename(edir)
            outputs.add(rel)
            try:
                events = self._delta_rows(spark)
                buckets = self.touched(events, keys)
                merged = merge_touched(
                    events, self.base(spark, buckets), keys, spec["version_col"],
                    spec["tiebreak_col"], spec["op_col"],
                )
                bucketed = merged.withColumn("__bucket", _bucket_expr(keys, self.n_buckets))
                if _fits_one_task(merged):
                    bucketed = bucketed.coalesce(1)
                else:
                    bucketed = bucketed.repartition(_core_width(merged, len(buckets)), "__bucket")
                written = self._write_buckets(bucketed, keys, rel)
            except BaseException:
                outputs.discard(rel)
                raise
        return _FoldPlan(
            rel=rel, n_buckets=self.n_buckets, keys=list(keys), deltas=list(self.deltas),
            buckets=buckets, written=written, schema=merged.schema,
            replaced=[f for f in self.files if self._bucket_of(f) in buckets],
        )

    def _folded(self, plan: _FoldPlan) -> _SilverStore | None:
        """This snapshot with ``plan`` applied, uncommitted: the plan's
        buckets take its files and its deltas leave the front of the delta
        list, while every other manifest field — replay watermarks,
        schema, bloom columns, later deltas — is this snapshot's.  None
        when the store moved under the plan: another width or a
        projection, other files in its buckets, deltas[0:k] not the ones
        it folded, or a file of it gone."""
        k = len(plan.deltas)
        if (self.n_buckets != plan.n_buckets or self.projections
                or self.deltas[:k] != plan.deltas
                or [f for f in self.files if self._bucket_of(f) in plan.buckets] != plan.replaced
                or not all(os.path.exists(os.path.join(self.path, f)) for f in plan.written)):
            return None
        return _SilverStore(self.path, {
            **self.manifest,
            "files": [f for f in self.files if self._bucket_of(f) not in plan.buckets]
            + plan.written,
            DELTAS: self.deltas[k:],
            "schema": _merge_schemas(self.schema, plan.schema).json(),
            "sort_keys": plan.keys,
        })

    def fold_commit(self, plan: _FoldPlan) -> bool:
        """The background fold's second step as a commit of its own
        (``open(fold_first=True)``; a running sink carries the plan in its
        next delta commit instead): commit this snapshot with ``plan``
        applied (:meth:`_folded`) as the next version.  Returns False,
        committing nothing, when the plan no longer applies; its files
        are then garbage for vacuum.  Either way the plan is spent."""
        try:
            folded = self._folded(plan)
            if folded is None:
                return False
            self.edit(folded.manifest)
            return True
        finally:
            _folder(self.path).outputs.discard(plan.rel)


@dataclass
class _FoldPlan:
    """A prepared background fold (:meth:`_SilverStore.fold_prepare`):
    the deltas it folded, the bucket files it replaces and the files it
    wrote under its fold epoch dir ``rel``."""

    rel: str
    n_buckets: int
    keys: list[str]
    deltas: list[str]
    buckets: set[int]
    replaced: list[str]
    written: list[str]
    schema: T.StructType


class _Folder:
    """The background fold of one store in this process (:func:`_folder`).
    At most one fold is in flight per store, on a daemon thread that is
    alive only while it runs :meth:`_SilverStore.fold_prepare`; the plan
    it leaves waits for the next commit to spend it.  The fold never
    commits by itself, so it cannot race the sink's commit.  ``outputs``
    names the fold epoch dirs being written or held by an unspent plan —
    vacuum skips them — and ``vacuum_seen`` the last version the vacuum
    cadence checked."""

    def __init__(self) -> None:
        self._mu = threading.Lock()
        self._thread: threading.Thread | None = None
        self.plan: _FoldPlan | None = None
        #: the last fold's failure (None after a fold that succeeds); the
        #: deltas stay readable and the next due trigger folds again
        self.error: Exception | None = None
        self.outputs: set[str] = set()
        self.vacuum_seen: int | None = None

    def start(self, store: _SilverStore, spark: SparkSession) -> None:
        """Fold ``store``'s deltas in the background, unless a fold is in
        flight or its plan is not spent yet."""
        with self._mu:
            if self.plan is not None or (self._thread is not None and self._thread.is_alive()):
                return
            self._thread = threading.Thread(
                target=self._run, args=(store, spark), daemon=True,
                name=f"silver-fold {store.path}",
            )
            self._thread.start()

    def _run(self, store: _SilverStore, spark: SparkSession) -> None:
        try:
            plan = store.fold_prepare(spark)
        except Exception as e:  # the thread's boundary: keep the sink running
            self.error = e
            warnings.warn(f"background fold of {store.path} failed, its deltas stay "
                          f"and the next due trigger folds again: {e!r}", RuntimeWarning)
            return
        with self._mu:
            self.plan, self.error = plan, None

    def wait(self, timeout_s: float | None = None) -> bool:
        """Wait for the in-flight fold; True when none is left running."""
        t = self._thread
        if t is not None:
            t.join(timeout_s)
        return t is None or not t.is_alive()

    def settle(self) -> _FoldPlan | None:
        """Wait for the in-flight fold and take its unspent plan."""
        self.wait()
        with self._mu:
            plan, self.plan = self.plan, None
        return plan

    def spent(self, plan: _FoldPlan | None) -> None:
        """``plan`` went into a commit, applied or found stale."""
        if plan is None:
            return
        with self._mu:
            if self.plan is plan:
                self.plan = None
        self.outputs.discard(plan.rel)


_FOLDERS: dict[str, _Folder] = {}
_FOLDERS_MU = threading.Lock()


def _folder(path: str) -> _Folder:
    """The :class:`_Folder` of the store at ``path``."""
    with _FOLDERS_MU:
        return _FOLDERS.setdefault(os.path.abspath(path), _Folder())


def _core_width(df: DataFrame, n_buckets: int) -> int:
    """Write width of ``n_buckets`` buckets: EXPLICIT, because a bare
    repartition(col) starts at AQE's initialPartitionNum (2048) and AQE
    never coalesces user repartitions.  Hashing on __bucket puts each
    bucket in exactly one task (one key-sorted file per bucket at any
    width); at most core width, because a small publish touches few
    buckets and more tasks are pure overhead."""
    return max(1, min(n_buckets, df.sparkSession.sparkContext.defaultParallelism))


def _touched_bucket_merge(
    batch: DataFrame,
    store: _SilverStore,
    keys: list[str],
    prepare,
    merge_fn,
    edits: dict | None = None,
) -> None:
    """The eager touched-bucket merge: every summing/collapsing-sink
    trigger, and the keyed upsert sinks' inline FOLD (see
    :func:`_cdc_upsert`).
    Compute the batch's touched buckets from ``prepare(batch)``, load ONLY
    those buckets' base files of ``store``, delegate the merge to
    ``merge_fn(current_or_None, prepared)``, publish it, and run vacuum on
    a cadence.  A flat store adopted by ``store`` is read whole and
    published bucketed once."""
    spark = batch.sparkSession
    # the batch feeds several actions (touched-bucket collect + the merge
    # itself) — evaluate the source once; the try spans every action so a
    # failing merge can't leak the cached frames
    batch.persist()
    try:
        prepared = prepare(batch)
        if prepared is not batch:
            prepared.persist()
        try:
            touched = store.touched(prepared, keys)
            if store.legacy:
                touched = store.all_buckets  # full one-time bucketed publish
            elif not touched:
                return  # empty batch: nothing to publish
            store.publish(merge_fn(store.base(spark, touched), prepared), keys,
                          touched, edits)
        finally:
            if prepared is not batch:
                prepared.unpersist()
    finally:
        batch.unpersist()
    _vacuum_on_cadence(store.path, store.version + 1)


def _vacuum_on_cadence(path: str, version: int, every: int = 16) -> None:
    """Vacuum once every ``every`` versions: vacuum walks the store tree
    (O(files), not O(touched)), so running it on a cadence, not per
    trigger, keeps steady-state trigger cost bounded by what the trigger
    writes; grace still protects readers.  Every commit counts, not only
    the caller's: the cadence fires when the versions since its last check
    passed a multiple of ``every``, so a commit by another writer that
    lands on the multiple does not skip a round."""
    folder = _folder(path)
    seen, folder.vacuum_seen = folder.vacuum_seen, version
    if seen is None or seen >= version:
        seen = version - 1
    if version // every > seen // every:
        vacuum_silver(path)


def _cdc_upsert(batch: DataFrame, path: str, keys: list[str], n_buckets: int,
                version_col: str, tiebreak_col: str | None, op_col: str = "op",
                legacy_mode: str = "migrate") -> None:
    """One trigger of a keyed upsert sink, merge-on-read: the batch as it
    arrived becomes ONE delta file and ONE manifest commit — no aggregate,
    no touched-bucket collect, no read of current rows.  Readers apply
    FINAL over base ∪ deltas (:meth:`_SilverStore.read`).

    Merges leave the trigger.  Once the deltas are
    :meth:`_SilverStore.fold_due`, the trigger hands them to the store's
    background fold (:class:`_Folder`); the plan it prepares rides in a
    later trigger's delta commit, so every trigger stays exactly one
    commit.  The trigger folds inline — the touched-bucket merge of
    batch ∪ deltas, as its one commit — only when it must
    (:meth:`_SilverStore.must_fold`), after waiting out a fold in flight.
    ``legacy_mode`` other than ``"migrate"`` refuses a pre-manifest flat
    store."""
    spec = {"keys": list(keys), "version_col": version_col,
            "tiebreak_col": tiebreak_col, "op_col": op_col}
    spark = batch.sparkSession
    folder = _folder(path)
    store = _SilverStore.load_or_new(path, n_buckets, migrate=legacy_mode == "migrate")
    if store.must_fold(spec):
        folder.spent(folder.settle())  # the inline fold supersedes its plan
        store.fold(spark, batch, spec)
        return
    plan = folder.plan
    committed = store.publish_delta(batch, spec, plan)
    if committed is None:
        return
    folder.spent(plan)
    if committed.fold_due():
        folder.start(committed, spark)
    _vacuum_on_cadence(path, committed.version)


#: marker file under the store's ``_signals/`` dir while an ad-hoc
#: BLOCKING snapshot holds the store (Debezium ``execute-snapshot`` with
#: ``type: BLOCKING`` — the connector stops streaming, re-reads the
#: table consistently, then resumes).  Stream merges poll it and wait.
BLOCKING_LOCK = "__blocking.lock"


def _blocking_lock_path(path: str) -> str:
    return os.path.join(path, "_signals", BLOCKING_LOCK)


def merges_blocked(path: str) -> bool:
    """True while a blocking snapshot holds the store at ``path``."""
    return os.path.exists(_blocking_lock_path(path))


def wait_until_unblocked(
    path: str, timeout_s: float = 300.0, poll_s: float = 0.1
) -> None:
    """Suspend the caller (a stream's per-batch merge) until no blocking
    snapshot holds the store — Debezium's streaming pause during an
    ad-hoc blocking snapshot.  The wait is driver-side and costs nothing
    on the cluster (no Spark job is launched until it returns); raises
    TimeoutError rather than silently interleaving a merge into a
    snapshot that promised consistency."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while merges_blocked(path):
        if _time.monotonic() > deadline:
            raise TimeoutError(
                f"blocking snapshot still holds {path} after {timeout_s}s"
            )
        _time.sleep(poll_s)


def silver_upsert_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    version_col: str = "ts_ms",
    tiebreak_col: str | None = "offset",
    available_now: bool = False,
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    processing_interval_ms: int | None = None,
) -> StreamingQuery:
    """S8 — the ReplacingMergeTree-equivalent keyed upsert sink: per
    micro-batch, add the batch to the silver store with latest-wins
    semantics.  The store is merge-on-read: a trigger appends the batch
    as one delta file and ``read_silver`` applies FINAL, so readers must
    go through ``read_silver`` (or the other store readers) rather than
    the files.

    The store ALWAYS retains tombstones (``__deleted`` rows) internally:
    physically dropping a delete would lose its version, so an older
    version of the same key arriving in a LATER micro-batch (cross-batch
    disorder) would resurrect the row.  Read semantics belong to the
    reader: ``read_silver`` filters tombstones by default (init.sql:63
    behavior) and exposes them with ``include_deleted=True``
    (abcsvb-connector-secure.json:33-34).

    Per trigger, the batch's rows become one key-sorted delta file and
    one manifest commit, written by one single-task Spark job.  Once the
    deltas are due (``_SilverStore.fold_due``), a background fold reads,
    merges and re-writes only the hash buckets containing delta keys —
    untouched buckets' files are not opened, written, or moved — and the
    next trigger's commit carries its result (see the store-layout
    contract in the module docstring).  The fold thread outlives
    ``query.stop()`` only until its fold ends; maintenance ops wait for
    it.

    foreachBatch because the merge is keyed state over an external store;
    the merge itself is `operators.upsert.merge_touched` (batch-tested
    logic — streaming is a thin shell, SURVEY §7.3 M4).
    """

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # an ad-hoc BLOCKING snapshot suspends stream merges for its
        # whole duration (Debezium semantics); incremental snapshots
        # never set the lock and interleave freely
        wait_until_unblocked(path)
        _cdc_upsert(batch, path, keys, n_buckets, version_col, tiebreak_col)

    writer = events.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return _start(writer, available_now, processing_interval_ms)


def _txn_trigger(batch: DataFrame, batch_id: int, ppath: str, checkpoint: str,
                 txn_cols: tuple[str, str, str], is_data,
                 release: Callable[[DataFrame], None], n_buckets: int,
                 max_broadcast_keys: int) -> None:
    """One trigger of a transaction-consistent sink: the batch joins the
    pending buckets it touches (deduped on txn id + order); the data rows
    (``is_data``) of COMPLETE transactions go to ``release``, which commits
    them to silver; everything else republishes to pending, last, with the
    ``_replay_guard`` watermark.  ``txn_cols`` = (id, order, total).
    The guard and the pending publish share one pending snapshot."""
    txn_id_col, txn_order_col, txn_total_col = txn_cols
    pending = _SilverStore.load_or_new(ppath, n_buckets)
    keep = _replay_guard(pending, checkpoint, batch_id)
    if keep is None or not batch.take(1):
        return
    batch.persist()
    try:
        tx_buckets = pending.touched(batch, [txn_id_col])
        buffered = pending.base(batch.sparkSession, tx_buckets)
        universe = batch
        if buffered is not None:
            universe = buffered.unionByName(batch, allowMissingColumns=True)
        universe = universe.dropDuplicates([txn_id_col, txn_order_col])
        universe.persist()
        try:
            totals = universe.groupBy(txn_id_col).agg(
                F.sum(F.when(is_data, 1).otherwise(0)).alias("__seen"),
                F.max(txn_total_col).alias("__expect"),
            )
            complete = totals.filter(
                F.col("__expect").isNotNull()
                & (F.col("__seen") == F.col("__expect"))
            ).select(txn_id_col)
            if max_broadcast_keys and complete.count() <= max_broadcast_keys:
                complete = F.broadcast(complete)
            release(universe.filter(is_data).join(complete, txn_id_col))
            pending.publish(
                universe.join(complete, txn_id_col, "left_anti"), [txn_id_col],
                tx_buckets, {"applied": keep},
            )
        finally:
            universe.unpersist()
    finally:
        batch.unpersist()


def silver_txn_upsert_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    version_col: str = "ts_ms",
    tiebreak_col: str | None = None,
    txn_id_col: str = "txn_id",
    txn_order_col: str = "txn_order",
    txn_total_col: str = "txn_total",
    pending_path: str | None = None,
    available_now: bool = False,
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    max_broadcast_keys: int = 1_000_000,
    processing_interval_ms: int | None = None,
) -> StreamingQuery:
    """r10 (verdict item 2, T9) — TRANSACTION-CONSISTENT upsert sink:
    readers of the silver store never see a partially-applied multi-row
    source transaction, no matter how micro-batch boundaries cut the
    stream.  This is the CDC-correctness feature Debezium's
    ``provide.transaction.metadata=true`` exists for
    (abcsvb-connector-secure.json:50): each event carries
    ``transaction {id, total_order, data_collection_order}``
    (value.json:731-754) and the transaction topic's END marker carries
    the event count.

    Contract columns on ``events`` (beyond the upsert sink's):

    - ``txn_id_col``    — source transaction id;
    - ``txn_order_col`` — Debezium ``total_order``: unique within the
      transaction (this is the row identity that makes re-buffering
      idempotent under batch replay);
    - ``txn_total_col`` — the transaction's total DATA-row count.  Either
      stamped on every row, or carried by an END-MARKER row (a row whose
      ``keys`` are all NULL — the transaction-topic END event unioned
      into the stream); rows of a transaction whose total is still
      unknown simply stay buffered.

    Mechanics per trigger, all O(touched buckets):

    1. The batch's rows join the PENDING store (a sibling bucketed
       manifest store keyed by ``txn_id_col`` — a transaction's rows
       co-locate in ONE bucket, so completeness is a per-bucket groupBy,
       never a global pass), deduped on (txn id, order).
    2. A transaction is COMPLETE when its distinct data-row count equals
       its declared total.  Complete transactions' data rows are RELEASED
       through the normal latest-wins merge into the main store; markers
       and released rows leave pending; incomplete rows stay buffered.
    3. Commit order is silver FIRST, pending SECOND, with the replay
       watermark (``_replay_guard``) on the PENDING commit.  Every crash
       window is safe: a replay after both commits is skipped by the
       guard; a crash between the commits re-runs the trigger, where the
       release is idempotent (latest-wins displaces, it never adds) and
       the pending republish is a deterministic recompute.

    Scale: pending state is bounded by in-flight transactions (steady
    state: seconds of source activity); a transaction is never split
    across buckets, so a 1000-executor cluster checks completeness with
    one bucket-local aggregation.  Source-level duplicate delivery of a
    row AFTER its transaction was released re-buffers it forever —
    run ``stream_stateful_dedup`` upstream if the transport is
    at-least-once (Spark's Kafka/file sources with checkpointing are
    exactly-once into foreachBatch, where only whole-batch replays
    happen, which the guard handles).

    ``max_broadcast_keys`` bounds the broadcast of the complete-txn ids;
    it no longer affects the merge into the bucketed store."""
    ppath = pending_path if pending_path is not None else path + "_txn_pending"
    txn_cols = (txn_id_col, txn_order_col, txn_total_col)
    is_data = F.lit(False)
    for k in keys:
        is_data = is_data | F.col(k).isNotNull()

    def _release(released: DataFrame) -> None:
        _cdc_upsert(
            released.drop(*txn_cols), path, keys, n_buckets, version_col,
            tiebreak_col, legacy_mode="error",
        )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        _txn_trigger(batch, batch_id, ppath, checkpoint, txn_cols, is_data,
                     _release, n_buckets, max_broadcast_keys)

    writer = events.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return _start(writer, available_now, processing_interval_ms)


def read_txn_pending(spark: SparkSession, pending_path: str) -> DataFrame:
    """The buffered rows of still-incomplete transactions (raw batch
    schema — ``__deleted`` here is CDC payload, not a store tombstone).
    Observability surface for the txn-consistent sink: alert when a
    transaction has been pending longer than the source's commit
    latency."""
    return _SilverStore.open(pending_path).read(spark)


def silver_txn_multi_upsert_stream(
    events: DataFrame,
    stores: dict[str, dict],
    checkpoint: str,
    pending_path: str,
    table_col: str = "table",
    txn_id_col: str = "txn_id",
    txn_order_col: str = "txn_order",
    txn_total_col: str = "txn_total",
    op_col: str = "op",
    available_now: bool = False,
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    max_broadcast_keys: int = 1_000_000,
    processing_interval_ms: int | None = None,
) -> StreamingQuery:
    """r16 (verdict item 2) — CROSS-TABLE transaction-consistent upsert:
    one Debezium transaction routinely spans captured tables (an order
    header plus its detail rows — the reference's own scenario-2 shape;
    ``transaction.data_collection_order`` is per-collection within one
    txn, value.json:731-754), so atomic visibility must hold across ALL
    the tables' silver stores: a transaction's rows land in every store
    in the same trigger, or in none.

    ``events`` is the MULTIPLEXED change stream (the sparse union schema
    of all captured tables — exactly what ``cdc_multiplex_route``
    produces): ``table_col`` names each data row's collection; the
    transaction-topic END marker is a row with NULL ``table_col``
    carrying ``txn_total_col`` = the transaction's event count across
    ALL collections (Debezium's top-level ``event_count``).
    ``txn_order_col`` is Debezium ``total_order`` — unique across the
    whole transaction, which is what makes re-buffering idempotent.

    ``stores`` maps each collection name to its sink config:
    ``{"path", "keys", "version_col", "tiebreak_col"?, "columns"?}`` —
    ``columns`` (default: keys + version + tiebreak) projects that
    collection's slice out of the sparse union schema before the merge,
    so one table's store never carries another table's NULL columns.

    Mechanics per trigger — the single-store sink's design
    (:func:`silver_txn_upsert_stream`) with the release fanned out:

    1. batch ∪ pending (bucketed by txn id — a transaction co-locates in
       ONE bucket of the ONE shared pending store, so completeness stays
       a bucket-local groupBy even though its rows target many stores),
       deduped on (txn id, order).
    2. A transaction is COMPLETE when its distinct data-row count equals
       the declared total.  Completeness is decided over ALL collections
       BEFORE any store is touched — the all-or-none-across-stores
       invariant is by construction, not by commit protocol.
    3. Complete transactions release per collection into that
       collection's store (latest-wins ``merge_touched``, O(touched
       buckets) each); stores commit in sorted-name order, the shared
       pending store LAST with the ``_replay_guard`` watermark.  Any
       crash window replays the whole trigger; every release is
       idempotent (latest-wins displaces, never adds), so the
       final-state atomicity survives kill-anywhere (staged-replay
       pytest + the oracle queries' hard asserts).

    Scale: identical to the single-store sink — pending is bounded by
    in-flight transactions, completeness never leaves a bucket, each
    store's merge touches only its dirty buckets.  The fan-out adds no
    shuffle class: the per-collection filter rides the already-persisted
    released frame.  ``max_broadcast_keys`` bounds the broadcast of the
    complete-txn ids; it no longer affects the per-store merges."""
    def _release(released: DataFrame) -> None:
        released.persist()
        try:
            unknown = released.filter(
                ~F.col(table_col).isin(*stores.keys())
            ).select(table_col).take(1)
            if unknown:
                raise ValueError(
                    "silver_txn_multi_upsert_stream: released row "
                    f"for collection {unknown[0][0]!r} has no "
                    "configured store — add it to `stores` (silent "
                    "drop would break the all-or-none contract)"
                )
            for tname in sorted(stores):
                cfg = stores[tname]
                keys = cfg["keys"]
                version_col = cfg.get("version_col", "ts_ms")
                tiebreak_col = cfg.get("tiebreak_col")
                cols = cfg.get("columns") or (
                    keys + [version_col]
                    + ([tiebreak_col] if tiebreak_col else [])
                )
                if op_col not in cols:
                    cols = list(cols) + [op_col]
                part = released.filter(F.col(table_col) == tname).select(*cols)
                _cdc_upsert(
                    part, cfg["path"], keys, n_buckets, version_col,
                    tiebreak_col, op_col, legacy_mode="error",
                )
        finally:
            released.unpersist()

    def _merge(batch: DataFrame, batch_id: int) -> None:
        _txn_trigger(batch, batch_id, pending_path, checkpoint,
                     (txn_id_col, txn_order_col, txn_total_col),
                     F.col(table_col).isNotNull(), _release, n_buckets,
                     max_broadcast_keys)

    writer = events.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    return _start(writer, available_now, processing_interval_ms)


#: vacuum keeps at most this many newest history manifests by default —
#: one version is written per publish, so an unbounded history dir grows
#: forever on a long-running stream (ADVICE r7); the Delta
#: ``delta.logRetentionDuration`` analogue, expressed in versions.
HISTORY_RETAIN_DEFAULT = 64


def vacuum_silver(
    path: str,
    grace_s: float = 600.0,
    retain_versions: int = 0,
    retain_history: int = HISTORY_RETAIN_DEFAULT,
) -> int:
    """Delete data files (base, delta or projection) no committed
    manifest references anymore, once older than ``grace_s`` (grace
    covers readers that loaded a previous manifest — their snapshot stays
    intact for at least that long; the Delta ``VACUUM`` analogue).  The
    streaming sink runs it automatically once every 16 versions (it walks
    the store tree — O(files) — so per-trigger would break the trigger's
    bound), keeping a long-running stream's dead files bounded.  The
    epoch dir of a background fold in flight, or of its unspent plan, is
    not swept.  Returns the number of files deleted.

    ``retain_versions`` (r7, time travel): additionally pin the files of
    the newest N HISTORY versions, so ``read_silver(as_of_version=...)``
    keeps working across vacuums for those versions (the Delta
    ``delta.deletedFileRetentionDuration`` analogue, expressed in
    versions).  0 preserves the pre-r7 behavior exactly.

    ``retain_history`` (ADVICE r7): prune ``_history/_manifest.v<N>.json``
    copies beyond the newest N versions (never below ``retain_versions``,
    never the current manifest's version), mirroring Delta's log-retention
    cleanup — a long-running stream writes one history file per trigger,
    and without pruning ``silver_versions``/vacuum pinning become O(total
    versions ever committed).  History prunes are free bookkeeping and
    are NOT counted in the returned data-file total."""
    store = _SilverStore.load(path)
    if store is None:
        return 0
    live = {f for _, f, _, _ in store.parts()}
    if retain_versions > 0:
        for v in silver_versions(path)[-retain_versions:]:
            try:
                live |= {f for _, f, _, _ in _SilverStore.as_of(path, v).parts()}
            except ValueError:
                continue  # already partially vacuumed — nothing left to pin
    cutoff = time.time() - grace_s
    removed = 0
    for entry in list(os.listdir(path)):
        # top-level flat parquet next to a manifest = a legacy migration
        # that crashed after its commit but before its cleanup; manifest
        # files all live under __epoch=, so these are dead by definition
        full = os.path.join(path, entry)
        if (
            entry.endswith(".parquet")
            and os.path.isfile(full)
            and os.path.getmtime(full) <= cutoff
        ):
            os.remove(full)
            removed += 1
    # projection subtrees (__proj_<name>/) are vacuumed by the same rules:
    # their files are manifest-listed (store-root-relative), so dead
    # projection epochs — and the whole subtree of a DROPPED projection —
    # age out with the grace period like any other dead file
    # an in-flight fold's epoch dir (its Spark _temporary tree holds no
    # parquet yet) and an unspent fold plan's files are not dead
    busy = set(_folder(path).outputs)
    sweep_roots = [e for e in os.listdir(path) if e.startswith("__epoch=") and e not in busy]
    for proj_dir in (e for e in os.listdir(path) if e.startswith("__proj_")):
        sweep_roots += [
            os.path.join(proj_dir, e)
            for e in os.listdir(os.path.join(path, proj_dir))
            if e.startswith("__epoch=")
        ]
    for epoch_dir in sweep_roots:
        for root, _dirs, files in os.walk(os.path.join(path, epoch_dir)):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, path)
                if rel in live or not f.endswith(".parquet"):
                    continue
                if os.path.getmtime(full) <= cutoff:
                    os.remove(full)
                    removed += 1
        # prune dirs emptied of data files (ignore _SUCCESS etc. leftovers)
        for root, dirs, files in os.walk(os.path.join(path, epoch_dir), topdown=False):
            if not dirs and not any(f.endswith(".parquet") for f in files):
                shutil.rmtree(root, ignore_errors=True)
    # History-manifest retention (ADVICE r7): drop history copies beyond
    # the newest keep-count.  Versions below the vacuum horizon are
    # unreadable anyway (their files are gone above); keeping their
    # manifests only bloats the listing and the pinning walk.
    if retain_history >= 0:
        keep = max(retain_history, retain_versions)
        versions = silver_versions(path)
        for v in versions[: max(0, len(versions) - keep)]:
            if v == store.version:
                continue
            try:
                os.unlink(_SilverStore._history_file(path, v))
            except FileNotFoundError:
                pass
    return removed


def compact_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
    drop_tombstones_below_version: int | None = None,
    version_col: str = "ts_ms",
    vacuum_grace_s: float = 600.0,
) -> int:
    """The ClickHouse background-merge / ``OPTIMIZE TABLE … FINAL``
    analogue, run on demand: re-publish every bucket as a single
    key-sorted file (restoring the O1 layout after many incremental
    merges) and optionally garbage-collect tombstones whose version is
    older than a replay horizon.

    Tombstones younger than the horizon MUST stay (they guard against
    late-arriving older versions — see silver_upsert_stream); once the
    source can no longer deliver events older than ``version``, the
    tombstone is dead weight.  Returns the number of rows removed.

    Commit is the same manifest swap as the streaming publish, so readers
    holding the previous manifest keep a consistent snapshot until
    ``vacuum_grace_s`` expires (pass 0 to reclaim space immediately when no
    concurrent readers exist).

    Like every writer, it commits through the store's one commit path
    (:class:`_SilverStore`), so compacting while a publisher is live
    makes the loser raise ``ManifestCommitError`` with the store
    untouched.  Run it while the stream is stopped.

    A pre-manifest flat store (plain ``part-*.parquet`` under ``path``) is
    migrated in place: its rows are read as the current state, published
    bucketed under the first manifest, and the superseded flat files
    removed — compaction doesn't require a streaming trigger to have
    migrated the store first."""
    store = _SilverStore.open(path, spark, fold_first=True, migrate=True)
    df = store.read(spark)
    before = df.count()
    if drop_tombstones_below_version is not None:
        df = df.filter(
            ~(F.col("__deleted") & (F.col(version_col) < drop_tombstones_below_version))
        )
    n_after = df.count()
    store.publish(df, keys, store.all_buckets)
    vacuum_silver(path, grace_s=vacuum_grace_s)
    return before - n_after


def mutate_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
    where,
    set_exprs: dict | None = None,
    delete: bool = False,
) -> int:
    """r7 — the ClickHouse ``ALTER TABLE … UPDATE / DELETE`` (mutation)
    analogue: rewrite the rows matching ``where`` as ONE new committed
    manifest version.  ``set_exprs`` maps column → Column applied to
    matching rows (UPDATE); ``delete=True`` turns matches into tombstones
    (``__deleted = true`` — the store's uniform delete representation, so
    reads/compaction/time travel all compose unchanged).

    O(touched buckets): only buckets containing matching rows are
    republished; the rest keep their committed files.  With manifest
    history the pre-mutation state stays reachable via
    ``read_silver(as_of_version=…)``, which is exactly the audit story a
    destructive mutation needs.  Like every writer but the upsert
    trigger, it first folds the store's deltas (one commit of its own).
    Returns the number of rows mutated."""
    if not delete and not set_exprs:
        raise ValueError("mutation needs set_exprs or delete=True")
    store = _SilverStore.open(path, spark, fold_first=True)
    df = store.read(spark)
    live_match = where & ~F.col(DELETED_FLAG)
    touched = store.touched(df.filter(live_match), keys)
    if not touched:
        return 0
    sub = store.in_buckets(df, keys, touched)
    n = sub.filter(live_match).count()
    mutated = sub
    if delete:
        mutated = mutated.withColumn(
            DELETED_FLAG, F.when(live_match, F.lit(True)).otherwise(F.col(DELETED_FLAG))
        )
    else:
        for c, expr in set_exprs.items():
            mutated = mutated.withColumn(
                c, F.when(live_match, expr).otherwise(F.col(c))
            )
    store.publish(mutated, keys, touched)
    return n


def optimize_deduplicate(
    spark: SparkSession,
    path: str,
    keys: list[str],
    by_cols: list[str],
) -> int:
    """r13 — the ClickHouse ``OPTIMIZE TABLE … FINAL DEDUPLICATE BY
    col-list`` maintenance statement: rows whose ``by_cols`` tuple
    duplicates another live row's are removed, one survivor kept per
    group.  CH keeps an UNSPECIFIED row (merge order); this store keeps
    the lowest key tuple — deterministic, so reads, re-runs, and the
    DuckDB oracle agree (documented strengthening, same spirit as the
    insert-order tie-break elsewhere).  Removal uses the store's
    uniform tombstone representation, so time travel still shows the
    pre-optimize state and compaction GCs the losers later.

    O(touched buckets): the duplicate scan is one window over live rows
    (shuffles on ``by_cols``), but only buckets CONTAINING losers are
    republished.  Returns the number of rows tombstoned."""
    from pyspark.sql import Window

    store = _SilverStore.open(path, spark, fold_first=True)
    df = store.read(spark)
    live = ~F.col(DELETED_FLAG)
    w = Window.partitionBy(*by_cols).orderBy(*[F.col(k).asc() for k in keys])
    losers = (
        df.filter(live)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(*keys)
    )
    touched = store.touched(losers, keys)
    if not touched:
        return 0
    sub = store.in_buckets(df, keys, touched)
    n = losers.count()
    marked = sub.join(
        losers.withColumn("__loser", F.lit(True)), keys, "left"
    ).withColumn(
        DELETED_FLAG,
        F.when(F.col("__loser").isNotNull() & live, F.lit(True))
        .otherwise(F.col(DELETED_FLAG)),
    ).drop("__loser")
    store.publish(marked, keys, touched)
    return n


def _replay_guard(store: _SilverStore, checkpoint: str, batch_id: int) -> dict | None:
    """Shared replay guard for the NON-IDEMPOTENT sinks (summing /
    aggregating / collapsing — anything whose merge ADDS rather than
    displaces): the manifest records the last applied batch id per
    checkpoint (keyed by checkpoint-path hash so a fresh checkpoint over
    an existing store starts its own sequence).

    Returns the updated ``applied`` map of ``store`` to commit with this
    batch, or ``None`` if the batch is the legitimate crash-replay (batch_id ==
    watermark: crash between manifest commit and checkpoint write) and
    must be SKIPPED.  Two loud-failure modes (advice r9):

    - batch_id strictly BELOW the watermark = the checkpoint path was
      wiped and reused against existing store state; silently skipping
      would drop every restarted batch until ids catch up → raise.
    - a 9th checkpoint sequence would need a silent eviction, re-arming
      double-apply for the evicted stream → raise with the remedy.
    """
    ckpt_key = hashlib.md5(checkpoint.encode()).hexdigest()[:12]
    path, applied = store.path, store.applied
    watermark = applied.get(ckpt_key, -1)
    if watermark >= batch_id:
        if batch_id < watermark:
            raise RuntimeError(
                f"non-idempotent sink at {path!r}: batch_id {batch_id} is "
                f"below this checkpoint's applied watermark {watermark} — "
                "the checkpoint path was wiped/reused against existing "
                "store state. The merge is not idempotent; use a NEW "
                "checkpoint path (fresh batch sequence) or a fresh store "
                "path to reprocess."
            )
        return None
    keep = {k: v for k, v in applied.items() if k != ckpt_key}
    if len(keep) > 7:
        raise RuntimeError(
            f"non-idempotent sink at {path!r}: more than 8 checkpoint "
            "sequences recorded in the manifest; evicting one would re-arm "
            "replay double-apply for its stream. Retire stale checkpoints "
            "(new store path) instead of accumulating them."
        )
    keep[ckpt_key] = batch_id
    return keep


#: associative+commutative merge ops the aggregating sink supports — each
#: is exact and order-insensitive, so batch boundaries can never shift a
#: result ("sum" runs in DECIMAL, see silver_summing_stream).  "kmv" (r9)
#: is the mergeable-sketch STATE column — the real AggregatingMergeTree
#: use (CH ``AggregateFunction(uniq, …)``): the stored value is the KMV
#: distinct sketch (K smallest md5-derived hashes, operators/sketch.py's
#: algebra), merged per batch by union+sort+slice; union is
#: associative+commutative+idempotent, so the state is batch-boundary-
#: AND duplicate-insensitive.  Read the estimate with
#: ``operators.sketch.kmv_estimate_expr``.
#:
#: "argmax:<ord_col>" / "argmin:<ord_col>" (r9) are the CH
#: ``argMaxState/argMinState`` analogues — the stored value is a struct
#: ``(o, v)`` of the extremal ordering value and its payload; merge =
#: lexicographic struct max/min, associative+commutative with a
#: deterministic payload tie-break, so the state is batch-boundary-
#: insensitive like every other op here.  Read the payload as
#: ``col("<out>.v")``.
#:
#: "qsample:<id_col>" (r10, verdict item 4) is the QUANTILE state column
#: — the CH ``AggregateFunction(quantileTDigest, …)`` slot, realized as
#: a bottom-k rank sample (Cohen & Kaplan 2007, "Summarizing data using
#: bottom-k sketches", public paper) instead of a t-digest: the state is
#: the ``qsample_k`` (hash-of-id, value) pairs with smallest hashes — a
#: deterministic uniform row sample, so any quantile is read off the
#: sampled values with rank error O(√(q(1-q)/k)).  Chosen over t-digest
#: because its merge is the SAME pure-JVM array algebra as the kmv
#: column (union+dedup+sort+slice: associative, commutative AND
#: idempotent — duplicate-delivery-proof), where a t-digest merge would
#: drop to per-row Python.  ``id_col`` must identify a source row
#: stably across replays (a Kafka offset, an event id): it is the
#: sampling key that makes the multiset weighting and the determinism
#: work.  Read with ``operators.sketch.qsample_quantile_expr``.
#: "topk" (r10) completes the CH ``AggregateFunction`` family
#: (uniq/argMax/argMin/quantileTDigest/topK): the stored value is a
#: Space-Saving summary — ≤ ``topk_cap`` (cnt, item, err) structs,
#: cnt an upper bound on the item's true count and cnt−err a lower
#: bound — merged per the mergeable-summaries algebra (Agarwal et al.
#: 2012, public paper): present contributions sum exactly; an item
#: absent from one summary is charged that summary's min-count as both
#: count and error; truncate to the cap by (cnt desc, item).  Unlike
#: the kmv/qsample columns the merge is only bound-preserving, not
#: bit-associative (truncation loses information — ClickHouse's topK
#: carries the same caveat), so tests assert the GUARANTEES (heavy
#: hitters survive; bounds bracket exact counts) rather than
#: bit-equality across batch splits.  Item values are stored as
#: strings (CH topK's untyped-array shape).  This op's partial/merge
#: needs per-item regrouping, so it runs as its own explode→regroup
#: branch (2 extra small shuffles over ≤2·cap rows per touched key per
#: trigger) joined back to the main single-shuffle merge.
#:
#: "hll" (r10) is the DENSE-register distinct sketch — the CH
#: ``uniqHLL12`` state column (Flajolet et al. 2007, public paper),
#: complementing "kmv" exactly as CH's ``uniqCombined`` pairs the two
#: representations: KMV buys set algebra at 8 bytes/slot, HLL buys
#: σ=1.04/√m at ~1 byte-equivalent/register.  Stored value = the
#: 2^``hll_p``-slot max-rho array (``operators.sketch.hll_sketch``
#: layout, md5-prefix hash, so batch sketches and stored states merge
#: and every register is deterministic).  Merge = element-wise max
#: (``zip_with greatest``) — associative, commutative AND idempotent,
#: the strongest merge class in the family.  Ingest needs per-register
#: regrouping, so like "topk" it runs as its own (keys, j) branch
#: joined back to the main merge (bounded: ≤ m rows per touched key);
#: unlike "topk" its MERGE is a pure array expression in the main
#: groupBy.  Read with ``operators.sketch.hll_estimate_expr``.
AGG_OPS = ("sum", "min", "max", "kmv", "topk", "hll",
           "summap", "minmap", "maxmap", "bitmap", "sortedarray")
_KEYED_OPS = ("argmax", "argmin", "qsample", "topkweighted")


def _parse_agg_op(op: str) -> tuple[str, str | None]:
    base, _, ord_col = op.partition(":")
    if base in _KEYED_OPS:
        if not ord_col:
            raise ValueError(f"{base} op needs a column argument: '{base}:<col>'")
        return base, ord_col
    if op not in AGG_OPS:
        raise ValueError(
            f"op must be one of {AGG_OPS} or argmax:<col>/argmin:<col>/"
            f"qsample:<id_col>/topkweighted:<weight_col>, got {op!r}"
        )
    return op, None


def silver_summing_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    sum_cols: list[str] | None = None,
    available_now: bool = False,
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    processing_interval_ms: int | None = None,
    agg_spec: dict[str, tuple[str, str]] | None = None,
    sum_scale: int = 2,
    kmv_k: int = 256,
    qsample_k: int = 512,
    topk_cap: int = 16,
    hll_p: int = 12,
    sorted_k: int = 64,
) -> StreamingQuery:
    """r8 — the SummingMergeTree-equivalent keyed AGGREGATING sink
    (ClickHouse's second MergeTree family after the Replacing one S8
    covers; reference surface: the same ENGINE= slot as clickhouse.sql's
    ReplacingMergeTree tables).  Per micro-batch the batch collapses to
    ONE partial-sum row per key (map-side combinable groupBy), then
    merges into the store by per-key ADDITION — the store always holds
    exactly one row per key carrying the running sums plus ``__n_rows``
    (the count() companion column CH users keep, since source rows
    collapse on merge).

    Sums are carried as DECIMAL(30,2) (each batch's doubles enter as
    DECIMAL(18,2)) so the running total is EXACT and order-insensitive —
    disorder, replay order, and bucket boundaries cannot change a single
    bit, which is also what makes the DuckDB oracle exact.  No version /
    tiebreak columns are needed: addition commutes, so this sink needs
    even less from the source than latest-wins does (exactly-once still
    comes from the checkpoint + the CAS commit).

    ``agg_spec`` (AggregatingMergeTree generalization — CH's third
    MergeTree family): ``{out_col: (src_col, op)}`` with op ∈ ``sum`` /
    ``min`` / ``max`` — every supported op is associative+commutative, so
    the same batch-boundary-insensitivity argument holds for all of them
    (avg = a sum column + ``__n_rows`` at read time; non-decomposable
    aggs belong in the latest-wins store or a sketch column).

    ``op="summap"/"minmap"/"maxmap"`` (r11) — CH's SummingMergeTree map
    columns (Nested key/value pairs summed per map-key on merge) and the
    ``sumMap``/``minMap``/``maxMap`` aggregate states: the source column
    is ``map<string, numeric>``; the store carries one map per key whose
    values combine PER MAP-KEY across rows and batches (key union, absent
    = identity).  summap accumulates in exact decimal like scalar sum;
    all three are associative+commutative single-expression combines
    (``map_zip_with`` — no explode, no join-back).

    ``op="kmv"`` (r9) stores a MERGEABLE DISTINCT SKETCH per key — the
    CH ``AggregateFunction(uniq, col)``-state-column analogue: the value
    is the array of the ``kmv_k`` smallest md5-derived hashes of ``src``
    (the exact algebra of ``operators.sketch.kmv_sketch``, so estimates/
    set-ops compose with the batch sketches).  Merge = union+sort+slice;
    union is associative, commutative AND idempotent, so the sketch state
    is insensitive to batch boundaries and even to duplicate delivery —
    strictly stronger than the additive columns (which need the replay
    guard; the sketch gets it for free but shares the sink's guard
    anyway).  Per-key state is bounded at ``kmv_k`` longs regardless of
    the true distinct count; read the estimate with
    ``operators.sketch.kmv_estimate_expr(col, kmv_k)``.

    Same touched-bucket versioned publish as ``silver_upsert_stream``:
    per trigger only buckets containing batch keys are read, merged (one
    union + one keyed groupBy over those buckets), and re-published as
    one manifest version.  Read with
    ``read_silver``.  TTL/mutations compose: tombstoned keys stay out of
    the running sums and stay hidden until (unless) the stream delivers
    NEW rows for the key — which restarts it from the new partial only,
    never resurrecting the expired totals."""
    # "sum" enters as DECIMAL(18,sum_scale) and accumulates in
    # DECIMAL(30,sum_scale): values with MORE fractional digits than
    # sum_scale are rounded at ingestion — the monetary 2-dp default
    # matches the reference's money columns; widen for other domains.
    acc = f"decimal(30,{sum_scale})"
    ingest_t = f"decimal(18,{sum_scale})"
    spec: dict[str, tuple[str, str]] = dict(agg_spec or {})
    for c in sum_cols or []:
        spec[c] = (c, "sum")
    if not spec:
        raise ValueError("need sum_cols and/or agg_spec")
    for out, (src, op) in spec.items():
        try:
            _parse_agg_op(op)
        except ValueError as e:
            raise ValueError(f"agg_spec[{out!r}]: {e}") from None

    from ..operators.sketch import kmv_hash_expr

    # topk columns need per-ITEM regrouping, which no single agg
    # expression can do — they run as their own explode→regroup branch
    # (see the AGG_OPS comment) and join back on the keys.  The r12
    # "topkweighted:<weight_col>" variant (CH topKWeighted) is the SAME
    # Space-Saving summary with the batch contribution summing the
    # weight column instead of counting rows — state shape, merge
    # algebra, bounds and cap truncation are identical, so it rides the
    # same branch with a per-entry weight column.
    topk_outs = [
        (out, src, _parse_agg_op(op)[1]) for out, (src, op) in spec.items()
        if _parse_agg_op(op)[0] in ("topk", "topkweighted")
    ]
    # hll ingest also needs regrouping (per-REGISTER max), so it shares
    # the branch-and-join-back shape — but its merge is a pure array
    # expression, so it stays in the main merge groupBy (see _remerge)
    hll_outs = [
        (out, src) for out, (src, op) in spec.items()
        if _parse_agg_op(op)[0] == "hll"
    ]
    spec_main = {
        out: v for out, v in spec.items()
        if _parse_agg_op(v[1])[0] not in ("topk", "topkweighted", "hll")
    }

    # typed empty summary for keys with no non-NULL items (ADVICE r10)
    _TOPK_EMPTY = F.array().cast(
        "array<struct<cnt:bigint,item:string,err:bigint>>"
    )

    def _topk_summary(counted: DataFrame, out: str) -> DataFrame:
        """(keys, __i item, __c cnt-upper, __e err) → ≤cap summary rows
        per key, stored sorted by (cnt desc, item desc) for determinism."""
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(
            F.desc("__c"), F.desc("__i")
        )
        return (
            counted.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= topk_cap)
            .groupBy(*keys)
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("__c").cast("long").alias("cnt"),
                            F.col("__i").alias("item"),
                            F.col("__e").cast("long").alias("err"),
                        )
                    ),
                    asc=False,
                ).alias(out)
            )
        )

    def _topk_batch_partial(
        batch: DataFrame, out: str, src: str, weight: str | None
    ) -> DataFrame:
        # NULL source values are ignored (matching the kmv/hll/qsample
        # siblings and ClickHouse topK) rather than occupying a summary
        # slot as a NULL item; for the weighted variant NULL weights are
        # skipped too (CH topKWeighted ignores NULL weight rows).
        filt = F.col(src).isNotNull()
        if weight is not None:
            filt = filt & F.col(weight).isNotNull()
        # sum in the weight column's native type THEN cast the
        # aggregate — a per-row cast would silently truncate fractional
        # weights (1.9 → 1) before summing; CH topKWeighted takes
        # UInt64 so integer columns are unchanged either way
        contrib = (
            F.count(F.lit(1)) if weight is None
            else F.sum(F.col(weight)).cast("long")
        )
        counted = (
            batch.filter(filt)
            .groupBy(*keys, F.col(src).cast("string").alias("__i"))
            .agg(contrib.alias("__c"))
            .withColumn("__e", F.lit(0))
        )
        return _topk_summary(counted, out)

    def _topk_merge(un: DataFrame, out: str) -> DataFrame:
        """Mergeable-summaries combine of the ≤2 summaries per key
        (store row + batch partial): an item absent from one summary is
        charged that summary's min-count as count AND error; then
        truncate.  Kept items keep the bracket cnt−err ≤ true ≤ cnt."""
        rows = (
            un.select(*keys, F.col(out))
            .filter(F.col(out).isNotNull())
            .withColumn(
                "__m",
                F.when(
                    F.size(out) >= topk_cap,
                    F.element_at(F.col(out), -1)["cnt"],
                ).otherwise(F.lit(0)).cast("long"),
            )
        )
        tot = rows.groupBy(*keys).agg(F.sum("__m").alias("__tm"))
        per_item = (
            rows.select(*keys, "__m", F.explode(out).alias("e"))
            .groupBy(*keys, F.col("e.item").alias("__i"))
            .agg(
                F.sum("e.cnt").alias("__c0"),
                F.sum("e.err").alias("__e0"),
                F.sum("__m").alias("__pm"),
            )
            .join(tot, list(keys))
            .select(
                *keys,
                "__i",
                (F.col("__c0") + F.col("__tm") - F.col("__pm")).alias("__c"),
                (F.col("__e0") + F.col("__tm") - F.col("__pm")).alias("__e"),
            )
        )
        return _topk_summary(per_item, out)

    def _hll_batch_partial(batch: DataFrame, out: str, src: str) -> DataFrame:
        """Dense HLL partial per key for one micro-batch: (keys, register)
        max-rho regroup, then densify to the 2^hll_p-slot array — the
        exact hll_sketch layout, so stored states and batch partials are
        interchangeable."""
        from ..operators.sketch import hll_register_exprs

        m = 1 << hll_p
        j, rho = hll_register_exprs(src, hll_p)
        regs = (
            batch.filter(F.col(src).isNotNull())
            .select(*keys, j, rho)
            .groupBy(*keys, "__j")
            .agg(F.max("__rho").alias("__rho"))
        )
        dense = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.coalesce(F.element_at(F.col("__hm"), i), F.lit(0)),
        )
        return (
            regs.groupBy(*keys)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("__j", "__rho"))
                ).alias("__hm")
            )
            .select(*keys, dense.alias(out))
        )

    def _hll_remerge(out: str):
        """Union of the ≤2 register arrays per key (store row + batch
        partial) = element-wise max.  A key whose batch rows were all
        NULL-item joins a NULL partial; collect_list drops it and the
        all-zeros seed keeps the type (estimate 0 via linear counting)."""
        m = 1 << hll_p
        return F.aggregate(
            F.collect_list(F.col(out)),
            F.array_repeat(F.lit(0), m),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.greatest(a, b)),
        ).alias(out)

    # CH SummingMergeTree map columns / sumMap-minMap-maxMap states (r11):
    # the source column is map<string, numeric>; the state is one map per
    # key whose values combine per MAP-KEY across rows and batches.
    # map_zip_with aligns the union of both maps' keys (absent → NULL),
    # so each combine is a single JVM expression — no explode, no
    # join-back.  Values enter as decimal(18,scale) (same per-row
    # rounding contract as scalar sum) and accumulate in decimal(30,
    # scale), so summap is exact and order-insensitive like its scalar
    # sibling; min/max never accumulate.  All three are associative +
    # commutative, hence batch-boundary-insensitive.
    map_ingest_t = f"map<string,decimal(18,{sum_scale})>"
    map_acc_t = f"map<string,decimal(30,{sum_scale})>"

    def _map_combine(base: str):
        if base == "summap":
            def val(k, v1, v2):
                return (
                    F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0))
                ).cast(f"decimal(30,{sum_scale})")
        else:
            # least/greatest skip NULLs (a key absent from one side)
            pick = F.least if base == "minmap" else F.greatest

            def val(k, v1, v2):
                return pick(v1, v2).cast(f"decimal(30,{sum_scale})")

        return lambda acc_m, m: F.map_zip_with(acc_m, m, val)

    def _map_agg(col, base: str):
        return F.aggregate(
            F.collect_list(col),
            F.expr(f"cast(map() as {map_acc_t})"),
            _map_combine(base),
        )

    def _ingest(out: str, src: str, op: str):
        base, ord_col = _parse_agg_op(op)
        if base == "sum":
            return F.sum(F.col(src).cast(ingest_t)).cast(acc).alias(out)
        if base in ("summap", "minmap", "maxmap"):
            return _map_agg(F.col(src).cast(map_ingest_t), base).alias(out)
        if base == "bitmap":
            # CH groupBitmapState (uniqExact family): the EXACT distinct
            # set of an integer column as a sorted array — union-merge is
            # associative, commutative AND idempotent like kmv, but never
            # truncated.  Per-key state is O(true distinct count) by the
            # operator's own contract (CH's roaring bitmap compresses the
            # same asymptotics); use kmv/hll where an estimate suffices.
            return F.array_sort(
                F.collect_set(F.col(src).cast("long"))
            ).alias(out)
        if base == "sortedarray":
            # CH groupArraySortedState(N): the N SMALLEST values per key,
            # duplicates kept (CH semantics) — bounded at sorted_k; merge
            # = flatten+sort+slice, associative+commutative (NOT
            # idempotent, like sum — the sink's replay guard covers it)
            return F.slice(
                F.array_sort(F.collect_list(F.col(src).cast("double"))),
                1, sorted_k,
            ).alias(out)
        if base == "kmv":
            # batch partial sketch: K smallest hashes of the batch's
            # values for this key (collect_set state is key-local within
            # one micro-batch, immediately sliced to kmv_k)
            return F.slice(
                F.array_sort(F.collect_set(kmv_hash_expr(src))), 1, kmv_k
            ).alias(out)
        if base == "qsample":
            # batch partial: the qsample_k (id-hash, value) pairs with
            # smallest hashes — a deterministic uniform row sample
            # (collect_set dedups same-id redelivery within the batch)
            return F.slice(
                F.array_sort(
                    F.collect_set(
                        F.struct(
                            kmv_hash_expr(ord_col).alias("h"),
                            F.col(src).cast("double").alias("v"),
                        )
                    )
                ),
                1,
                qsample_k,
            ).alias(out)
        if base in ("argmax", "argmin"):
            picker = F.max if base == "argmax" else F.min
            return picker(
                F.struct(F.col(ord_col).alias("o"), F.col(src).alias("v"))
            ).alias(out)
        return getattr(F, base)(F.col(src)).alias(out)

    def _remerge(out: str, op: str):
        base, _ = _parse_agg_op(op)
        if base == "sum":
            return F.sum(F.col(out)).cast(acc).alias(out)
        if base in ("summap", "minmap", "maxmap"):
            # map-key-union combine of the ≤2 maps per key (store row +
            # batch partial) — same expression as ingestion
            return _map_agg(F.col(out), base).alias(out)
        if base == "bitmap":
            # exact set union of the ≤2 arrays per key — the kmv merge
            # without the slice
            return F.array_sort(
                F.array_distinct(F.flatten(F.collect_list(F.col(out))))
            ).alias(out)
        if base == "sortedarray":
            # ≤2 arrays per key → flatten, sort, keep the N smallest
            # (duplicates preserved — no array_distinct here)
            return F.slice(
                F.array_sort(F.flatten(F.collect_list(F.col(out)))),
                1, sorted_k,
            ).alias(out)
        if base == "kmv":
            # sketch union: ≤2 arrays per key (store row + batch partial)
            # → flatten, dedup, K smallest — bounded at 2·kmv_k inputs
            return F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.col(out))))
                ),
                1,
                kmv_k,
            ).alias(out)
        if base == "qsample":
            # sample union: ≤2 arrays per key → flatten, dedup, K
            # smallest by hash — bounded at 2·qsample_k inputs, and
            # idempotent (same id+value → identical struct)
            return F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.col(out))))
                ),
                1,
                qsample_k,
            ).alias(out)
        if base in ("argmax", "argmin"):
            return (F.max if base == "argmax" else F.min)(F.col(out)).alias(out)
        return getattr(F, base)(F.col(out)).alias(out)

    def _batch_partial(batch: DataFrame) -> DataFrame:
        part = batch.groupBy(*keys).agg(
            *[_ingest(out, src, op) for out, (src, op) in spec_main.items()],
            F.count(F.lit(1)).alias("__n_rows"),
        )
        for out, src, wcol in topk_outs:
            part = part.join(
                _topk_batch_partial(batch, out, src, wcol), list(keys), "left"
            )
            # a key whose batch rows were all NULL items has no partial
            # (NULLs are ignored, matching CH topK and the hll/kmv
            # siblings); seed the typed empty summary
            part = part.withColumn(out, F.coalesce(F.col(out), _TOPK_EMPTY))
        for out, src in hll_outs:
            part = part.join(_hll_batch_partial(batch, out, src), list(keys), "left")
            # a key whose batch rows were all NULL items has no partial;
            # seed the all-zeros array so the first-batch path (which
            # bypasses _hll_remerge) still stores a well-typed register set
            part = part.withColumn(
                out,
                F.coalesce(F.col(out), F.array_repeat(F.lit(0), 1 << hll_p)),
            )
        return part

    def _merge(batch: DataFrame, batch_id: int) -> None:
        # REPLAY GUARD (r8 review): unlike latest-wins (where re-merging an
        # identical batch is a no-op), ADDITION is not idempotent — a
        # micro-batch replayed after a crash between the manifest commit
        # and the checkpoint write would double every sum it carries.
        store = _SilverStore.load_or_new(path, n_buckets)
        keep = _replay_guard(store, checkpoint, batch_id)
        if keep is None:
            return

        def merge_fn(current: DataFrame | None, agg: DataFrame) -> DataFrame:
            if current is None:
                return agg.withColumn(DELETED_FLAG, F.lit(False))
            # Tombstone-correct composition (review r8: the first cut
            # dropped the flag and resurrected TTL/mutation deletes with
            # their full pre-expiry totals): tombstoned keys are EXCLUDED
            # from the re-sum; a tombstone survives unless the batch
            # carries new rows for its key, in which case the key restarts
            # from the new partial only (the CH TTL-then-reinsert shape).
            live = current.filter(~F.col(DELETED_FLAG)).drop(DELETED_FLAG)
            tombs = current.filter(F.col(DELETED_FLAG))
            # no persist on `un`: the batch partial is already cached by
            # _touched_bucket_merge and the store side is a bucket-pruned
            # file scan — a per-trigger cache here would leak (no safe
            # unpersist point after the publish consumes the plan)
            un = live.unionByName(agg)
            merged = (
                un
                .groupBy(*keys)
                .agg(
                    *[_remerge(out, op) for out, (_, op) in spec_main.items()],
                    *[_hll_remerge(out) for out, _ in hll_outs],
                    F.sum("__n_rows").alias("__n_rows"),
                )
            )
            for out, _src, _w in topk_outs:
                merged = merged.join(_topk_merge(un, out), list(keys), "left")
                merged = merged.withColumn(
                    out, F.coalesce(F.col(out), _TOPK_EMPTY)
                )
            merged = merged.withColumn(DELETED_FLAG, F.lit(False))
            kept_tombs = tombs.join(merged.select(*keys), keys, "left_anti")
            return merged.unionByName(kept_tombs)

        _touched_bucket_merge(
            batch, store, keys, prepare=_batch_partial, merge_fn=merge_fn,
            edits={"applied": keep},
        )

    writer = events.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return _start(writer, available_now, processing_interval_ms)


def silver_collapsing_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    sign_col: str = "sign",
    seq_col: str | None = None,
    version_col: str | None = None,
    available_now: bool = False,
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    processing_interval_ms: int | None = None,
) -> StreamingQuery:
    """r9 — the CollapsingMergeTree / VersionedCollapsingMergeTree sink,
    the last ClickHouse MergeTree family the engine was missing
    (reference surface: the same ``ENGINE=`` slot as clickhouse.sql:51's
    ReplacingMergeTree).  Rows carry ``sign ∈ {1,-1}``: a state row is
    inserted with +1; updating/deleting a key inserts a CANCEL row (-1,
    a copy of the previously-written state) and optionally a new +1.
    Merge cancels +1/-1 pairs per key; a key is visible iff its sign
    balance is positive (``read_collapsed``).

    **Plain mode** (``version_col=None``): ClickHouse resolves "which +1
    is current" by insert order — a distributed engine has no global
    insert order, so the engine requires an explicit monotone ``seq_col``
    (the same move as the version-less ReplacingMergeTree's offset
    tie-break, SURVEY W2).  State per key is one row: the latest +1
    payload by seq + the running sign balance.  Both components are
    associative+commutative merges (max-by-seq, sum), so batch
    boundaries / replay order cannot change the result — which is what
    makes the DuckDB oracle exact.  Caveat inherited from CH: a cancel
    arriving in an EARLIER batch than its +1 only works because the
    balance is a sum (order-free); "current payload" still needs the +1
    to carry the higher seq, exactly CH's well-formed-stream contract.

    **Versioned mode** (``version_col=...``): cancellation is exact per
    (key, version) — a -1 cancels the +1 with the SAME version no matter
    the arrival order (CH's VersionedCollapsing semantics for out-of-order
    streams).  State is one row per (key, version) with non-zero net;
    fully-cancelled versions leave the store at merge time, so state
    stays bounded for well-formed streams.  Visible state = the
    highest-version positive-net row per key.

    Merge is ADDITIVE (sign balances), not idempotent → same replay
    guard and touched-bucket publish as ``silver_summing_stream``; TTL /
    mutations compose through the same tombstone rules."""
    if version_col is None and seq_col is None:
        raise ValueError(
            "plain collapsing needs seq_col (no global insert order in a "
            "distributed engine); out-of-order streams want version_col"
        )
    state_keys = list(keys) + ([version_col] if version_col else [])
    order_col = version_col or seq_col
    payload = [
        c for c in events.columns
        if c not in set(state_keys) | {sign_col, seq_col}
    ]

    def _batch_partial(batch: DataFrame) -> DataFrame:
        # one row per state key: net sign balance + the payload of the
        # winning +1 row (max struct skips the NULL entries the when()
        # leaves for cancel rows, so only +1 payloads compete; in
        # versioned mode all rows of a (key, version) carry the same
        # payload by CH contract — sign leads the struct so a +1 row
        # still wins over its cancel copy)
        win = F.max(
            F.when(
                F.col(sign_col) == 1,
                F.struct(
                    F.col(sign_col).alias("__sg"),
                    F.col(order_col).cast("long").alias("__ord"),
                    *[F.col(c) for c in payload],
                ),
            )
        ).alias("__w")
        return batch.groupBy(*state_keys).agg(
            F.sum(sign_col).cast("long").alias("__sign_net"), win
        ).select(
            *state_keys,
            "__sign_net",
            F.col("__w.__ord").alias("__ord"),
            *[F.col(f"__w.{c}").alias(c) for c in payload],
        )

    def _remerge(frame: DataFrame) -> DataFrame:
        merged = (
            frame.groupBy(*state_keys)
            .agg(
                F.sum("__sign_net").alias("__sign_net"),
                F.max(
                    F.when(
                        F.col("__ord").isNotNull(),
                        F.struct(
                            F.col("__ord").alias("__ord"),
                            *[F.col(c) for c in payload],
                        ),
                    )
                ).alias("__w"),
            )
            .select(
                *state_keys,
                "__sign_net",
                F.col("__w.__ord").alias("__ord"),
                *[F.col(f"__w.{c}").alias(c) for c in payload],
            )
        )
        if version_col:
            # fully-cancelled versions leave the store at merge time —
            # safe because cancellation is exact per (key, version) with
            # no ordering, so a purged version can never be needed again;
            # this is what bounds versioned state for well-formed streams.
            #
            # Plain-seq mode must NOT purge at merge time (ADVICE r9
            # adjudicated AGAINST the suggested fix, caught by the
            # sf0.01 scattered replay): a net-0 key's row carries the
            # winning max-seq payload, and a straggler +1 with a LOWER
            # seq arriving later must lose to it — purging the row would
            # resurrect the straggler's stale payload and break the
            # batch-boundary-insensitivity contract.  ClickHouse gets to
            # drop collapsed pairs in plain mode only because it demands
            # strict insert order; our plain mode is order-independent.
            # Delete-heavy plain streams bound state with the explicit
            # ``collapse_purge_silver`` maintenance op (OPTIMIZE FINAL
            # analogue) once the owner knows the log is quiescent.
            merged = merged.filter(F.col("__sign_net") != 0)
        return merged

    def _merge(batch: DataFrame, batch_id: int) -> None:
        store = _SilverStore.load_or_new(path, n_buckets)
        keep = _replay_guard(store, checkpoint, batch_id)
        if keep is None:
            return

        def merge_fn(current: DataFrame | None, part: DataFrame) -> DataFrame:
            if current is None:
                # the partial IS the merged state for a fresh bucket, so
                # versioned mode's net-0 purge applies here too (plain
                # mode keeps net-0 rows — see _remerge for why)
                if version_col:
                    part = part.filter(F.col("__sign_net") != 0)
                return part.withColumn(DELETED_FLAG, F.lit(False))
            # same tombstone composition as the summing sink: tombstoned
            # keys stay out of the re-merge; new rows for the key restart
            # its balance from the batch partial only
            live = current.filter(~F.col(DELETED_FLAG)).drop(DELETED_FLAG)
            tombs = current.filter(F.col(DELETED_FLAG))
            merged = _remerge(live.unionByName(part)).withColumn(
                DELETED_FLAG, F.lit(False)
            )
            kept_tombs = tombs.join(merged.select(*keys).distinct(), keys, "left_anti")
            return merged.unionByName(kept_tombs)

        _touched_bucket_merge(
            batch, store, keys, prepare=_batch_partial, merge_fn=merge_fn,
            edits={"applied": keep},
        )

    writer = events.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    return _start(writer, available_now, processing_interval_ms)


def read_collapsed(
    spark: SparkSession,
    path: str,
    keys: list[str],
    version_col: str | None = None,
) -> DataFrame:
    """Current visible state of a collapsing store: keys with positive
    sign balance, one row each — plain mode exposes the stored latest-+1
    payload directly; versioned mode resolves the highest surviving
    version per key (a keyed max-struct over the already-collapsed state
    table, never the event log)."""
    state = read_silver(spark, path).filter(F.col("__sign_net") > 0)
    if version_col is None:
        return state.drop("__ord")
    from ..operators.upsert import latest_wins

    return latest_wins(state, keys=keys, version_cols=[version_col]).drop("__ord")


def collapse_purge_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
) -> int:
    """r10 — ``OPTIMIZE TABLE … FINAL`` analogue for PLAIN collapsing
    stores: drop every fully-cancelled (net-0) key as one committed
    tombstone mutation, bounding state for delete-heavy streams.

    Plain-seq mode cannot purge net-0 rows at merge time (ADVICE r9,
    adjudicated): the net-0 row carries the winning max-seq payload that
    a straggler +1 with a lower seq must lose to, so an automatic purge
    would break batch-boundary insensitivity.  ClickHouse sidesteps this
    by demanding strict insert order and declaring disorder
    "unpredictable"; this engine instead keeps net-0 rows live and makes
    the purge an EXPLICIT maintenance call, to run when the owner knows
    the log is quiescent for those keys (end of replay, compaction
    window) — the same contract as running OPTIMIZE FINAL.  After a
    purge, a re-insert of a purged key starts a fresh +1 balance (the
    sink's tombstone rules already restart tombstoned keys from the
    batch partial).  Versioned stores never need this: exact
    per-version cancellation lets their merge purge net-0 safely.

    O(touched buckets) like every mutation; tombstones reclaim bytes via
    ``compact_silver``.  Returns the number of keys purged."""
    return mutate_silver(
        spark, path, keys, where=F.col("__sign_net") == 0, delete=True
    )


def ttl_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
    ttl_col: str,
    older_than,
) -> int:
    """r8 — the ClickHouse table-TTL analogue (``TTL <col> + INTERVAL …
    DELETE``): expire every live row whose ``ttl_col`` is strictly below
    ``older_than``, as one committed mutation version (tombstones, so
    read/compaction/time-travel semantics compose unchanged — run
    ``compact_silver(drop_tombstones_below_version=…)`` to reclaim the
    bytes, exactly like CH's background TTL merges).  O(touched buckets);
    returns the number of rows expired.  Run on a cadence from the
    owning writer — TTL is a mutation, and the store remains
    single-writer."""
    return mutate_silver(
        spark, path, keys, where=F.col(ttl_col) < older_than, delete=True
    )


def add_projection(
    spark: SparkSession,
    path: str,
    keys: list[str],
    name: str,
    proj_keys: list[str],
) -> None:
    """r9 — the ClickHouse ``ALTER TABLE … ADD PROJECTION p (SELECT *
    ORDER BY k2) … MATERIALIZE`` analogue, built the way CH builds it:
    PER PART.  Each primary bucket gets a copy of its rows sorted by
    ``proj_keys`` under ``__proj_<name>/`` — so a query filtering on the
    secondary key reads the projection and parquet row-group pruning
    (min/max stats on the SORTED column) skips most of every file,
    which a primary-key-sorted file cannot offer for that column.  From
    this call on, every publisher maintains the projection for the
    buckets it touches (one extra sorted write per publish — CH's own
    maintenance cost), committed atomically by the same manifest swap.

    Scale: the projection doubles write volume for this store but adds
    ZERO shuffles (same repartition, different in-bucket sort) and its
    read path needs no coordination — it is a second file set under the
    same snapshot-isolated manifest.  Backfill here republishes every
    bucket once (O(store), like CH MATERIALIZE)."""
    store = _SilverStore.open(path, spark, fold_first=True)
    if name in store.projections:
        raise ValueError(f"projection {name!r} already exists at {path}")
    # the backfill is a full republish (all buckets touched): the main
    # files are rewritten too — one wasted main write, in exchange for
    # the one commit path instead of a second bespoke one
    store.publish(store.read(spark), keys, store.all_buckets,
                  store.with_projection(name, proj_keys))


def drop_projection(path: str, name: str) -> None:
    """D2-style idempotent drop: removes the projection from the manifest
    as a new, metadata-only version; its files become unreferenced and
    the next vacuum reclaims them."""
    store = _SilverStore.load(path)
    if store is not None and name in store.projections:
        store.edit(store.with_projection(name))


def read_silver_projection(
    spark: SparkSession,
    path: str,
    name: str,
    include_deleted: bool = False,
) -> DataFrame:
    """Read a projection's file set (the proj-key-sorted copy) from the
    current manifest — same snapshot isolation and tombstone semantics
    as ``read_silver``, different physical order.  Use for secondary-key
    point/range queries: the pushed filter prunes row groups via the
    sorted column's min/max stats."""
    df = _SilverStore.open(path).read_projection(spark, name)
    if DELETED_FLAG in df.columns and not include_deleted:
        df = df.filter(~F.col(DELETED_FLAG)).drop(DELETED_FLAG)
    return df


def _predicate_references(df: DataFrame, where) -> set[str] | None:
    """Column names referenced by ``where``, read off the ANALYZED plan
    of a lazy ``df.filter(where)`` (no job runs).  Post-analysis the
    Filter node's condition carries resolved attribute references, which
    unresolved ``F.col`` expressions do not.  Returns None when the JVM
    introspection is unavailable (Connect, analysis error) — callers
    fall back to the primary layout, which is always correct."""
    try:
        plan = df.filter(where)._jdf.queryExecution().analyzed()
        refs = plan.expressions().apply(0).references().toSeq()
        return {refs.apply(i).name() for i in range(refs.size())}
    except Exception:
        return None


def read_silver_auto(
    spark: SparkSession,
    path: str,
    where=None,
    include_deleted: bool = False,
):
    """r10 — CH-style AUTOMATIC projection selection (verdict item 1):
    ClickHouse routes a query to a projection when its WHERE constrains
    a prefix of the projection's ORDER BY; this read does the same so
    callers no longer pick the layout by hand (``read_silver_projection``
    stays as the explicit escape hatch — CH's ``FORCE_OPTIMIZE_PROJECTION``
    equivalent).  Reference surface: the MergeTree ORDER BY machinery of
    clickhouse.sql:52.

    Routing rule, mirroring CH's granule-count heuristic at zero cost:
    extract the filter's referenced columns from the analyzed plan, score
    every candidate layout (primary = the manifest's ``sort_keys``, each
    projection = its keys) by the length of the leading prefix of its
    sort keys contained in the filter columns, and read the best-scoring
    layout — ties prefer primary (same data volume, no reason to leave
    the default files).  Row-group pruning then comes free from the
    chosen layout's sorted column min/max stats once Spark pushes the
    filter to the parquet scan.

    Everything is decided against ONE manifest read, so the route choice
    and the file set are the same snapshot.  Returns the filtered
    DataFrame; audit which layout was scanned via ``df.inputFiles()``
    (projection files live under ``__proj_<name>/``)."""
    store = _SilverStore.open(path)

    def _visible(df: DataFrame) -> DataFrame:
        if DELETED_FLAG in df.columns and not include_deleted:
            df = df.filter(~F.col(DELETED_FLAG)).drop(DELETED_FLAG)
        return df

    primary = _visible(store.read(spark))
    if where is None:
        return primary
    projections = store.projections
    refs = _predicate_references(primary, where) if projections else None
    if refs:
        def score(sort_keys: list[str]) -> int:
            n = 0
            for k in sort_keys:
                if k not in refs:
                    break
                n += 1
            return n

        best_name, best = None, score(store.sort_keys)
        for pname, pspec in projections.items():
            s = score(pspec["keys"])
            if s > best:
                best_name, best = pname, s
        if best_name is not None:
            return _visible(store.read_projection(spark, best_name)).filter(where)
    return primary.filter(where)


def diff_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """r9 — keyed diff between two committed store versions: one row per
    key whose LIVE state changed, tagged ``inserted`` / ``deleted`` /
    ``updated`` (tombstones and absent keys both count as not-live, so a
    TTL expiry reads as ``deleted`` and a delete-then-reinsert as
    ``updated``).  The audit companion to time travel: "what changed
    between the corpus pin run X trained on and today" as a DataFrame —
    with ``before``/``after`` structs for the updated rows' payloads.

    Plan: two manifest-pruned as-of reads + ONE full-outer join on the
    key — no version log is replayed, no file outside the two manifests
    is opened.  Columns present in only one version (schema evolution
    between the pins) are excluded from the equality test and surfaced
    through the structs instead."""
    a = read_silver(spark, path, include_deleted=True, as_of_version=from_version)
    b = (
        read_silver(spark, path, include_deleted=True, as_of_version=to_version)
        if to_version is not None
        else read_silver(spark, path, include_deleted=True)
    )
    shared = sorted((set(a.columns) & set(b.columns)) - set(keys) - {DELETED_FLAG})
    A = a.select(
        *keys, F.col(DELETED_FLAG).alias("__da"), F.struct(*shared).alias("before")
    )
    B = b.select(
        *keys, F.col(DELETED_FLAG).alias("__db"), F.struct(*shared).alias("after")
    )
    live_a = F.coalesce(~F.col("__da"), F.lit(False))
    live_b = F.coalesce(~F.col("__db"), F.lit(False))
    change = (
        F.when(~live_a & live_b, F.lit("inserted"))
        .when(live_a & ~live_b, F.lit("deleted"))
        .when(live_a & live_b & ~F.col("before").eqNullSafe(F.col("after")),
              F.lit("updated"))
    )
    return (
        A.join(B, keys, "full_outer")
        .withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change", "before", "after")
    )


def rebucket_silver(spark: SparkSession, path: str, keys: list[str],
                    new_n_buckets: int) -> int:
    """r9 — change a silver store's bucket width as ONE committed
    version: read every live file and republish the full state at
    ``new_n_buckets``.  The
    resize every long-lived store eventually needs — a width sized for
    the first TB is wrong at 100 TB (too few buckets ⇒ huge per-bucket
    rewrites per trigger; too many ⇒ small-file pressure).  Tombstones
    and every sink-specific manifest field (replay watermarks) carry
    through; history manifests remain readable because committed files
    are immutable until vacuumed — but as-of reads PREDATING the
    rebucket still see the old width via their own manifest's
    ``n_buckets``, so time travel composes.  Run like compaction: only
    while the owning stream is stopped (single-writer store).  Returns
    the new version number."""
    store = _SilverStore.open(path, spark, fold_first=True)
    if new_n_buckets == store.n_buckets:
        return store.version
    return store.publish(store.read(spark), keys, store.all_buckets,
                         {"n_buckets": new_n_buckets})


def set_bloom_filters(path: str, cols: dict[str, int]) -> None:
    """r10 — declare per-column parquet BLOOM FILTERS for a silver
    store: the ClickHouse ``INDEX … TYPE bloom_filter`` skip-index
    analogue for columns the primary sort order cannot serve.
    ``cols`` maps column → expected distinct count (sizes the filter).
    Metadata-only (a new version that writes no data file, like
    drop_projection): every LATER publish — upsert trigger, mutation, TTL, compaction,
    and each projection copy — writes split-block blooms for these
    columns, and Spark's parquet reader prunes row groups on equality
    predicates against them.  Existing files gain blooms as publishes
    naturally rewrite their buckets (run ``compact_silver`` to backfill
    at once).  Pass ``{}`` to stop writing blooms."""
    store = _SilverStore.open(path)
    store.edit({"bloom_cols": {c: int(n) for c, n in cols.items()}})


def describe_silver(spark: SparkSession, path: str) -> DataFrame:
    """r10 — the ``system.parts`` observability surface: one row per
    LIVE data file of the current manifest, across the primary layout,
    the deltas and every projection → (version, n_buckets, layout,
    bucket, epoch, file, bytes).  A delta is its own ``delta`` layout
    with a NULL bucket: one unbucketed file per trigger since the last
    fold, ClickHouse's level-0 parts.  Driver-side listing bounded by the
    live file count (same O(files) class as vacuum — an observability
    call, not a data path); missing files report bytes = -1 rather than raising, so the
    monitor that calls this can be the thing that DETECTS corruption."""
    store = _SilverStore.open(path)

    def size(f: str) -> int:
        try:
            return os.path.getsize(os.path.join(path, f))
        except OSError:
            return -1

    data = [(store.version, store.n_buckets, layout, bucket, epoch, f, size(f))
            for layout, f, bucket, epoch in store.parts()]
    return spark.createDataFrame(
        data,
        "version long, n_buckets int, layout string, bucket int, "
        "epoch long, file string, bytes long",
    )


def freeze_silver(path: str, snapshot_dir: str) -> int:
    """r10 — the ClickHouse ``ALTER TABLE … FREEZE`` analogue: a
    consistent ZERO-COPY snapshot of the current committed state.
    Every live file of the current manifest (primary + projections) is
    HARDLINKED into ``snapshot_dir`` (copy fallback across devices) and
    the manifest written beside them — the snapshot is itself a valid
    read-only store (``read_silver(snapshot_dir)`` works), exactly like
    CH's hardlinked ``shadow/`` parts.  Safe against the live store's
    future: committed files are immutable until vacuumed, and vacuum
    unlinks only the live store's names — the snapshot's links keep the
    inodes alive, which is the whole point of freezing before a risky
    mutation.  Returns the number of files snapshotted."""
    store = _SilverStore.open(path)
    if os.path.exists(snapshot_dir):
        raise FileExistsError(f"snapshot target {snapshot_dir} already exists")
    n = 0
    for _, rel, _, _ in store.parts():
        src = os.path.join(path, rel)
        dst = os.path.join(snapshot_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
        n += 1
    with open(os.path.join(snapshot_dir, "_manifest.json.tmp"), "w") as fh:
        json.dump(store.manifest, fh)
    os.replace(
        os.path.join(snapshot_dir, "_manifest.json.tmp"),
        os.path.join(snapshot_dir, "_manifest.json"),
    )
    return n


def restore_silver(spark: SparkSession, path: str, keys: list[str],
                   version: int) -> int:
    """r10 — roll the store BACK to a committed version as a NEW
    version (the time-travel write path; CH's closest analogues are
    UNDROP/ATTACH-from-backup).  The as-of state — including its
    tombstones, so deletes stay deleted — is republished over every
    bucket as one new version: history is append-only (the bad versions
    stay reachable for audit) and readers never see a half-restored
    store.  Run like compaction: owning stream stopped.  Returns the new
    version number."""
    store = _SilverStore.open(path, spark, fold_first=True)
    state = _SilverStore.as_of(path, version).read(spark)
    return store.publish(state, keys, store.all_buckets)


def ttl_rollup_silver(
    spark: SparkSession,
    path: str,
    keys: list[str],
    ttl_col: str,
    older_than,
    coarsen: dict,
    agg_spec: dict[str, str],
) -> int:
    """r9 — the ClickHouse ``TTL … GROUP BY k SET v = sum(v)`` analogue
    (rollup TTL, the GraphiteMergeTree use case): rows past the cutoff
    are NOT deleted — they are DOWNSAMPLED: their key columns are
    coarsened (``coarsen``: col → expression, e.g. hour → day truncation)
    and their measures aggregated (``agg_spec``: col → op ∈ sum/min/max),
    one committed version, O(touched buckets).  The metrics-retention
    pattern: full granularity recent, coarse granularity old, bounded
    total size — without losing the old mass entirely like plain TTL.

    Rolled rows MERGE with any existing row at the coarsened key by the
    same ops (sum/min/max are associative+commutative), so REPEATED
    rollups compose: a later cutoff folds newly-expired rows into the
    day rows earlier rollups created — same algebra as the summing sink.
    ``__n_rows`` (the summing sink's companion count) is summed
    automatically when present.  Tombstones pass through untouched;
    aggregated dtypes are cast back to the store's, so the schema is
    stable across any number of rollups.  Touched buckets = the expired
    rows' buckets ∪ the coarsened keys' target buckets, published as
    one version.  Returns the number of rows rolled up."""
    store = _SilverStore.open(path, spark, fold_first=True)
    df = store.read(spark)
    spec = dict(agg_spec)
    if "__n_rows" in df.columns and "__n_rows" not in spec:
        spec["__n_rows"] = "sum"
    covered = set(keys) | set(spec) | {DELETED_FLAG, ttl_col}
    uncovered = [c for c in df.columns if c not in covered]
    if uncovered:
        raise ValueError(
            f"rollup needs an agg_spec op for every non-key column; missing: {uncovered}"
        )
    if ttl_col not in keys and ttl_col not in spec:
        raise ValueError("ttl_col must be a key (coarsened) or carry an agg op")
    for c, op in spec.items():
        if op not in ("sum", "min", "max"):
            raise ValueError(f"agg_spec[{c!r}]: op must be sum/min/max, got {op!r}")

    # NULL ttl means "never expires": coalesce to False so NULL-ttl rows
    # are neither rolled up nor dropped from live_keep (a bare
    # ~(ttl < cutoff) is NULL for NULL ttl and would filter the row out)
    expired = F.coalesce(F.col(ttl_col) < older_than, F.lit(False))
    expired_pred = expired & ~F.col(DELETED_FLAG)
    src_buckets = store.touched(df.filter(expired_pred), keys)
    if not src_buckets:
        return 0
    coarse_cols = [
        (coarsen[k](F.col(k)) if callable(coarsen.get(k)) else coarsen[k]).alias(k)
        if k in coarsen else F.col(k)
        for k in keys
    ]
    rolled_keys = df.filter(expired_pred).select(*coarse_cols)
    touched = src_buckets | store.touched(rolled_keys, keys)
    sub = store.in_buckets(df, keys, touched)
    n = sub.filter(expired_pred).count()
    dtypes = {f.name: f.dataType for f in sub.schema.fields}
    aggs = [getattr(F, op)(F.col(c)).cast(dtypes[c]).alias(c) for c, op in spec.items()]
    rolled = (
        sub.filter(expired_pred)
        .select(*coarse_cols, *spec)
        .groupBy(*keys)
        .agg(*aggs)
    )
    live_keep = sub.filter(~F.col(DELETED_FLAG) & ~expired)
    tombs = sub.filter(F.col(DELETED_FLAG))
    # single-row groups are identity under sum/min/max (dtype restored by
    # the cast), so re-aggregating every kept live row alongside the
    # rolled rows is the uniform merge, not a correctness trade
    merged = (
        live_keep.drop(DELETED_FLAG)
        .select(*keys, *spec)
        .unionByName(rolled)
        .groupBy(*keys)
        .agg(*aggs)
        .withColumn(DELETED_FLAG, F.lit(False))
    )
    store.publish(merged.unionByName(tombs.select(*merged.columns)), keys, touched)
    return n


def read_silver(
    spark: SparkSession,
    path: str,
    include_deleted: bool = False,
    as_of_version: int | None = None,
) -> DataFrame:
    """Read the silver store written by ``silver_upsert_stream``.

    Loads the last-committed manifest's file set — a consistent snapshot
    even mid-publish, since committed files are immutable until vacuumed
    (falls back to a plain directory read for legacy flat stores) — and,
    when it holds deltas, applies FINAL over base ∪ deltas: one
    latest-wins aggregate, the merge the fold itself runs.

    ``as_of_version`` (r7, time travel): read the store exactly as it was
    at that committed manifest version — the reproducibility primitive a
    training pipeline needs to pin "the corpus we trained run X on".
    Works until the version's files are vacuumed (see ``vacuum_silver``'s
    ``retain_versions``); a vacuumed version fails loudly, never returns
    partial state.  ``silver_versions(path)`` lists what's available.

    ``include_deleted=False`` = the basic-path drop semantics (init.sql:63);
    True = rewrite semantics with the ``__deleted`` flag exposed
    (abcsvb-connector-secure.json:33-34).  Tombstones always exist in the
    store (see silver_upsert_stream) — this is where the two reference
    delete modes diverge."""
    if as_of_version is not None:
        store = _SilverStore.as_of(path, as_of_version)
    else:
        store = _SilverStore.load(path)
    df = spark.read.parquet(path) if store is None else store.read(spark)
    if include_deleted:
        return df
    return df.filter(~F.col("__deleted")).drop("__deleted")


@dataclass
class MaterializedView:
    name: str
    query: StreamingQuery
    target: str


@dataclass(frozen=True)
class ConnectorConfig:
    """Per-table connector tuning — the Debezium knob set (``tasks.max``,
    ``max.batch.size``, ``poll.interval.ms``; debezium-pg-connector.json:5,
    abcsvb-connector-secure.json:44-46) mapped to its honest Spark levers:

    - ``tasks_max`` → SOURCE read parallelism: ``minPartitions`` on a Kafka
      source (how many Spark tasks consume the topic, regardless of its
      Kafka partition count).  Compute-side parallelism needs no knob —
      shuffle partitioning/AQE already parallelizes the merge, which is why
      the reference's ``tasks.max=1`` ceiling doesn't exist here.
    - ``max_batch_size`` → per-trigger admission (``maxOffsetsPerTrigger``
      for Kafka, ``maxFilesPerTrigger`` for file sources) — backpressure,
      T7.
    - ``poll_interval_ms`` → a ``processingTime`` trigger on every sink of
      the capture.
    - ``scheduler_pool`` → fair-scheduler pool name, so N registered table
      captures share the cluster by pool weight instead of FIFO job order
      (set ``spark.scheduler.mode=FAIR`` cluster-side to activate).

    Source options apply where the source DataFrame is BUILT (pass
    ``kafka_source_options()`` / ``file_source_options()`` to the builder);
    trigger + pool apply at registration (``Pipeline.capture_table``).
    """

    tasks_max: int = 1
    max_batch_size: int | None = 1024
    max_files_per_trigger: int | None = None
    poll_interval_ms: int | None = None
    scheduler_pool: str | None = None

    def kafka_source_options(self) -> dict[str, str]:
        opts: dict[str, str] = {}
        if self.max_batch_size is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_batch_size)
        if self.tasks_max > 1:
            opts["minPartitions"] = str(self.tasks_max)
        return opts

    def file_source_options(self) -> dict[str, str]:
        opts: dict[str, str] = {}
        if self.max_files_per_trigger is not None:
            opts["maxFilesPerTrigger"] = str(self.max_files_per_trigger)
        return opts


@dataclass
class Pipeline:
    """S10/D5 — named-streaming-query registry: the engine-side analogue of
    Kafka-Connect REST registration (start.sh:67-74) + ClickHouse's MV DDL
    (init.sql:31).  ``register_mv`` is create-or-replace: an existing query
    under the same name is stopped first (the PUT semantics,
    connect.txt:1-34)."""

    spark: SparkSession
    views: dict[str, MaterializedView] = field(default_factory=dict)

    def register_mv(
        self,
        name: str,
        source: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        target_path: str,
        checkpoint: str,
        available_now: bool = False,
    ) -> MaterializedView:
        """D5 — ``CREATE [OR REPLACE] MATERIALIZED VIEW name TO target AS
        transform(source)`` (init.sql:31-35): registers the transform as a
        named streaming query appending to ``target_path``.  Re-registering
        an existing name stops the old query first (the PUT-reconfigure
        lifecycle, connect.txt:20-31)."""
        if name in self.views:
            self.views[name].query.stop()
        transformed = transform(source)
        writer = (
            transformed.writeStream.format("parquet")
            .outputMode("append")
            .option("path", target_path)
            .option("checkpointLocation", checkpoint)
            .queryName(name)
        )
        mv = MaterializedView(
            name=name, query=_start(writer, available_now), target=target_path
        )
        self.views[name] = mv
        return mv

    def capture_table(
        self,
        table: str,
        events: DataFrame,
        base_dir: str,
        registry: dict[str, dict] | None = None,
        available_now: bool = False,
        config: ConnectorConfig | None = None,
        engine: str = "replacing",
        engine_opts: dict | None = None,
    ) -> dict[str, StreamingQuery]:
        """S10 one-call table capture — the ``POST /connectors`` equivalent
        (start.sh:67-74): wire BOTH layers for one registry table from a
        Kafka-shaped event stream: bronze raw archive + silver keyed sink,
        each with its own checkpoint.  Returns the two queries keyed
        'bronze'/'silver'.

        ``engine`` (r9) is the ClickHouse ``ENGINE=`` slot of the silver
        table (clickhouse.sql:51 chooses it per table): ``"replacing"``
        (default — the latest-wins upsert, ReplacingMergeTree),
        ``"summing"`` (additive per-key aggregation; pass ``sum_cols`` /
        ``agg_spec`` via ``engine_opts``), or ``"collapsing"`` (sign
        collapse; pass ``sign_col``/``seq_col``/``version_col`` via
        ``engine_opts``).  All three share the bucketed manifest store,
        checkpointing, and the registration lifecycle.

        ``config`` applies the connector-level knobs this call owns: the
        ``poll.interval.ms``-equivalent processingTime trigger on both
        sinks, and the fair-scheduler pool both queries run in (set on the
        starting thread, inherited by each query's microbatch thread, then
        restored).  Source-side options (``tasks_max``/``max_batch_size``)
        must be applied where ``events`` is built — see ConnectorConfig."""
        from ..schemas import TABLE_REGISTRY

        spec = (registry or TABLE_REGISTRY)[table]
        interval = config.poll_interval_ms if config else None
        sc = self.spark.sparkContext
        prev_pool = sc.getLocalProperty("spark.scheduler.pool")
        if config and config.scheduler_pool:
            sc.setLocalProperty("spark.scheduler.pool", config.scheduler_pool)
        try:
            bronze_q = bronze_append_stream(
                events.selectExpr("value AS value_json", "CAST(partition AS STRING) AS partition_str", "offset AS offset_num"),
                path=f"{base_dir}/bronze/{table}",
                checkpoint=f"{base_dir}/ckpt/bronze_{table}",
                available_now=available_now,
                processing_interval_ms=interval,
            )
            from ..sources.cdc import parse_envelope
            from ..schemas import envelope_schema

            p = F.col("j.payload")
            parsed = parse_envelope(events, envelope_schema(spec["row"]))
            flat = parsed.select(
                *[F.coalesce(p.after[k], p.before[k]).alias(k) for k in spec["keys"]],
                *[p.after[f.name].alias(f.name) for f in spec["row"].fields if f.name not in spec["keys"]],
                p.op.alias("op"),
                p.source["ts_ms"].alias("ts_ms"),
                F.col("offset"),
            )
            sink = {
                "replacing": silver_upsert_stream,
                "summing": silver_summing_stream,
                "collapsing": silver_collapsing_stream,
            }
            if engine not in sink:
                raise ValueError(
                    f"engine must be one of {sorted(sink)}, got {engine!r}"
                )
            silver_q = sink[engine](
                flat,
                path=f"{base_dir}/silver/{table}",
                checkpoint=f"{base_dir}/ckpt/silver_{table}",
                keys=spec["keys"],
                available_now=available_now,
                processing_interval_ms=interval,
                **(engine_opts or {}),
            )
        finally:
            if config and config.scheduler_pool:
                sc.setLocalProperty("spark.scheduler.pool", prev_pool)
        return {"bronze": bronze_q, "silver": silver_q}

    def drop_mv(self, name: str) -> None:
        """D2 — idempotent drop (DROP VIEW IF EXISTS, clickhouse.sql:2-6)."""
        mv = self.views.pop(name, None)
        if mv is not None:
            mv.query.stop()

    def await_all(self, timeout_s: float | None = None) -> None:
        """T8 — fail-fast: surface the first query exception."""
        for mv in self.views.values():
            mv.query.awaitTermination(timeout_s)
            if mv.query.exception() is not None:
                raise mv.query.exception()

    def stop_all(self) -> None:
        for mv in list(self.views.values()):
            mv.query.stop()
        self.views.clear()


def corrupt_filter(parsed: DataFrame, payload_col: str = "j") -> tuple[DataFrame, DataFrame]:
    """T2 — split good/poison messages after PERMISSIVE parse: NULL payload
    = unparseable (kafka_skip_broken_messages equivalent).  Returns (good,
    dead_letter)."""
    good = parsed.filter(F.col(payload_col).isNotNull() & F.col(f"{payload_col}.payload").isNotNull())
    dead = parsed.filter(F.col(payload_col).isNull() | F.col(f"{payload_col}.payload").isNull())
    return good, dead
