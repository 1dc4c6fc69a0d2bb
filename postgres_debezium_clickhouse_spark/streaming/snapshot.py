"""Debezium INCREMENTAL SNAPSHOT — signal-triggered, chunked, concurrent
with the live stream (r11).

Reference surface: Debezium's ad-hoc incremental snapshot — an INSERT
into the signal table (``signal.data.collection``; the public
``execute-snapshot`` signal) makes the connector re-read a table in
PK-ordered chunks WHILE change events keep flowing, so a connector
started with ``snapshot.mode=never`` (or one that needs a backfill after
a reconfiguration) can converge on full-table state with no downtime.
The published algorithm (DBLog, Netflix 2019 — the paper Debezium's
implementation cites) brackets every chunk read between a LOW and HIGH
watermark written to the log: a change event for key K arriving inside
the window supersedes the chunk's row for K; the chunk row stands
otherwise.

Spark-first re-expression: the silver store is already version-latest-
wins with a deterministic (version, tiebreak) order (operators/upsert.py
``apply_cdc`` — eager FINAL).  DBLog's watermark dedup maps EXACTLY onto
that order: emit every chunk row with ``version = the snapshot's
watermark`` and a tiebreak BELOW any real log offset, and the merge
itself makes the three DBLog guarantees hold with no new machinery:

* a change event versioned after the watermark beats the chunk row for
  its key, whether it was merged before or after the chunk (window
  dedup, order-insensitive — no actual watermark bookkeeping needed);
* a key deleted after the watermark stays deleted (the store keeps
  tombstones internally; the tombstone's version wins);
* a key whose stored state predates the watermark is refreshed to table
  truth (snapshot version wins), including keys the stream had NEVER
  seen — the backfill case the feature exists for.

Chunking is Debezium's PK-range walk: boundaries come from one
``approxQuantile`` pass (no global sort, O(n_chunks) driver memory), and
each chunk is a predicate-pushdown range scan merged through the same
touched-bucket + epoch-claim/CAS publish path as every other sink — per
chunk cost is O(chunk + touched buckets), never O(store).  Progress
persists per chunk (Debezium stores snapshot progress in its offsets),
so a crashed snapshot resumes from the first unfinished chunk; chunk
re-merge after a crash-before-progress-write is a latest-wins no-op, so
the resume is exactly-once-effective without coordination.
"""

from __future__ import annotations

import datetime
import decimal
import fcntl
import json
import os
import sys
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipeline import DEFAULT_SILVER_BUCKETS, _cdc_upsert

SIGNAL_DIR = "_signals"
_EPOCH_DATE = datetime.date(1970, 1, 1)


def plan_snapshot_chunks(
    table: DataFrame, order_col: str, n_chunks: int
) -> list[tuple[float | None, float | None]]:
    """PK-range chunk boundaries as half-open intervals [lo, hi) with
    open ends at both extremes — one approxQuantile pass, no sort.
    Boundaries are deduplicated, so skewed keys yield fewer (never
    overlapping) chunks."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    if n_chunks == 1:
        return [(None, None)]
    probs = [i / n_chunks for i in range(1, n_chunks)]
    dtype = dict(table.dtypes).get(order_col)
    # approxQuantile returns floats; the cut must go back to the
    # column's type, or every chunk predicate compares
    # `cast(col as double) >= <float>` — which BLOCKS parquet filter
    # pushdown and turns each chunk scan into a full-table read (r17
    # plan pin caught this for integral PKs; r18 extends it to the
    # other common Debezium ordering types, decimal(p,s) and date).
    if dtype == "date":
        # approxQuantile has no DateType support — quantile the
        # epoch-day projection, convert cuts back to dates
        qs = table.select(
            F.unix_date(F.col(order_col)).alias("__oc")
        ).approxQuantile("__oc", probs, 0.001)
        qs = [_EPOCH_DATE + datetime.timedelta(days=int(q)) for q in qs]
    else:
        qs = table.approxQuantile(order_col, probs, 0.001)
        if dtype in ("bigint", "int", "smallint", "tinyint"):
            qs = [int(q) for q in qs]
        elif dtype is not None and dtype.startswith("decimal"):
            scale = int(dtype.rstrip(")").split(",")[1])
            quant = decimal.Decimal(1).scaleb(-scale)
            qs = [decimal.Decimal(repr(q)).quantize(
                quant, rounding=decimal.ROUND_HALF_EVEN) for q in qs]
    cuts: list = []
    for q in qs:
        if not cuts or q > cuts[-1]:
            cuts.append(q)
    # bounds round-trip through the JSON progress file (resume contract)
    # — date/decimal cuts travel as strings; _chunk_pred's dtype cast
    # re-types the literal (constant-folded, still pushdown-eligible)
    cuts = [c.isoformat() if isinstance(c, datetime.date)
            else str(c) if isinstance(c, decimal.Decimal) else c
            for c in cuts]
    bounds: list[tuple[float | None, float | None]] = []
    lo: float | None = None
    for c in cuts:
        bounds.append((lo, c))
        lo = c
    bounds.append((lo, None))
    return bounds


def _chunk_pred(order_col: str, lo, hi, dtype: str | None = None):
    """Half-open range predicate; ``dtype`` (the order column's Spark
    type string) casts the literals to the column's exact type so the
    comparison stays pushdown-eligible — a Python Decimal otherwise
    becomes decimal(38,18) and a cast lands on the COLUMN instead."""
    col = F.col(order_col)
    lit = (lambda v: F.lit(v).cast(dtype)) if dtype else F.lit
    if lo is None and hi is None:
        return F.lit(True)
    if lo is None:
        return col < lit(hi)
    if hi is None:
        return col >= lit(lo)
    return (col >= lit(lo)) & (col < lit(hi))


def signal_snapshot(
    path: str,
    *,
    order_col: str,
    n_chunks: int,
    watermark_version,
    signal_id: str | None = None,
    snapshot_type: str = "incremental",
    additional_condition: str | None = None,
) -> str:
    """The signal-table INSERT, re-expressed: enqueue an
    ``execute-snapshot`` signal under the store's ``_signals/`` dir.
    Returns the signal id.  ``watermark_version`` is the version stamped
    on every chunk row (the snapshot's low watermark): pick a value at or
    above every change event already applied and below the next ones —
    for Debezium-shaped streams, the signal time in the stream's own
    ``ts_ms`` domain.  ``snapshot_type`` mirrors the Debezium payload's
    ``type`` field: 'incremental' (default, interleaves with the
    stream) or 'blocking' (suspends stream merges for the duration —
    :func:`run_blocking_snapshot`).  ``additional_condition`` mirrors
    Debezium's ``additional-conditions`` filter (a SQL predicate
    appended to every chunk SELECT): only matching rows are re-read —
    non-matching keys keep whatever state the stream gave them, and are
    NOT backfilled (the documented filtered-snapshot contract)."""
    if snapshot_type not in ("incremental", "blocking"):
        raise ValueError(
            f"snapshot_type must be incremental|blocking, got {snapshot_type!r}"
        )
    sid = signal_id or uuid.uuid4().hex[:16]
    sdir = os.path.join(path, SIGNAL_DIR)
    os.makedirs(sdir, exist_ok=True)
    final = os.path.join(sdir, f"{sid}.json")
    for leftover in (final, final + ".done", final + ".stopped"):
        if os.path.exists(leftover):
            raise ValueError(f"signal {sid} already exists at {path}")
    # A bare {sid}.stop with no signal file is an orphan marker (a stop
    # issued against a direct ad-hoc run, or for a signal that never
    # existed); clear it so the new signal isn't stillborn.
    stale_stop = os.path.join(sdir, f"{sid}.stop")
    if os.path.exists(stale_stop):
        os.unlink(stale_stop)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "id": sid,
                "type": "execute-snapshot",
                "snapshot_type": snapshot_type,
                "order_col": order_col,
                "n_chunks": n_chunks,
                "watermark_version": watermark_version,
                "additional_condition": additional_condition,
            },
            fh,
        )
    os.rename(tmp, final)
    return sid


def signal_stop_snapshot(path: str, target_signal_id: str) -> None:
    """The Debezium ``stop-snapshot`` signal: cancel an in-progress (or
    not-yet-started) incremental snapshot.  Chunks already merged STAY —
    they are correct table truth at the watermark — only the remaining
    chunks are skipped (Debezium's documented semantics: the collection
    is removed from the snapshot's to-do, not rolled back)."""
    sdir = os.path.join(path, SIGNAL_DIR)
    os.makedirs(sdir, exist_ok=True)
    marker = os.path.join(sdir, f"{target_signal_id}.stop")
    tmp = f"{marker}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        fh.write("stop-snapshot")
    os.rename(tmp, marker)


def _stop_requested(path: str, sid: str) -> bool:
    return os.path.exists(os.path.join(path, SIGNAL_DIR, f"{sid}.stop"))


PAUSE_MARKER = "pause"


def signal_pause_snapshot(path: str) -> None:
    """The Debezium ``pause-snapshot`` signal: suspend the in-progress
    incremental snapshot (change events keep flowing; no chunks are read
    until resume).  Debezium's pause is connector-global, not per signal
    id — modeled as one marker under ``_signals/``.  Progress (completed
    chunk indices AND the planned chunk bounds) persists, so resume
    continues with the exact cuts the paused run computed."""
    sdir = os.path.join(path, SIGNAL_DIR)
    os.makedirs(sdir, exist_ok=True)
    marker = os.path.join(sdir, PAUSE_MARKER)
    tmp = f"{marker}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        fh.write("pause-snapshot")
    os.rename(tmp, marker)


def signal_resume_snapshot(path: str) -> None:
    """The Debezium ``resume-snapshot`` signal: lift a pause.  A no-op
    when not paused (Debezium logs and ignores the same way)."""
    try:
        os.unlink(os.path.join(path, SIGNAL_DIR, PAUSE_MARKER))
    except FileNotFoundError:
        pass


def _paused(path: str) -> bool:
    return os.path.exists(os.path.join(path, SIGNAL_DIR, PAUSE_MARKER))


def list_signals(path: str) -> list[dict]:
    """Pending signals (oldest first by id-file mtime)."""
    sdir = os.path.join(path, SIGNAL_DIR)
    if not os.path.isdir(sdir):
        return []
    names = [
        n for n in os.listdir(sdir)
        if n.endswith(".json") and not n.endswith(".tmp")
    ]
    names.sort(key=lambda n: os.path.getmtime(os.path.join(sdir, n)))
    out = []
    for n in names:
        with open(os.path.join(sdir, n)) as fh:
            out.append(json.load(fh))
    return out


def _progress_path(path: str, sid: str) -> str:
    return os.path.join(path, SIGNAL_DIR, f"{sid}.progress")


# --------------------------------------------------- consistency vectors

def _vector_path(coord: str, sid: str) -> str:
    return os.path.join(coord, SIGNAL_DIR, f"{sid}.vector.json")


def _append_vector(coord: str, sid: str, entry: dict) -> None:
    """Keep-FIRST per boundary: a resumed run re-walks earlier cycles
    (chunks skipped via the progress set) and must not overwrite the
    original frontier's versions with post-resume state (r18
    self-review); the ``completed`` entry is its own slot."""
    p = _vector_path(coord, sid)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    vectors = snapshot_consistency_vectors(coord, sid)
    key = ("completed" if entry.get("completed") else entry["chunk_index"])
    for v in vectors:
        if ("completed" if v.get("completed") else v["chunk_index"]) == key:
            return
    vectors.append(entry)
    tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(vectors, fh)
    os.rename(tmp, p)


def _clear_vectors(coord: str, sid: str) -> None:
    try:
        os.unlink(_vector_path(coord, sid))
    except FileNotFoundError:
        pass


def snapshot_consistency_vectors(coord: str, sid: str) -> list[dict]:
    """The cross-store version vectors a multi-table snapshot records at
    every lockstep boundary (r18, verdict item 6): entry ``i`` holds
    ``{"chunk_index": i, "versions": {table: silver_version}}`` captured
    when chunk ``i`` of EVERY table had committed — the strongest
    consistency points the Debezium-parity contract admits mid-backfill
    (all stores at the same chunk frontier).  The final entry carries
    ``"completed": true``.  Vectors OUTLIVE the progress file so
    post-completion readers can still pin the cut."""
    try:
        with open(_vector_path(coord, sid)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return []


def read_snapshot_consistent(
    spark,
    paths: dict[str, str],
    coord: str,
    sid: str,
    boundary: int = -1,
) -> dict:
    """Atomic multi-store read of a co-captured snapshot: every store is
    read AS OF the version its vector entry pinned (time travel), so the
    result is a cross-table-consistent cut at a lockstep chunk boundary
    — the opt-in escape from the documented mid-backfill skew
    (run_incremental_snapshot_multi's visibility contract).  ``boundary``
    >= 0 selects the entry recorded for that CHUNK INDEX (not a list
    position — a paused/resumed run records boundaries keep-first);
    the default -1 selects the newest entry (the ``completed`` one
    after a finished snapshot).  Requires the pinned versions to still
    be un-vacuumed (read_silver fails loudly otherwise, never returns
    partial state)."""
    from .pipeline import read_silver

    vectors = snapshot_consistency_vectors(coord, sid)
    if not vectors:
        raise ValueError(
            f"no consistency vectors recorded for signal {sid!r} at "
            f"{coord!r}")
    if boundary < 0:
        entry = vectors[boundary]
    else:
        matches = [v for v in vectors
                   if not v.get("completed")
                   and v.get("chunk_index") == boundary]
        if not matches:
            raise ValueError(
                f"no vector recorded for chunk boundary {boundary}")
        entry = matches[0]
    out = {}
    for t, path in sorted(paths.items()):
        v = entry["versions"].get(t)
        if v is None:
            raise ValueError(f"vector has no version for table {t!r}")
        out[t] = read_silver(spark, path, as_of_version=v)
    return out


def _read_progress(
    path: str, sid: str
) -> tuple[set[int], list[tuple[float | None, float | None]] | None]:
    """(completed chunk indices, saved chunk bounds or None).

    Bounds are persisted alongside progress because completed indices are
    only meaningful against the cuts they were computed from: Debezium
    stores the actual chunk boundaries in its offsets for the same reason
    — re-planning on resume against a table the live stream has since
    mutated would shift the cuts and silently skip the keys that moved
    between ranges."""
    try:
        with open(_progress_path(path, sid)) as fh:
            d = json.load(fh)
        bounds = d.get("bounds")
        if bounds is not None:
            bounds = [(lo, hi) for lo, hi in bounds]
        return set(d["completed"]), bounds
    except (OSError, ValueError, KeyError):
        return set(), None


def _write_progress(
    path: str,
    sid: str,
    completed: set[int],
    bounds: list[tuple[float | None, float | None]],
) -> None:
    p = _progress_path(path, sid)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"completed": sorted(completed),
             "bounds": [[lo, hi] for lo, hi in bounds]},
            fh,
        )
    os.rename(tmp, p)


def _clear_progress(path: str, sid: str) -> None:
    try:
        os.unlink(_progress_path(path, sid))
    except FileNotFoundError:
        pass


def run_incremental_snapshot(
    source_table: DataFrame,
    path: str,
    keys: list[str],
    *,
    order_col: str,
    watermark_version,
    n_chunks: int = 8,
    version_col: str = "ts_ms",
    tiebreak_col: str = "offset",
    op_col: str = "op",
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    signal_id: str | None = None,
    interleave_hook=None,
    additional_condition: str | None = None,
) -> int:
    """Execute one incremental snapshot of ``source_table`` into the
    silver store at ``path``; returns the number of chunks merged this
    call (resumed chunks excluded).

    ``source_table`` is the table's CURRENT truth (the JDBC/parquet scan
    Debezium would chunk-SELECT), with the store's row columns.  Chunk
    rows are stamped ``op='r'``, ``version_col=watermark_version`` and
    ``tiebreak_col=-1`` — strictly below every real log event at or
    after the watermark, which is the entire DBLog window-dedup rule
    under the store's latest-wins order.

    ``interleave_hook(chunk_index)`` (tests) runs after each chunk's
    merge+progress, simulating change events landing mid-snapshot.

    The default signal id is fresh per invocation, so two unrelated
    ad-hoc snapshots never share a progress file (a re-backfill must
    re-merge, not silently no-op); pass an explicit ``signal_id`` to
    resume a crashed or paused run.  Chunk bounds are planned once and
    persisted with the progress — a resume reuses them verbatim instead
    of re-quantiling a table the live stream has mutated since.

    ``additional_condition`` (Debezium's ``additional-conditions``,
    filtered ad-hoc snapshot): a SQL predicate applied to the source
    BEFORE chunk planning and every chunk read — so the quantile cuts
    are computed over the filtered keyspace (no empty chunks on a
    selective filter) and the predicate pushes into every chunk scan
    next to the PK-range bounds.  Non-matching keys are untouched: not
    refreshed, not backfilled, never deleted."""
    sid = signal_id or f"adhoc-{uuid.uuid4().hex[:12]}"
    if additional_condition:
        source_table = source_table.filter(F.expr(additional_condition))
    done, bounds = _read_progress(path, sid)
    _AGG = "Incremental Snapshot"
    if bounds is None:
        bounds = plan_snapshot_chunks(source_table, order_col, n_chunks)
        _write_progress(path, sid, done, bounds)
        emit_notification(path, _AGG, "STARTED",
                          {"signal_id": sid, "total_chunks": len(bounds)})
    else:
        emit_notification(path, _AGG, "RESUMED",
                          {"signal_id": sid, "chunks_done": len(done)})
    merged = 0
    paused = stopped = False
    order_dtype = dict(source_table.dtypes).get(order_col)
    for i, (lo, hi) in enumerate(bounds):
        if _stop_requested(path, sid):
            stopped = True
            break  # stop-snapshot: merged chunks stay, the rest skipped
        if _paused(path):
            paused = True
            break  # pause-snapshot: progress kept, resume continues here
        if i in done:
            continue
        chunk = (
            source_table.filter(_chunk_pred(order_col, lo, hi, order_dtype))
            .withColumn(op_col, F.lit("r"))
            .withColumn(version_col, F.lit(watermark_version))
            .withColumn(tiebreak_col, F.lit(-1).cast("long"))
        )
        _cdc_upsert(chunk, path, keys, n_buckets, version_col, tiebreak_col, op_col)
        done.add(i)
        _write_progress(path, sid, done, bounds)
        merged += 1
        emit_notification(
            path, _AGG, "IN_PROGRESS",
            {"signal_id": sid, "chunk_index": i,
             "chunks_done": len(done), "total_chunks": len(bounds)},
        )
        if interleave_hook is not None:
            interleave_hook(i)
    # Progress exists only while a resume is still possible: a completed
    # snapshot clears it (so the next ad-hoc run against the same sid
    # re-merges instead of no-opping), and a stopped one clears it too
    # (Debezium's stop removes the collection from the snapshot — there
    # is nothing to resume).  A paused run keeps it by design.
    if paused:
        emit_notification(path, _AGG, "PAUSED",
                          {"signal_id": sid, "chunks_done": len(done)})
    elif stopped:
        emit_notification(path, _AGG, "ABORTED",
                          {"signal_id": sid, "chunks_done": len(done)})
    else:
        emit_notification(
            path, _AGG, "TABLE_SCAN_COMPLETED",
            {"signal_id": sid, "total_chunks": len(bounds)},
        )
        emit_notification(path, _AGG, "COMPLETED", {"signal_id": sid})
    if not paused:
        _clear_progress(path, sid)
    return merged


def run_blocking_snapshot(
    source_table: DataFrame,
    path: str,
    keys: list[str],
    *,
    order_col: str,
    watermark_version,
    n_chunks: int = 8,
    version_col: str = "ts_ms",
    tiebreak_col: str = "offset",
    op_col: str = "op",
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    interleave_hook=None,
    additional_condition: str | None = None,
) -> int:
    """Debezium ad-hoc BLOCKING snapshot (``execute-snapshot`` with
    ``type: BLOCKING`` — the last public signal type next to
    execute/stop/pause/resume): streaming is SUSPENDED for the whole
    snapshot, the table is re-read consistently, then streaming resumes.
    Where the incremental snapshot interleaves chunk merges with live
    change batches (window-dedup doing the reconciliation), the blocking
    variant holds the store's blocking lock — every
    ``silver_upsert_stream`` merge waits in ``wait_until_unblocked``
    until the lock clears — so no change batch can land between chunks
    and the store transitions ATOMICALLY (w.r.t. the stream) from
    pre-snapshot state to table truth.

    Same chunk machinery as :func:`run_incremental_snapshot` (PK-range
    chunks, O(touched-buckets) merges); pause/stop signals do NOT apply
    (Debezium's pause/stop are incremental-only — a blocking snapshot is
    all-or-nothing), and no progress file is kept: a crash mid-blocking
    re-runs from scratch, releasing the lock via the ``finally``.

    ``interleave_hook(chunk_index)`` (tests) fires between chunks WHILE
    the lock is held — the hook's attempted merge must block, which is
    exactly what the pytest asserts.  Returns chunks merged."""
    from .pipeline import _blocking_lock_path

    lock = _blocking_lock_path(path)
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    if os.path.exists(lock):
        raise RuntimeError(f"another blocking snapshot holds {path}")
    with open(lock, "w") as fh:
        json.dump({"order_col": order_col,
                   "watermark_version": watermark_version}, fh)
    merged = 0
    if additional_condition:
        # Debezium's additional-conditions apply to blocking snapshots
        # too — same filtered-keyspace planning as the incremental path
        source_table = source_table.filter(F.expr(additional_condition))
    ok = False
    started = False
    try:
        bounds = plan_snapshot_chunks(source_table, order_col, n_chunks)
        emit_notification(path, "Blocking Snapshot", "STARTED",
                          {"total_chunks": len(bounds)})
        started = True
        order_dtype = dict(source_table.dtypes).get(order_col)
        for i, (lo, hi) in enumerate(bounds):
            chunk = (
                source_table.filter(
                    _chunk_pred(order_col, lo, hi, order_dtype))
                .withColumn(op_col, F.lit("r"))
                .withColumn(version_col, F.lit(watermark_version))
                .withColumn(tiebreak_col, F.lit(-1).cast("long"))
            )
            _cdc_upsert(chunk, path, keys, n_buckets, version_col,
                        tiebreak_col, op_col)
            merged += 1
            if interleave_hook is not None:
                interleave_hook(i)
        ok = True
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
        # Lifecycle pairing contract: a terminal COMPLETED/ABORTED is
        # emitted only if STARTED was — a planning failure (before any
        # chunk work) leaves the feed untouched rather than producing an
        # orphan ABORTED with no matching STARTED (r15 ADVICE).
        if started:
            emit_notification(
                path, "Blocking Snapshot",
                "COMPLETED" if ok else "ABORTED", {"chunks_done": merged},
            )
    return merged


def process_signals(
    source_table: DataFrame,
    path: str,
    keys: list[str],
    *,
    version_col: str = "ts_ms",
    tiebreak_col: str = "offset",
    op_col: str = "op",
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    interleave_hook=None,
) -> list[str]:
    """Drain pending ``execute-snapshot`` signals against ``path`` (the
    connector's signal-poll loop).  Each completed signal's file is
    renamed to ``.json.done`` (kept — signal history is part of the
    Debezium contract); a stopped one to ``.json.stopped`` (its stop
    marker is then drained, so the id could in principle be reused after
    history cleanup); a PAUSED one stays pending with its progress intact
    and is picked up again after ``signal_resume_snapshot``.  Returns the
    signal ids that reached a terminal state this call."""
    processed = []
    sdir = os.path.join(path, SIGNAL_DIR)
    for sig in list_signals(path):
        if sig.get("type") != "execute-snapshot":
            continue
        sid = sig["id"]
        if sig.get("snapshot_type") == "blocking":
            # blocking variant: not pausable/stoppable, no progress file
            run_blocking_snapshot(
                source_table, path, keys,
                order_col=sig["order_col"],
                watermark_version=sig["watermark_version"],
                n_chunks=sig["n_chunks"],
                version_col=version_col,
                tiebreak_col=tiebreak_col,
                op_col=op_col,
                n_buckets=n_buckets,
                interleave_hook=interleave_hook,
                additional_condition=sig.get("additional_condition"),
            )
            os.rename(
                os.path.join(sdir, f"{sid}.json"),
                os.path.join(sdir, f"{sid}.json.done"),
            )
            processed.append(sid)
            continue
        run_incremental_snapshot(
            source_table, path, keys,
            order_col=sig["order_col"],
            watermark_version=sig["watermark_version"],
            n_chunks=sig["n_chunks"],
            version_col=version_col,
            tiebreak_col=tiebreak_col,
            op_col=op_col,
            n_buckets=n_buckets,
            signal_id=sid,
            interleave_hook=interleave_hook,
            additional_condition=sig.get("additional_condition"),
        )
        if _stop_requested(path, sid):
            suffix = ".json.stopped"
            os.unlink(os.path.join(sdir, f"{sid}.stop"))
        elif os.path.exists(_progress_path(path, sid)):
            continue  # paused mid-snapshot: stays pending for resume
        else:
            suffix = ".json.done"
        os.rename(
            os.path.join(sdir, f"{sid}.json"),
            os.path.join(sdir, f"{sid}{suffix}"),
        )
        _clear_progress(path, sid)
        processed.append(sid)
    return processed


# ---------------------------------------------------------------------------
# Kafka-channel signals (r14) — Debezium `signal.enabled.channels=kafka`
# ---------------------------------------------------------------------------

KAFKA_OFFSET_FILE = "kafka_channel.offset"


def _notifications_path(path: str) -> str:
    return os.path.join(path, "_notifications.jsonl")


def emit_notification(
    path: str,
    aggregate_type: str,
    notif_type: str,
    additional_data: dict | None = None,
) -> None:
    """r15 — Debezium's NOTIFICATION surface (public docs: Debezium 2.3+
    ``notification.enabled.channels``; each notification is
    ``{id, aggregate_type, type, additional_data, timestamp}`` with
    aggregate types like "Incremental Snapshot" / "Initial Snapshot"
    and progress types STARTED / IN_PROGRESS / TABLE_SCAN_COMPLETED /
    COMPLETED / ABORTED / PAUSED): the operator-facing progress feed
    the signal channel's requests report back on.

    Re-expressed on the engine's sink channel: an append-only JSONL
    file under the store (``_notifications.jsonl``), flock-serialized
    like the kafka signal topic so concurrent chunk runners never
    interleave partial lines.  Observability plane — wall-clock
    timestamps are expected and tests assert only ids/types/order."""
    import time as _time

    os.makedirs(path, exist_ok=True)
    npath = _notifications_path(path)
    rec = {
        "id": uuid.uuid4().hex,
        "aggregate_type": aggregate_type,
        "type": notif_type,
        "additional_data": additional_data or {},
        "timestamp": int(_time.time() * 1000),
    }
    line = json.dumps(rec)
    with open(npath + ".lock", "a") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        try:
            with open(npath, "a") as fh:
                fh.write(line + "\n")
                fh.flush()
        finally:
            fcntl.flock(lock_fh, fcntl.LOCK_UN)


def read_notifications(path: str) -> list[dict]:
    """Consumer side of the notification feed: every notification in
    emit order (the flock total order)."""
    npath = _notifications_path(path)
    if not os.path.exists(npath):
        return []
    with open(npath) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def kafka_signal_topic_append(topic_path: str, message: dict) -> int:
    """Producer side of the signal TOPIC (Debezium docs: a
    single-partition Kafka topic named by ``signal.kafka.topic``, the
    channel operators use when the source signal TABLE is locked down —
    the reference's REST-driven ops model, basic_example/start.sh).
    Re-expressed on the engine's topic-shape: an append-only JSONL file
    — ordered, offset-addressed (offset = line number), immutable
    messages — the same file-stream stand-in the Kafka source uses in
    this jar-less sandbox (sources/kafka.py).  Returns the appended
    message's offset.

    Concurrency: producers serialize on an ``flock`` over a sidecar
    ``<topic>.lock`` (Kafka's single-partition topic is a total order;
    two unlocked appenders could interleave partial lines AND report
    the same offset).  The offset is tracked O(1) via a
    ``<topic>.nextoffset`` sidecar maintained under the same lock —
    initialized by one line-count scan if the topic pre-exists, never
    re-scanned per append."""
    os.makedirs(os.path.dirname(topic_path) or ".", exist_ok=True)
    line = json.dumps(message)
    if "\n" in line:
        raise ValueError("signal message must serialize to one line")
    lock_path = topic_path + ".lock"
    sidecar = topic_path + ".nextoffset"
    with open(lock_path, "a") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        try:
            if os.path.exists(sidecar):
                with open(sidecar) as fh:
                    offset = int(fh.read().strip() or 0)
            elif os.path.exists(topic_path):
                with open(topic_path) as fh:
                    offset = sum(1 for _ in fh)
            else:
                offset = 0
            with open(topic_path, "a") as fh:
                fh.write(line + "\n")
                fh.flush()
            tmp = f"{sidecar}.{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as fh:
                fh.write(str(offset + 1))
            os.rename(tmp, sidecar)
        finally:
            fcntl.flock(lock_fh, fcntl.LOCK_UN)
    return offset


def poll_kafka_signal_channel(topic_path: str, path: str) -> list[str]:
    """Consumer side: drain new messages (from the committed offset) off
    the signal topic into the store's file-signal queue, then advance
    the offset — after which the existing :func:`process_signals` loop
    executes them unchanged (one signal surface, two channels, exactly
    Debezium's layering).

    Message shape mirrors the Debezium kafka-signal envelope:
    ``{"id": ..., "type": "execute-snapshot", "data": {"type":
    "INCREMENTAL"|"BLOCKING", "order_col": ..., "n_chunks": ...,
    "watermark_version": ..., "additional-conditions": ...}}``; also
    honored: ``stop-snapshot`` (``data.signal-id`` or the message id),
    ``pause-snapshot``, ``resume-snapshot``.  Unknown types are logged
    semantics — skipped, the offset still advances (Debezium
    logs-and-ignores).

    Delivery is at-least-once (the offset commits AFTER enqueueing);
    replays are harmless because signal ids dedupe — an id already
    queued or already terminal raises in :func:`signal_snapshot` and is
    skipped here.  The offset file lives under ``_signals/`` next to
    the queue it feeds and commits via tmp+rename."""
    sdir = os.path.join(path, SIGNAL_DIR)
    os.makedirs(sdir, exist_ok=True)
    offset_file = os.path.join(sdir, KAFKA_OFFSET_FILE)
    start = 0
    if os.path.exists(offset_file):
        with open(offset_file) as fh:
            start = int(fh.read().strip() or 0)
    if not os.path.exists(topic_path):
        return []
    with open(topic_path) as fh:
        lines = fh.read().splitlines()
    enqueued: list[str] = []
    for off, line in enumerate(lines[start:], start=start):
        if not line.strip():
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            continue  # poison message: skip, never wedge the channel
        if not isinstance(msg, dict):
            continue  # JSON but not an envelope (poison): skip
        mtype = msg.get("type")
        data = msg.get("data") or {}
        if mtype == "execute-snapshot":
            try:
                enqueued.append(signal_snapshot(
                    path,
                    order_col=data["order_col"],
                    n_chunks=int(data["n_chunks"]),
                    watermark_version=data["watermark_version"],
                    signal_id=msg.get("id"),
                    snapshot_type=str(
                        data.get("type", "INCREMENTAL")).lower(),
                    additional_condition=data.get("additional-conditions"),
                ))
            except (ValueError, KeyError) as exc:
                # Debezium's contract is log-and-ignore: the offset
                # still advances, but the skip must leave a trace
                # (duplicate id on replay, malformed snapshot type, or
                # a missing required field).
                print(
                    "[kafka-signal] skipping execute-snapshot "
                    f"id={msg.get('id')!r} at offset {off}: "
                    f"{type(exc).__name__}: {exc}",
                    file=sys.stderr,
                )
        elif mtype == "stop-snapshot":
            target = data.get("signal-id") or msg.get("id")
            if target:
                signal_stop_snapshot(path, target)
        elif mtype == "pause-snapshot":
            signal_pause_snapshot(path)
        elif mtype == "resume-snapshot":
            signal_resume_snapshot(path)
    tmp = f"{offset_file}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        fh.write(str(len(lines)))
    os.rename(tmp, offset_file)
    return enqueued


def _read_progress_multi(path: str, sid: str):
    try:
        with open(_progress_path(path, sid)) as fh:
            d = json.load(fh)
        bounds = d.get("bounds")
        if bounds is not None:
            bounds = {t: [(lo, hi) for lo, hi in bb]
                      for t, bb in bounds.items()}
        return set(tuple(c) for c in d["completed"]), bounds
    except (OSError, ValueError, KeyError):
        return set(), None


def _write_progress_multi(path, sid, completed, bounds) -> None:
    p = _progress_path(path, sid)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = f"{p}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {"completed": sorted(list(c) for c in completed),
             "bounds": {t: [[lo, hi] for lo, hi in bb]
                        for t, bb in bounds.items()}},
            fh,
        )
    os.rename(tmp, p)


def run_incremental_snapshot_multi(
    tables: dict[str, dict],
    *,
    watermark_version,
    n_chunks: int = 8,
    version_col: str = "ts_ms",
    tiebreak_col: str = "offset",
    op_col: str = "op",
    n_buckets: int = DEFAULT_SILVER_BUCKETS,
    signal_id: str | None = None,
    interleave_hook=None,
) -> int:
    """Incremental snapshot of CO-CAPTURED tables under ONE signal /
    progress cycle (r17, verdict item 7) — the composition gap between
    :func:`run_incremental_snapshot` (one store per call) and the
    cross-table txn sink (``silver_txn_multi_upsert_stream``): Debezium's
    ``execute-snapshot`` signal takes a LIST of collections, and the
    reference's scenario-2 shape (header + details) re-backfills both.

    ``tables`` maps collection name → ``{"source_table": DataFrame
    (that table's current truth), "path": store path, "keys": [...],
    "order_col": chunking column, "additional_condition"?: SQL}``.
    Chunks are planned per table, then merged in LOCKSTEP: chunk ``i``
    of every table (sorted-name order) commits before any table's chunk
    ``i+1`` — one shared progress file, one notification stream, one
    pause/stop signal check per cycle, all hosted at the FIRST (sorted)
    table's store path, which acts as the coordinator.

    ## Visibility contract — read this before relying on it

    Lockstep NARROWS the cross-table skew to one chunk, but does NOT
    close it: a reader between table A's chunk-``i`` publish and table
    B's sees A's refreshed keyspace slice next to B's stale one.  This
    matches the upstream semantics exactly — Debezium's incremental
    snapshot offers NO cross-collection point-in-time consistency (each
    chunk SELECT runs at its own read time; the DBLog window-dedup
    guarantees per-KEY convergence, not cross-table snapshot isolation).
    The guarantees that DO hold, per store, are the single-table ones:
    post-watermark change events (including the multi-table txn sink's
    atomic releases) beat chunk rows key-by-key, deletes stay deleted,
    and every store converges to table truth ∘ later-events once the
    snapshot completes.  A reader that needs cross-table atomicity
    during a backfill must use :func:`run_blocking_snapshot` per store
    (stream suspended) or read both stores AS OF a silver version after
    COMPLETED (time travel).

    Resume/pause/stop semantics are the single-table ones, applied to
    the whole group (one progress file keyed by ``signal_id``)."""
    sid = signal_id or f"adhoc-{uuid.uuid4().hex[:12]}"
    names = sorted(tables)
    coord = tables[names[0]]["path"]
    sources = {}
    for t in names:
        st = tables[t]["source_table"]
        cond = tables[t].get("additional_condition")
        sources[t] = st.filter(F.expr(cond)) if cond else st
    done, bounds = _read_progress_multi(coord, sid)
    _AGG = "Incremental Snapshot"
    if bounds is None:
        bounds = {
            t: plan_snapshot_chunks(sources[t], tables[t]["order_col"],
                                    n_chunks)
            for t in names
        }
        _write_progress_multi(coord, sid, done, bounds)
        # a FRESH run under a reused signal_id must not inherit the
        # previous backfill's vectors (keep-first would pin stale cuts)
        _clear_vectors(coord, sid)
        emit_notification(coord, _AGG, "STARTED", {
            "signal_id": sid, "tables": names,
            "total_chunks": sum(len(b) for b in bounds.values()),
        })
    else:
        emit_notification(coord, _AGG, "RESUMED", {
            "signal_id": sid, "tables": names, "chunks_done": len(done),
        })
    merged = 0
    paused = stopped = False
    max_chunks = max(len(b) for b in bounds.values())
    for i in range(max_chunks):
        if _stop_requested(coord, sid):
            stopped = True
            # consume-once: the stop marker cancels THIS run; a later
            # re-backfill under the same signal_id must not be
            # stillborn (the single-table flow drains markers through
            # process_signals, which direct multi runs never transit)
            try:
                os.unlink(os.path.join(coord, SIGNAL_DIR, f"{sid}.stop"))
            except FileNotFoundError:
                pass
            break
        if _paused(coord):
            paused = True
            break
        for t in names:
            if i >= len(bounds[t]) or (t, i) in done:
                continue
            lo, hi = bounds[t][i]
            order_col = tables[t]["order_col"]
            order_dtype = dict(sources[t].dtypes).get(order_col)
            chunk = (
                sources[t].filter(
                    _chunk_pred(order_col, lo, hi, order_dtype))
                .withColumn(op_col, F.lit("r"))
                .withColumn(version_col, F.lit(watermark_version))
                .withColumn(tiebreak_col, F.lit(-1).cast("long"))
            )
            _cdc_upsert(chunk, tables[t]["path"], tables[t]["keys"],
                        n_buckets, version_col, tiebreak_col, op_col)
            done.add((t, i))
            _write_progress_multi(coord, sid, done, bounds)
            merged += 1
            emit_notification(coord, _AGG, "IN_PROGRESS", {
                "signal_id": sid, "table": t, "chunk_index": i,
                "chunks_done": len(done),
                "total_chunks": sum(len(b) for b in bounds.values()),
            })
        if not (paused or stopped):
            # r18 (verdict item 6): record the cross-store version
            # vector at this lockstep boundary — every table now has
            # chunks 0..i applied, the consistency point
            # read_snapshot_consistent() pins via time travel
            _append_vector(coord, sid, {
                "chunk_index": i,
                "versions": {
                    t: (_manifest_version(tables[t]["path"]))
                    for t in names
                },
            })
        if interleave_hook is not None and not (paused or stopped):
            interleave_hook(i)
    if paused:
        emit_notification(coord, _AGG, "PAUSED",
                          {"signal_id": sid, "chunks_done": len(done)})
    elif stopped:
        emit_notification(coord, _AGG, "ABORTED",
                          {"signal_id": sid, "chunks_done": len(done)})
    else:
        for t in names:
            emit_notification(coord, _AGG, "TABLE_SCAN_COMPLETED",
                              {"signal_id": sid, "table": t,
                               "total_chunks": len(bounds[t])})
        emit_notification(coord, _AGG, "COMPLETED",
                          {"signal_id": sid, "tables": names})
        _append_vector(coord, sid, {
            "chunk_index": max_chunks - 1,
            "completed": True,
            "versions": {t: _manifest_version(tables[t]["path"])
                         for t in names},
        })
    if not paused:
        _clear_progress(coord, sid)
    return merged


def _manifest_version(path: str) -> int:
    from .pipeline import _SilverStore

    store = _SilverStore.load(path)
    if store is None:
        raise ValueError(f"no committed manifest at {path!r}")
    return store.version
