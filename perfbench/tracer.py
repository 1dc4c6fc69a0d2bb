"""Spans and per-layer counts for the traced run (``--trace 1``).

Every span is recorded from the benchmark's own files, around calls into the
engine's public functions, from four sources:

* job groups set around build, plan and execute of each query;
* ``StreamingQueryListener`` progress events (per-trigger phase durations);
* the commit clock installed as ``pipeline.COMMIT_BACKEND`` (claim, CAS);
* SQL status-store executions, attributed to triggers by the run id and
  batch id Spark writes into their description.

Spans stay in memory and are written to one JSON file when the run ends.
With tracing off, :class:`Tracer` records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import json
import os
import re
import statistics
import time

_BATCH_RE = re.compile(r"runId = (\S+)\s+batch = (\d+)")
_MB = 1024.0 * 1024.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.progress: list[dict] = []
        self.streams: dict[str, str] = {}  # runId -> silver store path
        self.vacuums: list[tuple[float, float]] = []
        self.overhead_s = 0.0  # time spent in tracer bookkeeping
        self.t_lo = 0.0  # start of the measured window
        self._epoch_to_mono = time.time() - time.monotonic()

    # -- spans ------------------------------------------------------------

    def span(self, name: str, layer: str, start: float, end: float,
             parent: int | None = None, **attrs) -> int:
        sid = next(self._ids)
        if self.enabled:
            self.spans.append({"id": sid, "name": name, "layer": layer,
                               "start": start, "end": end, "parent": parent,
                               "run": self.run_id, **attrs})
        return sid

    @contextlib.contextmanager
    def around(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Span around a block; with tracing on, the block's Spark jobs run
        in their own job group and their stage ids are kept on the span."""
        sid = next(self._ids)
        if not self.enabled:
            yield sid
            return
        group = f"{self.run_id}-{sid}"
        self.sc.setJobGroup(group, name)
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            self.sc._jsc.clearJobGroup()
            t0 = time.monotonic()
            tracker = self.sc.statusTracker()
            stages = []
            jobs = tracker.getJobIdsForGroup(group)
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.extend(int(s) for s in info.stageIds)
            self.spans.append({"id": sid, "name": name, "layer": layer,
                               "start": start, "end": end, "parent": parent,
                               "run": self.run_id, "jobs": len(jobs),
                               "stage_ids": stages, **attrs})
            self.overhead_s += time.monotonic() - t0

    # -- streaming sources ------------------------------------------------

    def listen(self) -> None:
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.monotonic()
                p = event.progress
                tracer.progress.append({
                    "run_id": str(p.runId), "batch": int(p.batchId),
                    "timestamp": p.timestamp, "rows": int(p.numInputRows),
                    "duration_ms": dict(p.durationMs),
                })
                tracer.overhead_s += time.monotonic() - t0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def bind_stream(self, query, store: str) -> None:
        self.streams[str(query.runId)] = os.path.abspath(store)

    def wrap_vacuum(self) -> None:
        """Time the sink's vacuum cadence by wrapping the public
        ``vacuum_silver`` the sink calls through its module."""
        if not self.enabled:
            return
        from postgres_debezium_clickhouse_spark.streaming import pipeline

        inner = pipeline.vacuum_silver

        def timed_vacuum(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return inner(*args, **kwargs)
            finally:
                self.vacuums.append((t0, time.monotonic()))

        pipeline.vacuum_silver = timed_vacuum

    def wait_progress(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> None:
        """Listener events arrive asynchronously: wait until none has
        arrived for ``quiet_s`` before harvesting."""
        deadline = time.monotonic() + timeout_s
        seen, since = len(self.progress), time.monotonic()
        while time.monotonic() < deadline and time.monotonic() - since < quiet_s:
            time.sleep(0.05)
            if len(self.progress) != seen:
                seen, since = len(self.progress), time.monotonic()

    # -- harvest ----------------------------------------------------------

    def _stage_table(self) -> dict[int, dict]:
        jsc = self.sc._jsc.sc()
        cls = self.sc._jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        it = jsc.statusStore().store().view(cls).iterator()
        out = {}
        while it.hasNext():
            info = it.next().info()
            out[int(info.stageId())] = {
                "tasks": int(info.numTasks()),
                "failed": int(info.numFailedTasks()),
                "shuffle_write": int(info.shuffleWriteBytes()),
                "spill": int(info.memoryBytesSpilled()) + int(info.diskBytesSpilled()),
            }
        return out

    def _executions(self, t_lo: float) -> list[dict]:
        """SQL executions submitted after ``t_lo`` (monotonic)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        seq = store.executionsList()
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            start = e.submissionTime() / 1000.0 - self._epoch_to_mono
            comp = e.completionTime()
            if start < t_lo or not comp.isDefined():
                continue
            m = _BATCH_RE.search(e.description() or "")
            out.append({
                "id": int(e.executionId()),
                "root": int(e.rootExecutionId()),
                "start": start,
                "end": comp.get().getTime() / 1000.0 - self._epoch_to_mono,
                "run_id": m.group(1) if m else None,
                "batch": int(m.group(2)) if m else None,
                "write": "InsertIntoHadoopFsRelation" in (e.physicalPlanDescription() or ""),
                "jobs": int(e.jobs().size()),
                "stage_ids": [int(s) for s in _scala_iter(e.stages())],
            })
        return out

    def harvest(self, t_lo: float, clock, op_parent: dict[str, int]) -> None:
        """Turn listener progress, status-store executions, commit-clock
        records and vacuum timings into trigger spans with their children.
        ``op_parent`` maps a stream run id to the op span it ran under."""
        if not self.enabled:
            return
        self.t_lo = t_lo
        self.stages = self._stage_table()
        execs = self._executions(t_lo)
        work = {}
        for store in set(self.streams.values()):
            for t0, w in _manifest_work(store, clock.of(store)).items():
                work[(store, t0)] = w
        self.triggers = []
        for p in self.progress:
            d = p["duration_ms"]
            if "addBatch" not in d or p["run_id"] not in self.streams:
                continue
            start = _iso_epoch(p["timestamp"]) - self._epoch_to_mono
            end = start + d.get("triggerExecution", 0) / 1000.0
            if start < t_lo:
                continue  # warm-up triggers
            tid = self.span(f"trigger {p['batch']}", "streaming", start, end,
                            op_parent.get(p["run_id"]), batch=p["batch"], rows=p["rows"])
            mine = [e for e in execs
                    if e["run_id"] == p["run_id"] and e["batch"] == p["batch"]]
            roots = [e for e in mine if e["root"] == e["id"]]
            nested = sorted((e for e in mine if e["root"] != e["id"]), key=lambda e: e["id"])
            # phases in MicroBatchExecution order; addBatch is placed on its
            # root SQL execution when the status store has it
            src = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0
            self.span("source", "sources", start, start + src, tid)
            wal = d.get("walCommit", 0) / 1000.0
            self.span("wal", "streaming", start + src, start + src + wal, tid)
            if roots:
                ab0, ab1 = roots[0]["start"], roots[0]["end"]
            else:
                ab0 = start + src + wal + d.get("queryPlanning", 0) / 1000.0
                ab1 = ab0 + d["addBatch"] / 1000.0
            aid = self.span("add_batch", "streaming", ab0, ab1, tid)
            commit_log = d.get("commitOffsets", 0) / 1000.0
            self.span("commit_offsets", "streaming", end - commit_log, end, tid)
            kinds = {}
            for k, e in enumerate(nested):
                kind = ("publish_write" if e["write"]
                        else "touched_collect" if k == 0 else "merge_prep")
                kinds[kind] = kinds.get(kind, 0.0) + e["end"] - e["start"]
                self.span(kind, "exec", e["start"], e["end"], aid,
                          jobs=e["jobs"], stage_ids=e["stage_ids"])
            store = self.streams[p["run_id"]]
            claims = [c for c in clock.claims.get(store, []) if start <= c[0] <= end]
            commits = [c for c in clock.of(store) if start <= c["t0"] <= end]
            for c0, c1 in claims:
                self.span("claim", "commit", c0, c1, aid)
            for c in commits:
                self.span("cas", "commit", c["t0"], c["t1"], aid)
            for v0, v1 in self.vacuums:
                if start <= v0 <= end:
                    self.span("vacuum", "streaming", v0, v1, aid)
            stage_ids = [s for e in mine for s in e["stage_ids"]]
            done = [work[(store, c["t0"])] for c in commits]
            self.triggers.append({
                "run_id": p["run_id"], "store": store, "rows": p["rows"],
                "d": d, "kinds": kinds,
                "work": {k: sum(w[k] for w in done) for k in
                         ("buckets", "files", "bytes", "out_rows", "replaced_rows")},
                "live_files": done[-1]["live_files"] if done else 0,
                "jobs": sum(e["jobs"] for e in mine),
                "tasks": sum(self.stages.get(s, {}).get("tasks", 0) for s in stage_ids),
                "claim_ms": [1000 * (c1 - c0) for c0, c1 in claims],
                "cas_ms": [1000 * (c["t1"] - c["t0"]) for c in commits],
                "covered_ms": 1000 * sum(
                    e["end"] - e["start"] for e in nested
                ) + sum(1000 * (c1 - c0) for c0, c1 in claims)
                  + sum(1000 * (c["t1"] - c["t0"]) for c in commits),
            })

    # -- metrics ----------------------------------------------------------

    def self_time(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its children cover."""
        spans = [s for s in self.spans if s["start"] >= self.t_lo]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                              for c in kids.get(s["id"], [])])
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(
                0.0, s["end"] - s["start"] - covered)
        return out

    def query_layers(self, names: set[str]) -> dict:
        """Build/plan/execute split of the query spans named in ``names``:
        per query the median of each part, summed over the set, plus the
        execution counters per pass."""
        by_id = {s["id"]: s for s in self.spans}
        parts: dict[tuple[str, str], list[float]] = {}
        build_jobs: dict[str, list[int]] = {}
        exec_stages: list[int] = []
        exec_jobs = 0
        n_queries = 0
        for s in self.spans:
            parent = by_id.get(s["parent"])
            if parent is None or parent["name"] not in names or s["start"] < self.t_lo:
                continue
            q = parent["name"]
            parts.setdefault((q, s["name"]), []).append(s["end"] - s["start"])
            if s["name"] == "build":
                build_jobs.setdefault(q, []).append(s["jobs"])
            if s["name"] == "execute":
                exec_jobs += s["jobs"]
                exec_stages.extend(s["stage_ids"])
                n_queries += 1
        runs = max(1, n_queries / max(1, len(names)))

        def total(part):
            return sum(_median(v) for (q, p), v in parts.items() if p == part)

        st = [self.stages.get(i, {}) for i in exec_stages]
        return {
            "build_s": total("build"),
            "plan_s": total("plan"),
            "exec_s": total("execute"),
            "build_jobs": sum(_median(v) for v in build_jobs.values()),
            "jobs": exec_jobs / runs,
            "stages": len(exec_stages) / runs,
            "tasks": sum(x.get("tasks", 0) for x in st) / runs,
            "shuffle_write_mb": sum(x.get("shuffle_write", 0) for x in st) / runs / _MB,
            "spill_mb": sum(x.get("spill", 0) for x in st) / runs / _MB,
            "failed_tasks": sum(x.get("failed", 0) for x in st),
        }

    def streaming_metrics(self, clock) -> dict:
        """Per-trigger medians and store work from the harvested triggers
        and the manifests the commit clock kept."""
        trig = self.triggers
        d = [t["d"] for t in trig]
        w = [t["work"] for t in trig]
        rows_in = sum(t["rows"] for t in trig)
        trig_ms = [x.get("triggerExecution", 0) for x in d]
        phases_ms = [sum(v for k, v in x.items() if k != "triggerExecution") for x in d]
        return {
            "streaming.trigger_ms": _median(trig_ms),
            "streaming.add_batch_ms": _median([x["addBatch"] for x in d]),
            "streaming.source_ms":
                _median([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
            "streaming.wal_ms":
                _median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            "streaming.touched_collect_ms":
                _median([1000 * t["kinds"].get("touched_collect", 0) for t in trig]),
            "streaming.publish_write_ms":
                _median([1000 * t["kinds"].get("publish_write", 0) for t in trig]),
            "streaming.vacuum_ms": 1000 * sum(b - a for a, b in self.vacuums),
            "streaming.vacuum_runs": len(self.vacuums),
            "streaming.jobs_per_trigger": _median([t["jobs"] for t in trig]),
            "streaming.tasks_per_trigger": _median([t["tasks"] for t in trig]),
            "streaming.phase_coverage_pct":
                100 * sum(phases_ms) / sum(trig_ms) if sum(trig_ms) else 0.0,
            "streaming.add_batch_coverage_pct": 100 * sum(t["covered_ms"] for t in trig)
            / sum(x["addBatch"] for x in d) if d else 0.0,
            "streaming.buckets_touched": _median([x["buckets"] for x in w]),
            "streaming.files_written": _median([x["files"] for x in w]),
            "streaming.bytes_written": _median([x["bytes"] for x in w]),
            "streaming.rewrite_amplification":
                sum(x["out_rows"] for x in w) / rows_in if rows_in else 0.0,
            "streaming.live_files": max((t["live_files"] for t in trig), default=0),
            "commit.cas_ms": _median([x for t in trig for x in t["cas_ms"]]),
            "commit.claim_ms": _median([x for t in trig for x in t["claim_ms"]]),
            "commit.conflicts": clock.conflicts,
            "upsert.merge_in_rows":
                _median([t["rows"] + x["replaced_rows"] for t, x in zip(trig, w)]),
            "upsert.merge_out_rows": _median([x["out_rows"] for x in w]),
        }

    def write(self, path: str, extra: dict) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh)


def _manifest_work(store: str, commits: list[dict]) -> dict[float, dict]:
    """Store work of each commit (keyed by its CAS start), from consecutive
    manifests: buckets and files written, bytes, rows out, rows of the
    replaced files, live files after it."""
    import pyarrow.parquet as pq

    out = {}
    prev: set[str] = set()
    rows_of: dict[str, int] = {}
    for c in commits:
        files = set(c["manifest"]["files"])
        new, gone = files - prev, prev - files
        for f in new:
            rows_of[f] = pq.read_metadata(os.path.join(store, f)).num_rows
        out[c["t0"]] = {
            "buckets": len({f.split("__bucket=")[1].split("/")[0] for f in new}),
            "files": len(new),
            "bytes": sum(os.path.getsize(os.path.join(store, f)) for f in new),
            "out_rows": sum(rows_of[f] for f in new),
            "replaced_rows": sum(rows_of.get(f, 0) for f in gone),
            "live_files": len(files),
        }
        prev = files
    return out


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _iso_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()
