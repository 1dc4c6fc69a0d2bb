"""The three workloads.  Each has a ``setup`` (timed into ``setup_s``,
ending with one untimed-by-the-window warm-up), a ``window`` that measures
for the requested seconds, and a ``check`` that compares results with a
DuckDB oracle outside the window.

An operation's latency is the time from when it was due to when its result
is visible: for CDC events, a committed silver manifest version that holds
them; for a batch query, the end of its execution.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback

import numpy as np

import harness as H

#: registered queries of ``batch_queries``: one per operator family the
#: per-layer split should separate (CDC batch read, n-gram LM execution,
#: iterative build-time jobs, vector search, the Arrow tokenizer boundary)
BATCH_QUERIES = (
    "cdc_current_state",
    "text_5gram_kneser_ney",
    "dedup_clusters",
    "similarity_ann_ivf_topk",
    "corpus_bpe_encode",
)

#: cdc_live feed: the reference connector's ceiling is max.batch.size 1024
#: per poll.interval.ms 2000, i.e. 512 events/s, offered as FEED_FILES
#: evenly spaced small files per window (at least 100 freshness samples)
OFFERED_EVENTS_PER_S = 512
FEED_FILES = 100
WARMUP_FILES = 2
READ_PERIOD_S = 2.0

#: cdc_backfill: the wire log in BACKFILL_FILES files, two per trigger
BACKFILL_FILES = 4
FILES_PER_TRIGGER = 2

STREAM_TIMEOUT_S = 120.0


class Workload:
    """Counters shared by the three workloads."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.weights: list[float] | None = None
        self.reads: list[float] = []
        self.ops = 0  # operations completed in the window (cpu_s divisor)
        self.op_spans: dict[str, int] = {}
        # CDC events made visible in the window, over the time they took
        self.events = 0
        self.span_s = 0.0
        self.late_ms_max = 0.0  # cdc_live feed health
        self.backlog_max = 0

    def latency(self, q: float) -> float:
        """The ``q`` quantile of the window's operation latencies."""
        return H.quantile(self.latencies, q, self.weights)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", flush=True, file=sys.stderr)

    def timed_query(self, name: str, build, action, parent=None) -> float:
        """Build (``build()``), plan (``executedPlan``) and execute
        (``action(df)``) one query; returns the wall time of all three."""
        tr = self.tracer
        t0 = time.monotonic()
        with tr.around(name, "query", parent) as qid:
            with tr.around("build", "plans", qid):
                df = build()
            with tr.around("plan", "session", qid):
                df._jdf.queryExecution().executedPlan()
            with tr.around("execute", "exec", qid):
                action(df)
        return time.monotonic() - t0

    def read(self, store: str, parent=None) -> float:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver

        return self.timed_query(
            "dashboard_read",
            lambda: H.dashboard(read_silver(self.spark, store)),
            lambda df: df.collect(),
            parent,
        )


# -- cdc_backfill ------------------------------------------------------------

class Backfill(Workload):
    """The seeded wire log replayed in two large ``availableNow`` triggers
    into a fresh silver store, then one dashboard read on it; closed loop."""

    def setup(self) -> None:
        c = self.ctx
        self.src = c.work.path("bf_src")
        os.makedirs(self.src)
        order = np.random.default_rng(c.seed).permutation(len(c.records))
        self.counts = {}
        for i, idx in enumerate(np.array_split(order, BACKFILL_FILES)):
            name = f"part-{i:03d}.json"
            self.counts[name] = H.write_jsonl(
                os.path.join(self.src, name), [c.records[j] for j in idx])
        self.stores: list[str] = []
        self.weights = []
        self.replay("warmup")

    def replay(self, tag: str) -> None:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import silver_upsert_stream

        c = self.ctx
        store, ckpt = c.work.path(f"bf_store_{tag}"), c.work.path(f"bf_ckpt_{tag}")
        with self.tracer.around(f"replay {tag}", "op") as op:
            t0 = time.monotonic()
            q = silver_upsert_stream(
                H.flat_stream(self.spark, c.schema, self.src, FILES_PER_TRIGGER),
                store, ckpt, keys=H.KEYS, available_now=True)
            self.tracer.bind_stream(q, store)
            self.op_spans[str(q.runId)] = op
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"backfill did not finish in {STREAM_TIMEOUT_S}s")
            commits = c.clock.of(store)
            per_batch: dict[int, int] = {}
            for f, b in H.source_log(ckpt).items():
                per_batch[b] = per_batch.get(b, 0) + self.counts[f]
            if len(commits) != len(per_batch):
                raise RuntimeError(f"{len(per_batch)} batches but {len(commits)} commits")
            read_s = self.read(store, op)
        if tag == "warmup":
            return
        self.stores.append(store)
        self.latencies += [cm["t1"] - t0 for cm in commits]
        self.weights += [per_batch[b] for b in sorted(per_batch)]
        self.reads.append(read_s)
        self.events += sum(per_batch.values())
        self.span_s += commits[-1]["t1"] - t0

    def window(self, seconds: float) -> None:
        t_end = time.monotonic() + seconds
        i = 0
        while time.monotonic() < t_end:
            self.attempted += 1
            try:
                self.replay(str(i))
                self.ops += 1
            except Exception:
                traceback.print_exc()
                self.fail(f"replay {i}")
            i += 1

    def check(self) -> None:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver

        sql = self.ctx.oracles["stream_silver_state"]
        for store in self.stores:
            self.attempted += 1
            state = read_silver(self.spark, store).select(*H.STATE_COLS)
            if not self.ctx.oracle.matches(state, sql):
                self.fail(f"backfill state of {os.path.basename(store)}")


# -- cdc_live ----------------------------------------------------------------

class Live(Workload):
    """Snapshot preloaded into silver; small u/d files fed on a fixed
    schedule into a watched directory while one reader issues the dashboard
    query on its own schedule; open loop."""

    def setup(self) -> None:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import silver_upsert_stream

        c = self.ctx
        snap = [r for r in c.records if H.oracle_row(r)[3] == "r"]
        changes = [r for r in c.records if H.oracle_row(r)[3] != "r"]
        order = np.random.default_rng(c.seed).permutation(len(changes))
        self.period = c.seconds / FEED_FILES
        self.per_file = per_file = max(1, round(OFFERED_EVENTS_PER_S * self.period))
        n_files = WARMUP_FILES + FEED_FILES
        if n_files * per_file > len(changes):
            raise ValueError(f"{c.seconds}s of feed needs more change events "
                             f"than the wire log has ({len(changes)})")
        self.staging, self.watch = c.work.path("live_staging"), c.work.path("live_watch")
        snap_dir = c.work.path("live_snapshot")
        for d in (self.staging, self.watch, snap_dir):
            os.makedirs(d)
        H.write_jsonl(os.path.join(snap_dir, "snapshot.json"), snap)
        self.fed_rows = [H.oracle_row(r) for r in snap]
        self.files = []
        for i in range(n_files):
            recs = [changes[j] for j in order[i * per_file:(i + 1) * per_file]]
            name = f"f{i:05d}.json"
            H.write_jsonl(os.path.join(self.staging, name), recs)
            self.files.append(name)
            self.fed_rows += [H.oracle_row(r) for r in recs]
        self.store = c.work.path("live_store")
        # preload: the snapshot through the same sink, one large trigger
        pre = silver_upsert_stream(
            H.flat_stream(self.spark, c.schema, snap_dir), self.store,
            c.work.path("live_ckpt_preload"), keys=H.KEYS, available_now=True)
        if not pre.awaitTermination(STREAM_TIMEOUT_S):
            pre.stop()
            raise TimeoutError("snapshot preload did not finish")
        self.n_preload = len(c.clock.of(self.store))
        self.ckpt = c.work.path("live_ckpt")
        self.query = silver_upsert_stream(
            H.flat_stream(self.spark, c.schema, self.watch), self.store,
            self.ckpt, keys=H.KEYS)
        self.tracer.bind_stream(self.query, self.store)
        # warm-up: a few files fed back to back, and one read
        self.fed_at: dict[str, float] = {}
        for name in self.files[:WARMUP_FILES]:
            self.feed(name)
        self.wait_visible(self.files[:WARMUP_FILES])
        self.read(self.store)

    def feed(self, name: str) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.watch, name))
        self.fed_at[name] = time.monotonic()

    def visible_at(self) -> dict[str, float]:
        """Fed file → time its batch's manifest version was committed."""
        live = self.ctx.clock.of(self.store)[self.n_preload:]
        return {f: live[b]["t1"] for f, b in H.source_log(self.ckpt).items()
                if b < len(live)}

    def wait_visible(self, names, timeout_s: float = 60.0) -> dict[str, float]:
        deadline = time.monotonic() + timeout_s
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"live stream failed: {self.query.exception()}")
            seen = self.visible_at()
            if all(n in seen for n in names):
                return seen
            if time.monotonic() > deadline:
                raise TimeoutError(f"fed files not visible after {timeout_s}s")
            time.sleep(0.02)

    def window(self, seconds: float) -> None:
        timed = self.files[WARMUP_FILES:]
        t0 = time.monotonic() + 0.05
        self.due = {name: t0 + i * self.period for i, name in enumerate(timed)}
        errors: list[BaseException] = []

        def feeder():
            try:
                for name in timed:
                    _sleep_until(self.due[name])
                    self.feed(name)
            except BaseException as e:  # surfaced by the main thread
                errors.append(e)

        def reader():
            due = t0
            while due < t0 + seconds:
                _sleep_until(due)
                self.attempted += 1
                try:
                    self.read(self.store)
                    self.reads.append(time.monotonic() - due)
                except Exception:
                    traceback.print_exc()
                    self.fail("dashboard read")
                due += READ_PERIOD_S

        with self.tracer.around("live window", "op") as op:
            self.op_spans[str(self.query.runId)] = op
            threads = [threading.Thread(target=feeder, name="feed"),
                       threading.Thread(target=reader, name="reader")]
            for t in threads:
                t.start()
            threads[0].join(seconds + 30)
            try:
                if errors or threads[0].is_alive():
                    raise RuntimeError(f"feed did not complete: {errors}")
                seen = self.wait_visible(timed)
            finally:
                threads[1].join(seconds + 60)
        self.attempted += len(timed)
        self.ops = len(timed)
        self.latencies = [seen[n] - self.due[n] for n in timed]
        self.late_ms_max = 1000 * max(self.fed_at[n] - self.due[n] for n in timed)
        # files fed but not yet visible, at each feed instant
        self.backlog_max = max(
            sum(1 for m in timed if self.fed_at[m] <= self.fed_at[n] < seen[m])
            for n in timed)
        self.events = self.per_file * len(timed)
        self.span_s = max(seen[n] for n in timed) - t0

    def check(self) -> None:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver

        self.query.stop()
        self.attempted += 1
        self.ctx.oracle.register("fed_events", self.fed_rows, H.ORACLE_COLS)
        state = read_silver(self.spark, self.store).select(*H.STATE_COLS)
        if not self.ctx.oracle.matches(state, H.LATEST_WINS_SQL.format(table="fed_events")):
            self.fail("live final state")


# -- batch_queries ------------------------------------------------------------

class Batch(Workload):
    """The registered queries back to back (build, plan, noop execute);
    closed loop."""

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.fx = self.ctx.fx
        # the warm-up pass is the correctness pass: each query once, checked
        # against its registered oracle
        for name in BATCH_QUERIES:
            self.attempted += 1
            try:
                ok = self.ctx.oracle.matches(
                    self.queries[name](self.spark, self.fx), self.ctx.oracles[name])
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.fail(f"query {name} against its oracle")

    def window(self, seconds: float) -> None:
        t_end = time.monotonic() + seconds
        self.per_query: dict[str, list[float]] = {n: [] for n in BATCH_QUERIES}
        while time.monotonic() < t_end:
            with self.tracer.around(f"pass {self.ops}", "op") as op:
                for name in BATCH_QUERIES:
                    self.attempted += 1
                    fn = self.queries[name]
                    try:
                        wall = self.timed_query(
                            name, lambda: fn(self.spark, self.fx),
                            lambda df: df.write.format("noop").mode("overwrite").save(),
                            op)
                    except Exception:
                        traceback.print_exc()
                        self.fail(f"query {name}")
                        continue
                    self.latencies.append(wall)
                    self.per_query[name].append(wall)
            self.ops += 1

    def latency(self, q: float) -> float:
        """Latency of the whole query set: each query taken at its own ``q``
        quantile, summed (at q=0.5 this is the set's median wall time)."""
        return sum(H.quantile(v, q) for v in self.per_query.values() if v)

    def check(self) -> None:
        pass  # done by the warm-up pass in setup


def _sleep_until(t: float) -> None:
    delay = t - time.monotonic()
    if delay > 0:
        time.sleep(delay)


WORKLOADS = {"cdc_backfill": Backfill, "cdc_live": Live, "batch_queries": Batch}
