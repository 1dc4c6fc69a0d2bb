"""Shared pieces of the benchmark: the run's scratch directory, the Spark
session, seeded fixtures, the orders wire log, process-tree CPU accounting,
the commit clock, the file-source log reader and the DuckDB oracles.

Everything the benchmark writes goes under ``perfbench/.work/`` (deleted
when the run ends) or ``perfbench/.out/`` (span files of traced runs), both
inside the checkout the benchmark runs from.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: fixture scale factor of every workload (orders: 15k rows, wire log:
#: ~30k events)
SCALE = 0.01

#: the silver sink's key and the flat projection every CDC workload streams
KEYS = ["o_orderkey"]
STATE_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "ts_ms"]

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Work:
    """The run's scratch tree: ``perfbench/.work/<workload>-<pid>/``.

    The JVM, Python workers and the wire-log cache are pointed at it through
    the environment before the session starts, so nothing lands in /tmp."""

    def __init__(self, workload: str):
        self.dir = os.path.join(BENCH_DIR, ".work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_GRAFT_WIRE_CACHE"] = self.path("wire")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Work):
    """One local session on every core of this host, console progress bars
    off, scratch and JVM temp files inside the run's work dir."""
    cpus = str(cpu_count())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from postgres_debezium_clickhouse_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work.tmp,
            "spark.sql.warehouse.dir": work.path("warehouse"),
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def generate_fixtures(out: str, seed: int, scale: float = SCALE, reps: int = 3) -> float:
    """Write the seeded fixture set to ``out`` ``reps`` times (same seed,
    same bytes) and return the median generation time."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import gen_testdata

    times = []
    for _ in range(reps):
        t0 = time.monotonic()
        with contextlib.redirect_stdout(io.StringIO()):  # it prints row counts
            gen_testdata.generate(scale, out, seed=seed)
        times.append(time.monotonic() - t0)
    return statistics.median(times)


def fixture_fingerprint(fx: str) -> str:
    """md5 over the fixture files' bytes, in name order."""
    h = hashlib.md5()
    for name in sorted(os.listdir(fx)):
        h.update(name.encode())
        with open(os.path.join(fx, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def wire_log(spark, fx: str, collect: bool = True):
    """Build the orders wire log (``sources.cdc``) and, with ``collect``,
    bring it to the driver as JSON-ready records.  Returns ``(schema,
    records, build_s)``."""
    from postgres_debezium_clickhouse_spark.sources.cdc import orders_cdc_events

    t0 = time.monotonic()
    events = orders_cdc_events(spark, fx)
    build_s = time.monotonic() - t0
    if not collect:
        return events.schema, [], build_s
    pdf = events.toPandas()
    records = []
    for row in pdf.itertuples(index=False):
        rec = row._asdict()
        rec["headers"] = dict(rec["headers"]) if rec["headers"] is not None else None
        for k in ("partition", "offset", "timestamp"):
            rec[k] = int(rec[k])
        records.append(rec)
    return events.schema, records, build_s


def oracle_row(rec: dict) -> tuple:
    """One wire record decoded independently of the engine:
    ``(o_orderkey, o_orderstatus, o_totalprice, op, ts_ms, offset)``."""
    payload = json.loads(rec["value"])["payload"]
    after, before = payload.get("after"), payload.get("before")  # null → absent
    key = (after or before)["o_orderkey"]
    return (
        key,
        after["o_orderstatus"] if after else None,
        float(after["o_totalprice"]) if after else None,
        payload["op"],
        payload["source"]["ts_ms"],
        rec["offset"],
    )


def write_jsonl(path: str, records) -> int:
    """Write records as one JSON-lines file through a temp name, so a file
    source watching the directory never lists a partial file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec))
            fh.write("\n")
    os.replace(tmp, path)
    return len(records)


def flat_stream(spark, schema, src: str, max_files: int | None = None):
    """The CDC file stream parsed by ``parse_envelope`` and projected to the
    silver sink's columns (the projection ``stream_silver_state`` uses)."""
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
    from postgres_debezium_clickhouse_spark.sources.cdc import parse_envelope

    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    p = F.col("j.payload")
    return parse_envelope(reader.json(src), ORDERS_ENVELOPE).select(
        F.coalesce(p.after["o_orderkey"], p.before["o_orderkey"]).alias("o_orderkey"),
        p.after["o_orderstatus"].alias("o_orderstatus"),
        p.after["o_totalprice"].cast("double").alias("o_totalprice"),
        p.op.alias("op"),
        p.source["ts_ms"].alias("ts_ms"),
        F.col("offset"),
    )


def dashboard(df):
    """The fixed FINAL-view dashboard query: order count and revenue by
    status."""
    from pyspark.sql import functions as F

    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("revenue")
    )


def source_log(checkpoint: str) -> dict[str, int]:
    """File → batch id, from a file stream's source log in ``checkpoint``
    (plain batch files and ``.compact`` files alike)."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(d, name)) as fh:
                lines = fh.read().splitlines()
        except OSError:  # compaction replaced it mid-read; next poll sees it
            continue
        for line in lines[1:]:
            try:
                entry = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


# -- CPU -------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid → (ppid, comm, cpu seconds incl. reaped children) for every
    process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        table[int(name)] = (int(f[1]), comm, ticks / CLK_TCK)
    return table


def tree_cpu() -> tuple[float, bool]:
    """CPU-seconds of this driver and every descendant process (the Spark
    JVM, the PySpark daemon and its workers).  The flag says whether a
    ``java`` descendant was found; without one only the driver's own CPU is
    counted, and the caller records why."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, found_jvm = 0.0, False
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in table:
            total += table[pid][2]
            found_jvm |= table[pid][1] == "java"
        stack.extend(children.get(pid, []))
    return total, found_jvm


# -- commit clock ----------------------------------------------------------

def install_commit_clock():
    """Swap ``pipeline.COMMIT_BACKEND`` for a delegate that timestamps every
    epoch claim and manifest CAS (the end-to-end metrics need the moment a
    version is committed; the traced run also reads the spans)."""
    from postgres_debezium_clickhouse_spark.streaming import pipeline
    from postgres_debezium_clickhouse_spark.streaming.commit import (
        EPOCH_CLAIM_STALE_S,
        CommitBackend,
        ManifestCommitError,
    )

    class CommitClock(CommitBackend):
        def __init__(self, inner):
            self.inner = inner
            self.commits: dict[str, list[dict]] = {}
            self.claims: dict[str, list[tuple[float, float]]] = {}
            self.conflicts = 0

        def read_manifest(self, path):
            return self.inner.read_manifest(path)

        def commit_manifest(self, path, manifest, expected_version=None):
            t0 = time.monotonic()
            try:
                self.inner.commit_manifest(path, manifest, expected_version)
            except ManifestCommitError:
                self.conflicts += 1
                raise
            self.commits.setdefault(os.path.abspath(path), []).append(
                {"t0": t0, "t1": time.monotonic(), "manifest": manifest}
            )

        def claim_epoch(self, path, epoch, stale_s=EPOCH_CLAIM_STALE_S):
            t0 = time.monotonic()
            try:
                token = self.inner.claim_epoch(path, epoch, stale_s)
            except ManifestCommitError:
                self.conflicts += 1
                raise
            self.claims.setdefault(os.path.abspath(path), []).append(
                (t0, time.monotonic())
            )
            return token

        def release_claim(self, token):
            self.inner.release_claim(token)

        def of(self, path: str) -> list[dict]:
            return self.commits.get(os.path.abspath(path), [])

    clock = CommitClock(pipeline.COMMIT_BACKEND)
    pipeline.COMMIT_BACKEND = clock
    return clock


# -- statistics ------------------------------------------------------------

def quantile(values, q: float, weights=None) -> float:
    """Weighted quantile (lower value at the cumulative-weight crossing);
    unweighted it is the linear interpolation ``statistics.quantiles``
    uses."""
    if not values:
        raise ValueError("no samples")
    if weights is None:
        if len(values) == 1:
            return float(values[0])
        cuts = statistics.quantiles(values, n=100, method="inclusive")
        return cuts[int(round(q * 100)) - 1]
    pairs = sorted(zip(values, weights))
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return float(v)
    return float(pairs[-1][0])


# -- oracles ---------------------------------------------------------------

class Oracle:
    """DuckDB over the run's fixtures; compares engine results by the
    order-insensitive digests of ``check_correctness``."""

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, fx: str, tamper: bool = False):
        import duckdb

        sys.path.insert(0, ROOT)
        import check_correctness

        self.cc = check_correctness
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')"
            )
        self.tamper = tamper

    def matches(self, sdf, sql: str) -> bool:
        """True when the Spark frame and the oracle SQL have equal row count
        and digest.  With ``tamper`` set, one row is dropped from the Spark
        side first, so the self-test can prove a wrong result fails."""
        if self.tamper:
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            first = F.row_number().over(Window.orderBy(*sdf.columns))
            sdf = sdf.withColumn("__rn", first).filter("__rn > 1").drop("__rn")
        return self.cc.spark_digest(sdf) == self.cc.duck_digest(self.con, sql, sdf.schema)

    def register(self, name: str, rows: list[tuple], columns: list[str]) -> None:
        import pandas as pd

        self.con.register(name, pd.DataFrame(rows, columns=columns))

    def close(self) -> None:
        self.con.close()


LATEST_WINS_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice, ts_ms FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY ts_ms DESC, "offset" DESC) AS rn
        FROM {table})
    WHERE rn = 1 AND op <> 'd'
"""
ORACLE_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice", "op", "ts_ms", "offset"]
