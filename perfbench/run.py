"""CDC freshness, backfill and batch-query benchmark.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 6 --trace 0

Runs one workload in one process driving ``local[<cores>]`` and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md in
this directory for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
import types
import uuid

import harness as H

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_backfill", "cdc_live", "batch_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: a smaller scale, and a deliberately wrong result
    ap.add_argument("--scale", type=float, default=H.SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--tamper", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, H.ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the engine must be importable)
        import check_correctness  # noqa: F401
        import postgres_debezium_clickhouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {H.ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = H.Work(args.workload)
    c = types.SimpleNamespace()  # what the workload needs from the run
    try:
        record = run(args, work, c)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if getattr(c, "oracle", None) is not None:
            c.oracle.close()
        if getattr(c, "spark", None) is not None:
            _stop_spark(c.spark)
        work.close()
    with open(_out_path(f"run-{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record["result"]))
    return 0


def run(args, work, c):
    from workloads import BATCH_QUERIES, WORKLOADS

    import __spark_entry__ as entry
    from tracer import Tracer

    t_setup = time.monotonic()
    c.seed, c.seconds, c.work = args.seed, args.seconds, work
    c.fx = work.path("fx")
    gen_reps = 3
    t = time.monotonic()
    gen_s = H.generate_fixtures(c.fx, args.seed, args.scale, reps=gen_reps)
    gen_extra = time.monotonic() - t - gen_s  # only the median counts
    fingerprint = H.fixture_fingerprint(c.fx)
    t = time.monotonic()
    c.spark = spark = H.start_spark(work)
    jvm_s = time.monotonic() - t
    c.clock = H.install_commit_clock()
    c.tracer = Tracer(spark, uuid.uuid4().hex[:8], enabled=bool(args.trace))
    c.tracer.listen()
    c.tracer.wrap_vacuum()
    c.oracle = H.Oracle(c.fx, tamper=args.tamper)
    c.oracles = entry.oracle_sql()
    c.schema, c.records, wire_s = H.wire_log(
        spark, c.fx, collect=args.workload != "batch_queries")
    wl = WORKLOADS[args.workload](c)
    wl.setup()
    setup_s = time.monotonic() - t_setup - gen_extra

    cpu0, jvm_found = H.tree_cpu()
    c.tracer.overhead_s = 0.0
    t0 = time.monotonic()
    wl.window(args.seconds)
    t1 = time.monotonic()
    cpu1, _ = H.tree_cpu()
    if not jvm_found:
        print("perfbench: no java descendant found; cpu_s counts the "
              "driver process tree without the JVM", file=sys.stderr)
    if args.trace:
        storage = sum(r.memSize() + r.diskSize()
                      for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    wl.check()

    if not wl.latencies:
        raise RuntimeError("no operation completed in the window")
    e2e = {
        "setup_s": setup_s,
        "cpu_s": (cpu1 - cpu0) / max(wl.ops, 1),
        "latency_p50_s": wl.latency(0.5),
        "latency_p90_s": wl.latency(0.9),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "fixture_fingerprint": fingerprint,
        "cores": H.cpu_count(), "jvm_found": jvm_found,
        "setup": {"jvm_s": jvm_s, "fixtures_s": gen_s, "wire_log_s": wire_s},
        "window_s": t1 - t0, "ops": wl.ops, "samples": len(wl.latencies),
        "reads": len(wl.reads),
        "events_per_s": wl.events / wl.span_s if wl.span_s else None,
    }
    if args.workload == "batch_queries":
        info["per_query_s"] = {k: statistics.median(v) for k, v in wl.per_query.items() if v}

    if args.trace:
        tr = c.tracer
        tr.wait_progress()
        tr.harvest(t0, c.clock, wl.op_spans)
        names = set(BATCH_QUERIES) if args.workload == "batch_queries" else {"dashboard_read"}
        metrics = per_layer(tr, c.clock, wl, names, wire_s, storage, t1 - t0,
                            e2e["latency_p50_s"])
        tr.write(_out_path(f"spans-{args.workload}-{args.seed}-{os.getpid()}.json"),
                 {"info": info})
        units = PER_LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(f"perfbench {json.dumps(info)}", file=sys.stderr)
    return {"info": info, "result": result}


PER_LAYER_UNITS = {
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.source_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.touched_collect_ms": "ms",
    "streaming.publish_write_ms": "ms",
    "streaming.vacuum_ms": "ms",
    "streaming.vacuum_runs": "count",
    "streaming.jobs_per_trigger": "count",
    "streaming.tasks_per_trigger": "count",
    "streaming.buckets_touched": "count",
    "streaming.files_written": "count",
    "streaming.bytes_written": "bytes",
    "streaming.rewrite_amplification": "ratio",
    "streaming.live_files": "count",
    "streaming.events_per_s": "1/s",
    "streaming.phase_coverage_pct": "%",
    "streaming.add_batch_coverage_pct": "%",
    "commit.cas_ms": "ms",
    "commit.claim_ms": "ms",
    "commit.conflicts": "count",
    "upsert.merge_in_rows": "count",
    "upsert.merge_out_rows": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "exec.retained_storage_mb": "MB",
    "feed.late_ms_max": "ms",
    "feed.backlog_files_max": "count",
    "sources.wire_log_s": "s",
    "read.p50_s": "s",
    "self.streaming_s": "s",
    "self.commit_s": "s",
    "self.exec_s": "s",
    "self.plans_s": "s",
    "self.session_s": "s",
    "self.sources_s": "s",
    "trace.overhead_pct": "%",
    "trace.latency_p50_s": "s",
}


def per_layer(tr, clock, wl, names, wire_s, storage, window_s, latency_p50) -> dict:
    out = tr.streaming_metrics(clock) if tr.triggers else {}
    q = tr.query_layers(names)
    out.update({
        "streaming.events_per_s": wl.events / wl.span_s if wl.span_s else 0.0,
        "plans.build_s": q["build_s"],
        "plans.build_jobs": q["build_jobs"],
        "spark.plan_s": q["plan_s"],
        **{f"exec.{k}": q[k] for k in ("exec_s", "jobs", "stages", "tasks",
                                       "shuffle_write_mb", "spill_mb", "failed_tasks")},
        "exec.retained_storage_mb": storage / (1024.0 * 1024.0),
        "feed.late_ms_max": wl.late_ms_max,
        "feed.backlog_files_max": wl.backlog_max,
        "sources.wire_log_s": wire_s,
        "read.p50_s": statistics.median(wl.reads) if wl.reads else 0.0,
        "trace.overhead_pct": 100.0 * tr.overhead_s / window_s,
        "trace.latency_p50_s": latency_p50,
    })
    for layer, secs in tr.self_time().items():
        out[f"self.{layer}_s"] = secs
    # a layer the workload does not exercise reads 0
    return {k: out.get(k, 0.0) for k in PER_LAYER_UNITS}


def _out_path(name: str) -> str:
    path = os.path.join(H.BENCH_DIR, ".out", name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process this
    run started (the JVM, the PySpark daemon and its workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(30)
                except Exception:
                    proc.kill()
                    proc.wait(10)
    deadline = time.monotonic() + 20
    while True:
        left = _descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            return
        time.sleep(0.1)


def _descendants() -> list[int]:
    table = H._proc_table()
    out, frontier = [], [os.getpid()]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, comm, _) in table.items() if pp == parent]
        out += kids
        frontier += kids
    return out


if __name__ == "__main__":
    raise SystemExit(main())
