"""Execute spread_for_compute's >4 GB trust-the-scan branch on real data
(r12 verdict item 2).

The branch that actually runs at 100 TB — "the optimizer-estimated input
is big, trust the scan's own partitioning, do NOT add a corpus shuffle"
(operators/_pipe.py spread_for_compute) — never fires on the toy
fixtures: every documents table estimates far below the 4 GB threshold,
so the unconditional-repartition branch always runs instead.  This
harness makes the trust branch execute end-to-end through the heaviest
consumers (ExactSubstr spans + removal) under the two conditions the
100 TB claim rests on:

1. **a realistic multi-file, non-hollow layout** — the sf10 documents
   table rewritten as 64 parquet files (each its own row group), scanned
   with ``spark.sql.files.maxPartitionBytes`` small enough that the
   bin-packing yields ≥ half the core count of GENUINE splits.  This is
   the shape real writers produce at scale (files ≈ 1 GB, row groups
   ≤ 128 MB, thousands of full splits); the default 128 MB setting on a
   60 MB fixture would pack everything into one split — an artifact of
   the toy size, not the design point.
2. **an optimizer estimate above the threshold** —
   ``spark.sql.sources.fileCompressionFactor`` raised so the relation's
   estimated size crosses 4 GB.  That knob exists precisely because
   parquet on-disk bytes under-estimate in-memory size; here it stands
   in for the missing 3 decades of fixture volume.  The branch's code
   path, partition accounting, and downstream plan are exactly the ones
   a real ≥4 GB scan takes — nothing in the engine is modified.

Reported per query: wall, process CPU (JVM + driver), effective cores
(CPU/wall).  PASS requires the trust branch verifiably taken (the input
DataFrame returned unchanged) and effective cores ≥ 16 on the spans
build — the collapse mode this guards against is ≤ 2 effective cores
(the r12 hollow-row-group incident).

Usage: python scripts/bench_trustscan.py [sf_dir] (default testdata_sf10,
falls back to testdata_sf1).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from postgres_debezium_clickhouse_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else None
    if sf_dir is None:
        for cand in ("testdata_sf10", "testdata_sf1"):
            p = os.path.join(_REPO, cand)
            if os.path.isdir(p):
                sf_dir = p
                break
    if sf_dir is None or not os.path.isdir(sf_dir):
        print("no fixture dir (run scripts/gen_testdata.py 10 "
              "testdata_sf10 first)", file=sys.stderr)
        return 2

    n_files = 64
    spark = get_spark(
        "bench-trustscan",
        extra_conf={
            # small-file bin-packing must yield ≥ cores/2 genuine splits
            # on the ~60 MB rewritten layout (see module docstring #1)
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # push the optimizer estimate over spread_for_compute's 4 GB
    # threshold (docstring #2); set dynamically so only this harness
    # session sees it
    spark.conf.set("spark.sql.sources.fileCompressionFactor", "512")

    layout = os.path.join(_REPO,
                          os.path.basename(sf_dir.rstrip("/")) + "_trustlayout")
    if not os.path.isdir(layout):
        print(f"  rewriting documents as {n_files}-file layout -> {layout}",
              file=sys.stderr)
        (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .repartition(n_files)
         .write.mode("overwrite").parquet(layout))

    from postgres_debezium_clickhouse_spark.operators import dedup as dd
    from postgres_debezium_clickhouse_spark.operators._pipe import spread_for_compute

    docs = spark.read.parquet(layout)
    est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    spread = spread_for_compute(docs)
    trust_taken = spread is docs
    n_parts = spread.rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    print(f"  estimate {est / (1 << 30):.2f} GiB, scan partitions "
          f"{n_parts}, cores {cores}, trust branch taken: {trust_taken}",
          file=sys.stderr)

    sys.path.insert(0, _REPO)
    import bench  # reuse the JVM-CPU measurement helpers

    jvm_pid = bench._find_jvm_pid()
    have_cpu = jvm_pid > 0 and bench._jvm_cpu_s(jvm_pid) >= 0

    results = {}
    for name, fn in (
        ("dedup_substring_spans",
         lambda: dd.substring_duplication(docs, min_len=40)),
        ("dedup_substring_removal",
         lambda: dd.substring_removal(docs, min_len=40)),
    ):
        cpu0 = bench._jvm_cpu_s(jvm_pid) if have_cpu else 0.0
        py0 = time.process_time()
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        cpu = ((bench._jvm_cpu_s(jvm_pid) - cpu0) if have_cpu else 0.0) + (
            time.process_time() - py0)
        eff = round(cpu / wall, 1) if wall else None
        results[name] = {"wall_s": round(wall, 2), "cpu_s": round(cpu, 1),
                         "effective_cores": eff}
        print(f"  {name}: {wall:.2f}s wall, {cpu:.1f}s CPU, "
              f"{eff} effective cores", file=sys.stderr)

    spans_eff = results["dedup_substring_spans"]["effective_cores"]
    verdict = (trust_taken and n_parts >= max(2, cores // 2)
               and spans_eff is not None and spans_eff >= 16)
    print(json.dumps({
        "metric": "trustscan_branch",
        "sf_dir": os.path.basename(sf_dir.rstrip("/")),
        "estimate_gib": round(est / (1 << 30), 2),
        "scan_partitions": n_parts,
        "cores": cores,
        "trust_branch_taken": trust_taken,
        "queries": results,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "pass": verdict,
    }))
    return 0 if verdict else 1


if __name__ == "__main__":
    raise SystemExit(main())
