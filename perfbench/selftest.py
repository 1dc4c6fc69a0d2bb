"""Tiny-scale self-test of the benchmark (fixtures at sf0.001, 2-second
windows).

    python3 perfbench/selftest.py

For every workload, ``cdc_backfill`` included, it checks that an untraced
run prints every end-to-end metric of ``BENCHMARK.json`` with its unit and
0 failed operations, and
that a traced run with a deliberately wrong result (``--tamper`` drops one
row before each oracle comparison) prints every per-layer metric with its
unit and counts the wrong result as failed.  Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, tamper: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "0.001"]
    if tamper:
        cmd.append("--tamper")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_shape(result: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{what}: keys {sorted(result)}")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["failed"], int)):
        errors.append(f"{what}: attempted/failed {result['attempted']}/{result['failed']}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{what}: metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"units {[k for k in want if k in got and got[k] != want[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"{what}: {k} value {v.get('value')!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for w in WORKLOADS:
        plain = run(w, 0, tamper=False)
        errors += check_shape(plain, spec["end_to_end"], f"{w} trace 0")
        if plain["failed"] or not plain["correct"]:
            errors.append(f"{w}: {plain['failed']} failed operations on the seed code")
        bad = run(w, 1, tamper=True)
        errors += check_shape(bad, spec["per_layer"], f"{w} trace 1")
        if bad["failed"] < 1 or bad["correct"]:
            errors.append(f"{w}: a tampered result was not counted as failed")
        print(f"{w}: ok" if not errors else f"{w}: {errors}", flush=True)
    for e in errors:
        print("ERROR", e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
