#!/usr/bin/env python3
"""Smoke test of the benchmark itself; run from the repository root:

    python3 perfbench/smoke.py

Checks the bronze generator (same seed, same rows; another seed, other
rows; delta ids never collide with base ids or with each other), checks
that ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints, and
runs every workload at sf0.001, untraced and traced, checking the shape
of each result. ``catalog_incremental`` must report its ops, failed or
not; the other workloads must be correct.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import bronze, run  # noqa: E402
from refitd_etl_spark.session import DEFAULT_SF_DIR  # noqa: E402

SMOKE_SCALE = "sf0.001"


def check_generator() -> None:
    part = bronze.read_part(os.path.join(os.path.dirname(DEFAULT_SF_DIR), SMOKE_SCALE))
    n = len(part["p_partkey"])
    a, b = bronze.base_rows(part, 7, n), bronze.base_rows(part, 7, n)
    assert a == b, "same seed gave different base rows"
    assert a != bronze.base_rows(part, 8, n), "different seeds gave the same base rows"
    assert bronze.delta_rows(part, 7, 0, 10) == bronze.delta_rows(part, 7, 0, 10)
    assert bronze.delta_rows(part, 7, 0, 10) != bronze.delta_rows(part, 8, 0, 10)

    def ids(rows):
        return [bronze.product_id(r) for r in rows]

    base = ids(a)
    deltas = [ids(bronze.delta_rows(part, 7, k, max(1, n // 50))) for k in range(3)]
    everything = base + [i for d in deltas for i in d]
    assert len(set(everything)) == len(everything), "product ids collide"
    groups = bronze.groups(a)
    assert 1.5 <= n / groups <= 2.5, f"{n} products in {groups} variant groups"
    cats = {r[2] for r in a}
    assert {"vests", "bags"} & cats, "no unmapped category in the batch"
    assert {len(r[12]) for r in a} == set(range(1, 8)), "image counts do not span 1-7"
    print(f"generator: ok ({n} products, {groups} variant groups)")


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == dict(run.END_TO_END), f"end_to_end differs from run.py: {e2e}"
    assert layers == dict(run.PER_LAYER), "per_layer differs from run.py"
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)
    print("BENCHMARK.json: ok")


def run_workload(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", SMOKE_SCALE]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit code {out.returncode}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    names = [n for n, _ in (run.PER_LAYER if trace else run.END_TO_END)]
    assert list(result["metrics"]) == names, f"{workload} trace={trace}: metric names differ"
    assert result["attempted"] >= 1
    if workload != "catalog_incremental":
        assert result["correct"] and result["failed"] == 0, f"{workload} trace={trace}: {lines[-3:]}"
    ops = next(json.loads(line.split(": ", 1)[1]) for line in lines if line.startswith("# ops: "))
    errors = sorted({e for *_, e in ops if e})
    print(f"{workload} trace={trace}: attempted {result['attempted']}, failed {result['failed']}"
          + (f", errors {errors}" if errors else ""))
    return result


def main() -> int:
    check_generator()
    check_benchmark_json()
    for workload in run.WORKLOAD_NAMES:
        for trace in (0, 1):
            run_workload(workload, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
