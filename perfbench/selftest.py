#!/usr/bin/env python3
"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs one traced pass of one op per workload and one untraced pass with
a corrupted expected hash, each in a fresh process with its own JVM,
and checks that:

- every end-to-end and per-layer metric of workloads.json is emitted
  with its unit, and BENCHMARK.json declares the same names and units;
- the result line has exactly the keys correct, attempted, failed and
  metrics;
- no job escapes a job group, Python-worker time shows only where a
  Python kernel runs, and every output matches its oracle;
- a corrupted expected hash counts as a failed op.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import concurrent.futures
import json
import multiprocessing
import sys

from run import ROOT, WORK, Bench, load_spec

SELFTEST_WORK = WORK.parent / "perfbench-selftest"
CASES = {"pipeline": "stage1", "factor_panels": "a8_pooled_stats"}


def _spec() -> dict:
    spec = load_spec()
    spec["data"]["scale"] = "sf0.001"
    for name, op in CASES.items():
        spec["workloads"][name]["ops"] = [op]
    return spec


def run_case(workload: str, trace: bool, corrupt: bool) -> list[dict]:
    bench = Bench(_spec(), workload, seed=1, seconds=0, trace=trace, work=SELFTEST_WORK)
    if corrupt:
        op = CASES[workload]
        bench.expected = dict(bench.expected, **{op: {"rows": 0, "value_hash": "0" * 32}})
    return bench.run()


def _in_fresh_process(*args) -> list[dict]:
    ctx = multiprocessing.get_context("spawn")
    with concurrent.futures.ProcessPoolExecutor(1, ctx) as pool:
        return pool.submit(run_case, *args).result()


def check(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main() -> int:
    spec = load_spec()
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {k: v["unit"] for k, v in spec["end_to_end"].items()}
    layer_units = {k: v["unit"] for k, v in spec["per_layer"].items()}
    check(
        {m["name"]: m["unit"] for m in declared["per_layer"]} == layer_units,
        "BENCHMARK.json per_layer matches workloads.json",
    )
    gated = {
        k: v["unit"] for k, v in spec["end_to_end"].items() if v.get("in_result", True)
    }
    check(
        {m["name"]: m["unit"] for m in declared["end_to_end"]} == gated,
        "BENCHMARK.json end_to_end matches workloads.json",
    )
    check(
        [w["name"] for w in declared["workloads"]] == list(spec["workloads"]),
        "BENCHMARK.json names every workload",
    )
    traced = {}
    for workload in CASES:
        lines = _in_fresh_process(workload, True, False)
        result, detail = lines[-1], lines[1]
        traced[workload] = result["metrics"]
        check(
            set(result) == {"correct", "attempted", "failed", "metrics"},
            f"{workload}: result line keys",
        )
        check(result["correct"] and result["failed"] == 0, f"{workload}: outputs match")
        check(
            {k: v["unit"] for k, v in result["metrics"].items()} == layer_units,
            f"{workload}: every per-layer metric emitted with its unit",
        )
        check(
            {k: v["unit"] for k, v in detail["end_to_end"].items()} == e2e_units,
            f"{workload}: every end-to-end metric emitted with its unit",
        )
        check(
            result["metrics"]["spark.unattributed_jobs"]["value"] == 0,
            f"{workload}: every job carries a job group",
        )
    check(
        traced["pipeline"]["spark.python_run_s"]["value"] > 0
        and traced["factor_panels"]["spark.python_run_s"]["value"] == 0,
        "Python-worker time only where a Python kernel runs",
    )
    lines = _in_fresh_process("factor_panels", False, True)
    result = lines[-1]
    check(
        result["failed"] >= 1 and not result["correct"],
        "a corrupted expected hash counts as a failed op",
    )
    check(
        {k: v["unit"] for k, v in result["metrics"].items()} == gated,
        "untraced result carries the end-to-end metrics",
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
