#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny sizes: 300 bronze rows, three
queries on a sf0.001 fixture. It checks that

  - every metric BENCHMARK.json names is printed, with its unit, untraced and
    traced, on both workloads;
  - a forced failure shows up in `failed` and makes the run incorrect;
  - another seed gives other bronze bytes but the same set of metrics.

Usage (from the root of a checkout): python3 perfbench/selftest.py
Takes about five minutes; exits non-zero on the first broken expectation.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"medallion_1k": ["--rows", "300"],
        "core_sf001": ["--sf", "0.001", "--queries",
                       "q01_pricing_summary,q10_describe_stats,q20_nunique"]}


def run(workload: str, seed: int, trace: int, *extra: str) -> tuple:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), *TINY[workload], *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if r.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {r.returncode}:\n"
                 f"{r.stderr[-2000:]}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    detail = json.loads((ROOT / ".bench_build" / "perfbench" /
                         f"last-{workload}-trace{trace}.json").read_text())
    return result, detail, r.stdout


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def units(result: dict) -> dict:
    return {k: m["unit"] for k, m in result["metrics"].items()}


def main() -> None:
    seed1 = None
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        for workload in TINY:
            result, detail, text = run(workload, 1, trace)
            if workload == "medallion_1k" and trace == 0:
                seed1 = result, detail
            expect(set(result) == {"correct", "attempted", "failed",
                                   "metrics"},
                   f"{workload} trace={trace}: result has exactly its keys")
            expect(result["correct"] and result["failed"] == 0,
                   f"{workload} trace={trace}: outputs correct")
            expect(units(result) == want,
                   f"{workload} trace={trace}: every {key} metric with "
                   "its unit")
            expect(all(f"{workload} {k} = " in text for k in want),
                   f"{workload} trace={trace}: every metric printed by name")

    result, detail, _ = run("core_sf001", 1, 0, "--force-fail")
    expect(result["failed"] >= 1 and not result["correct"]
           and detail["fail_rate"] > 0,
           "a forced failure counts in failed and fail_rate")

    a, da = seed1
    b, db, _ = run("medallion_1k", 2, 0)
    expect(da["bronze_sha256"] != db["bronze_sha256"],
           "another seed writes other bronze bytes")
    expect(units(a) == units(b), "another seed gives the same metrics")
    print("selftest passed")


if __name__ == "__main__":
    main()
