"""Self-test of the benchmark at tiny scale (sf0.001, a 2k-row fixture,
maxIter 2).

    python3 perfbench/selftest.py

Each workload runs once untraced and once traced; every metric that
``BENCHMARK.json`` names must print with its unit, and no operation may
fail.  The relational mix must give identical results for two seeds, and
a run against a deliberately wrong expected value must report a failure.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import check
import run as bench

SPEC = os.path.join(bench.ROOT, "BENCHMARK.json")
WORK = os.path.join(bench.ROOT, ".perfbench")


def bench_run(workload: str, seed: int, trace: int, expected: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if expected:
        cmd += ["--expected", expected]
    proc = subprocess.run(cmd, cwd=bench.ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{cmd} exited {proc.returncode}:\n{proc.stdout[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    print(f"{workload} seed={seed} trace={trace}: correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']}", flush=True)
    return result


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def check_metrics(result: dict, trace: int, spec: dict) -> None:
    names = spec["per_layer"] if trace else spec["end_to_end"]
    for m in names:
        got = result["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"]
               and isinstance(got["value"], float), f"metric {m['name']} with unit {m['unit']}")
    expect(result["correct"] and result["failed"] == 0, "no failed operation")


def main() -> None:
    with open(SPEC) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for seed, trace in ((1, 0), (2, 1)):
            check_metrics(bench_run(w["name"], seed, trace), trace, spec)

    results = []
    for seed in (1, 2):
        with open(os.path.join(WORK, f"results-olap_mix-{seed}.json")) as fh:
            results.append(json.load(fh)["digests"])
    for name, got in results[0].items():
        expect(not check.diff(got, results[1][name]), f"{name} identical for seeds 1 and 2")

    with open(os.path.join(bench.HERE, "expected.json")) as fh:
        bad = json.load(fh)
    f = bad["tiny"]["olap_mix"]["tpch_pricing_summary"]["floats"]["sum_qty"]
    f["sum"] += 1.0
    lr = bad["tiny"]["ww_pipeline"]["fixtures"]["43"]["results"]["LinearRegression (Original)"]
    lr["accuracy"] += 1e-9
    path = os.path.join(WORK, "selftest-expected.json")
    with open(path, "w") as fh:
        json.dump(bad, fh)
    for workload in ("olap_mix", "ww_pipeline"):
        r = bench_run(workload, 1, 0, expected=path)
        expect(not r["correct"] and r["failed"] == 1, f"a wrong expected value fails {workload}")
    os.remove(path)
    print("selftest passed")


if __name__ == "__main__":
    main()
