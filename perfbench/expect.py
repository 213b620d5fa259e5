"""Regenerate ``perfbench/expected.json``, the results the benchmark checks.

    python3 perfbench/expect.py olap_mix [full|tiny]
    python3 perfbench/expect.py ww_pipeline [full|tiny] [runs]

``olap_mix``: runs every query of the mix through Spark and through its
DuckDB oracle (``tools.parity``) on the generated tables, stops on any
disagreement, and stores the digest of the Spark result.

``ww_pipeline``: runs the reference pipeline ``runs`` times (default 4) on
each fixture seed, each time cold in a fresh process, as the benchmark
runs it (the GradientBoosting metrics depend on how many pipelines ran
before in the same session).  Row counts and the LinearRegression
scenarios must repeat exactly; each GradientBoosting metric is stored as
the midpoint of what was observed, with its own observed drift (max − min)
in ``gbt_drift``.  Only the named section of the file is replaced.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

import run as bench

PATH = os.path.join(bench.HERE, "expected.json")


def expect_olap(r: bench.Run) -> dict:
    import check
    import tables
    from tools.parity import compare, duck_connection

    from cdc_wastewater_analysis_ml_spark.plans.registry import ORACLES, QUERIES

    sf_dir = tables.write(os.path.join(r.work, "data"), r.scale["sf"])
    r.start_session("perfbench")
    con = duck_connection(sf_dir)
    out = {}
    for name in bench.OLAP_MIX:
        t0 = time.perf_counter()
        pdf = QUERIES[name](r.spark, sf_dir).toPandas()
        t1 = time.perf_counter()
        problems = compare(pdf, con.execute(ORACLES[name]).fetchdf())
        print(f"{name}: spark {t1 - t0:.1f}s oracle {time.perf_counter() - t1:.1f}s "
              f"{problems or 'OK'}", flush=True)
        if problems:
            raise SystemExit(f"{name} disagrees with its DuckDB oracle: {problems}")
        out[name] = {**check.digest(pdf), "oracle": "duckdb"}
    return out


def cold_pipeline(scale: str, fixture_seed: int) -> dict:
    """One pipeline run in a fresh session on one fixture seed."""
    from tools.wastewater_fixture import write_fixture

    r = bench.Run(bench.parse_args(["--workload", "ww_pipeline", "--seed", "0",
                                    "--scale", scale]), {})
    r.prepare()
    try:
        write_fixture(os.path.join(r.work, "ww"), r.scale["ww_rows"], fixture_seed)
        r.start_session("wastewater-pipeline")
        wall, got = r.pipeline(os.path.join(r.work, "ww", "wastewater_samples.csv"),
                               traced=False, max_iter=r.scale["max_iter"])
    finally:
        r.stop()
    if got is None:
        raise RuntimeError(f"pipeline failed on fixture seed {fixture_seed}: {r.problems}")
    print(f"fixture {fixture_seed}: {wall:.1f}s {got}", flush=True)
    return got


def expect_pipeline(scale: str, runs: int) -> dict:
    spawn = multiprocessing.get_context("spawn")
    fixtures = {}
    for seed in bench.WW_FIXTURE_SEEDS:
        seen = []
        for _ in range(runs):
            with ProcessPoolExecutor(1, mp_context=spawn) as pool:
                seen.append(pool.submit(cold_pipeline, scale, seed).result())
        fixtures[str(seed)] = summarize(seen)
    return {"fixtures": fixtures, "runs_per_fixture": runs}


def summarize(seen: list[dict]) -> dict:
    """The expected record of one fixture from repeated pipeline outcomes."""
    first = seen[0]
    for other in seen[1:]:
        for k in ("model_ready_rows", "written_rows"):
            if other[k] != first[k]:
                raise SystemExit(f"{k} differs between runs: {first[k]} {other[k]}")
        for model, m in first["results"].items():
            if model.startswith("LinearRegression") and other["results"][model] != m:
                raise SystemExit(f"{model} differs between runs")
    results, drift = {}, {}
    for model, m in first["results"].items():
        results[model] = dict(m)
        if model.startswith("GradientBoosting"):
            vals = {k: [s["results"][model][k] for s in seen] for k in m}
            results[model] = {k: (max(v) + min(v)) / 2 for k, v in vals.items()}
            drift[model] = {k: max(v) - min(v) for k, v in vals.items()}
    return {
        "model_ready_rows": first["model_ready_rows"],
        "written_rows": first["written_rows"],
        "results": results,
        "gbt_drift": drift,
    }


def main() -> None:
    workload = sys.argv[1]
    scale = sys.argv[2] if len(sys.argv) > 2 else "full"
    if workload == "olap_mix":
        r = bench.Run(bench.parse_args(["--workload", workload, "--seed", "0",
                                        "--scale", scale]), {})
        r.prepare()
        try:
            section = expect_olap(r)
        finally:
            r.stop()
    else:
        section = expect_pipeline(scale, int(sys.argv[3]) if len(sys.argv) > 3 else 4)
    data = {}
    if os.path.exists(PATH):
        with open(PATH) as fh:
            data = json.load(fh)
    data.setdefault(scale, {})[workload] = section
    with open(PATH, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
