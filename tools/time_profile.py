"""Wall-time profiler for one registry query at bench conditions (r14).

The bench (bench.py) times ``QUERIES[name](spark, sf_dir)`` + a noop write
end-to-end; the scale tools (scale_probe/stage_profile) profile shuffle
BYTES.  This tool answers the optimization round's first question — where
does the per-query WALL time actually go at the bench scale factor:

- plan construction (the Python/py4j builder call) vs execution (the noop
  write, including any eager actions the builder ran);
- per-job and per-stage durations from the session's UI REST endpoint,
  so serial job chains (iterative CC rounds, persist barriers) show up as
  what they are: many small jobs whose latencies add.

Usage: python -m tools.time_profile QUERY FIXTURE_DIR [runs]

Bench parity: local[$SPARK_GRAFT_CPUS] (default 32), shuffle partitions
32, LAUNCH_CONFS and RUNTIME_CONFS (the codegen cache ``get_spark`` sizes),
one warm-up run at sf0.001 then `runs` timed runs at
FIXTURE_DIR (default 3, median reported), noop sink.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import urllib.request

from pyspark.sql import SparkSession

from cdc_wastewater_analysis_ml_spark.session import LAUNCH_CONFS, RUNTIME_CONFS


def build_session(port: int = 4057) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName("time_profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(port))
    )
    for k, v in {**LAUNCH_CONFS, **RUNTIME_CONFS}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _rest(spark: SparkSession, path: str):
    app_id = spark.sparkContext.applicationId
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/{path}",
                                timeout=10) as r:
        return json.load(r)


def main() -> None:
    name, sf_dir = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: same shapes the bench warms (codegen/JIT + Python pools).
    for warm_sf in ("/root/testdata/sf0.001",):
        try:
            _force(QUERIES[name](spark, warm_sf))
        except Exception as exc:  # report, keep going — timed run will show it
            print(f"warm-up failed: {exc}", flush=True)
    gc.collect()

    build_ts, exec_ts, total_ts = [], [], []
    first_job = None
    for i in range(runs):
        jobs_before = len(_rest(spark, "jobs"))
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        _force(df)
        t2 = time.perf_counter()
        build_ts.append(t1 - t0)
        exec_ts.append(t2 - t1)
        total_ts.append(t2 - t0)
        if i == runs - 1:
            first_job = jobs_before
        del df
        gc.collect()

    print(f"{name} @ {sf_dir}  (runs={runs})")
    print(
        f"  build  median {statistics.median(build_ts):.3f}s  {sorted(round(t,3) for t in build_ts)}"
    )
    print(
        f"  exec   median {statistics.median(exec_ts):.3f}s  {sorted(round(t,3) for t in exec_ts)}"
    )
    print(
        f"  total  median {statistics.median(total_ts):.3f}s  {sorted(round(t,3) for t in total_ts)}"
    )

    # Job/stage breakdown of the LAST run (earlier-run jobs excluded by id).
    jobs = [j for j in _rest(spark, "jobs") if j["jobId"] >= (first_job or 0)]
    jobs.sort(key=lambda j: j["jobId"])
    stages = {s["stageId"]: s for s in _rest(spark, "stages?status=complete")}
    print(f"  last run: {len(jobs)} jobs")
    for j in jobs:
        sub = j.get("submissionTime", "")
        comp = j.get("completionTime", "")
        dur = ""
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            d = (
                datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
            ).total_seconds()
            dur = f"{d*1000:7.0f}ms"
        except Exception:
            pass
        sids = j.get("stageIds", [])
        stage_bits = []
        for sid in sorted(sids):
            s = stages.get(sid)
            if s is None:
                continue
            stage_bits.append(
                f"s{sid}({s.get('numTasks')}t,{s.get('executorRunTime',0)}ms-run"
                f",{s.get('shuffleWriteBytes',0)//1024}KBw)"
            )
        desc = (j.get("description") or j.get("name") or "")[:60]
        print(f"    job {j['jobId']:4d} {dur}  {desc}")
        for b in stage_bits:
            print(f"         {b}")


if __name__ == "__main__":
    main()
