"""Repository benchmark: closed-loop workloads with end-to-end and per-layer
metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

Run it from the repository root.  One client issues one query (or one
pipeline run) at a time, each after the previous one returned, on
``local[N]`` with N = the usable cores and the engine's ``get_spark()``
defaults.  Inputs are generated under ``.perfbench/``; the seed orders the
``olap_mix`` queries and picks the ``ww_pipeline`` fixture.
Results are checked against ``perfbench/expected.json``; an exception or a
wrong result counts as a failed operation.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced pass plus the tracing overhead; both end with
one JSON line ``{"correct", "attempted", "failed", "metrics"}``.  The spans
of a traced run go to ``.perfbench/trace-<workload>-<seed>.json``.  See
``perfbench/README.md`` for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import shutil
import signal
import statistics
import sys
import tempfile
import time
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import spans  # noqa: E402

#: Relational registry queries: plan build and job scheduling dominate the
#: executor work in each of them.
OLAP_MIX = [
    "flagship_weekly_detection_rate",
    "tpch_pricing_summary",
    "tpch_revenue_by_nation",
    "tpch_shipping_priority",
    "tpch_late_order_priority",
    "tpch_promo_revenue",
    "tpch_trade_volume",
    "join_left_equi",
    "join_semi_topk",
    "join_asof",
    "join_range",
    "agg_rollup",
    "agg_quantiles_by_key",
    "agg_session_windows",
    "window_lag",
    "window_trailing_mean_time",
    "sort_rows_ranked",
]

#: Input sizes.  ``tiny`` is the self-test's scale.
SCALES = {
    "full": {"sf": 0.1, "ww_rows": 50_000, "max_iter": 10},
    "tiny": {"sf": 0.001, "ww_rows": 2_000, "max_iter": 2},
}

#: The reference pipeline's input is one of these fixture seeds, picked by
#: the benchmark seed; expected.json holds the checked outcome of each.
WW_FIXTURE_SEEDS = (42, 43, 44)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_gap_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.action_gap_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.core_util": "ratio",
    "sources.input_bytes": "bytes",
    "plans.features.s": "s",
    "plans.features.jobs": "count",
    "plans.ml.split_s": "s",
    "plans.ml.scale_pca_s": "s",
    "plans.ml.gbt_fit_s": "s",
    "plans.ml.linear_fit_s": "s",
    "plans.ml.jobs": "count",
    "plans.metrics.evaluate_s": "s",
    "plans.metrics.jobs": "count",
    "sources.sink_csv_s": "s",
    "sources.output_bytes": "bytes",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, expected: dict):
        self.args = args
        self.scale = SCALES[args.scale]
        self.expected = expected.get(args.scale, {})
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.results: dict[str, dict] = {}
        self.layers: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
        self.samples: dict[str, int] = {}
        self.latencies: dict[str, list[float]] = {}
        self.spark = None
        self.tracer = None

    # -- bookkeeping -------------------------------------------------------

    def outcome(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{name}: " + "; ".join(problems)[:500])

    def attempt(self, name: str, fn, verify=None) -> None:
        """Run one operation.  It fails if it raises or if ``verify`` (given
        its result) reports problems."""
        try:
            value = fn()
        except Exception as exc:  # noqa: BLE001 - a failed operation, reported
            self.outcome(name, [f"{type(exc).__name__}: {str(exc)[:300]}"])
            return
        self.outcome(name, verify(value) if verify else [])

    # -- environment and session --------------------------------------------

    def prepare(self) -> None:
        """Keep every file Spark, the JVM and Python write inside the run
        directory, and pin the parallelism to the usable cores."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # Both JVMs, the launcher's and Spark's, write no hsperfdata
            # under /tmp and keep their temporary files in the run directory.
            SPARK_LAUNCHER_OPTS=jvm_opts,
            SPARK_SUBMIT_OPTS=" ".join(
                p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if p
            ),
        )
        tempfile.tempdir = tmp

    def start_session(self, app_name: str) -> float:
        from cdc_wastewater_analysis_ml_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is not None:
            from pyspark import SparkContext

            pids = spans.process_tree(os.getpid())[1:]
            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - a JVM that will not exit
                    proc.kill()
                    proc.wait()
            deadline = time.monotonic() + 30
            for pid in pids:
                while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                    time.sleep(0.05)
                if os.path.exists(f"/proc/{pid}"):
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)
        shutil.rmtree(self.work, ignore_errors=True)

    def tree_cpu(self) -> float:
        return spans.cpu_seconds(spans.process_tree(os.getpid()))

    def tree_peak_rss(self) -> float:
        return spans.peak_rss_mb(spans.process_tree(os.getpid()))

    # -- relational mix ------------------------------------------------------

    def run_mix(self, names: list[str]) -> None:
        import tables
        from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

        sf_dir = tables.write(os.path.join(self.work, "data"), self.scale["sf"])
        want = self.expected["olap_mix"]
        start_s = self.start_session("perfbench")
        spark = self.spark

        def verify(got: dict) -> list[str]:
            self.results[name] = got
            return check.diff(got, want[name])

        # Warm pass at the target scale, which is also the correctness pass.
        t0 = time.perf_counter()
        for name in self.rng.sample(names, len(names)):
            self.attempt(name, lambda: check.digest(QUERIES[name](spark, sf_dir).toPandas()), verify)
        warm_s = time.perf_counter() - t0
        self.metrics["setup_s"] = start_s + warm_s
        self.layers["session.start_s"] = start_s
        self.layers["session.warm_s"] = warm_s

        passes, lat = [], []
        per_query: dict[str, list[float]] = {n: [] for n in names}
        cpu0 = self.tree_cpu()
        t_end = time.perf_counter() + self.args.seconds
        while not passes or time.perf_counter() < t_end:
            t_pass = time.perf_counter()
            for name in self.rng.sample(names, len(names)):
                t = time.perf_counter()
                self.attempt(name, lambda: _noop(QUERIES[name](spark, sf_dir)))
                lat.append(time.perf_counter() - t)
                per_query[name].append(lat[-1])
            passes.append(time.perf_counter() - t_pass)
        self.latencies = per_query
        self.metrics["cpu_s"] = (self.tree_cpu() - cpu0) / len(passes)
        self.metrics["wall_s"] = statistics.median(passes)
        self.metrics["query_p50_s"] = statistics.median(lat)
        self.layers["process.peak_rss_mb"] = self.tree_peak_rss()
        self.samples = {"passes": len(passes), "queries": len(lat)}
        if self.args.trace:
            self.traced_mix(names, sf_dir)

    def traced_mix(self, names: list[str], sf_dir: str) -> None:
        """One more pass in which every query runs twice, untraced and with a
        span around its plan build and its action (alternating which goes
        first).  The difference of the two sums is the tracing overhead."""
        from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

        tr = self.tracer = spans.Tracer(self.spark, enabled=True)
        plain_s = traced_s = 0.0

        def op(name: str) -> None:
            with tr.span("plans.build"):
                df = QUERIES[name](self.spark, sf_dir)
            with tr.span("operators.action"):
                _noop(df)

        for i, name in enumerate(self.rng.sample(names, len(names))):
            for traced in (i % 2 == 0, i % 2 == 1):
                t = time.perf_counter()
                if traced:
                    root = tr.begin(f"query:{name}")
                    self.attempt(name, lambda: op(name))
                    tr.end(root)
                    traced_s += time.perf_counter() - t
                    tr.collect_jobs(tr.subtree(root))
                else:
                    self.attempt(name, lambda: _noop(QUERIES[name](self.spark, sf_dir)))
                    plain_s += time.perf_counter() - t
        tr.close()
        kids = [s for s in tr.spans if s.parent is not None]
        self.layer_mix(
            [s for s in kids if s.name == "plans.build"],
            [s for s in kids if s.name == "operators.action"],
        )
        self.layers["trace.overhead_s"] = traced_s - plain_s

    def layer_mix(self, builds, actions) -> None:
        b = spans.job_stats(builds)
        a = spans.job_stats(actions)
        build_s = sum(s.end - s.start for s in builds)
        action_s = sum(s.end - s.start for s in actions)
        L = self.layers
        L["plans.build_s"] = build_s
        L["plans.build_py4j_calls"] = sum(s.py4j_calls for s in builds)
        L["plans.build_gap_s"] = build_s - b["job_s"]
        L["plans.build_jobs"] = b["jobs"]
        L["plans.build_job_s"] = b["job_s"]
        L["operators.action_s"] = action_s
        L["operators.action_gap_s"] = action_s - a["job_s"]
        # Every job of the query, the builder's eager ones included.
        self._job_layers(spans.job_stats(builds + actions))

    def _job_layers(self, st: dict) -> None:
        L = self.layers
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s"):
            L[f"operators.{k}"] = st[k]
        L["operators.core_util"] = (
            st["executor_run_s"] / (self.cores * st["job_s"]) if st["job_s"] else 0.0
        )
        L["sources.input_bytes"] = st["input_bytes"]

    # -- reference pipeline ------------------------------------------------

    def run_pipeline(self) -> None:
        from tools.wastewater_fixture import write_fixture

        fixture_seed = WW_FIXTURE_SEEDS[self.args.seed % len(WW_FIXTURE_SEEDS)]
        t0 = time.perf_counter()
        write_fixture(os.path.join(self.work, "ww"), self.scale["ww_rows"], fixture_seed)
        csv = os.path.join(self.work, "ww", "wastewater_samples.csv")
        start_s = self.start_session("wastewater-pipeline")
        self.metrics["setup_s"] = time.perf_counter() - t0
        self.layers["session.start_s"] = start_s
        want = self.expected["ww_pipeline"]["fixtures"][str(fixture_seed)]

        cpu0 = self.tree_cpu()
        wall, got = self.pipeline(csv, traced=bool(self.args.trace), max_iter=self.scale["max_iter"])
        self.metrics["cpu_s"] = self.tree_cpu() - cpu0
        self.metrics["wall_s"] = wall
        self.metrics["query_p50_s"] = wall
        self.layers["process.peak_rss_mb"] = self.tree_peak_rss()
        self.samples = {"passes": 1, "queries": 1}
        if got is not None:
            self.results["ww_pipeline"] = got
            self.outcome("ww_pipeline", check.check_pipeline(got, want))
        if self.args.trace:
            self.layer_pipeline(wall)

    def pipeline(self, csv: str, traced: bool, max_iter: int):
        """One run of the CLI pipeline; returns (wall seconds, outcome)."""
        import cdc_wastewater_analysis_ml_spark.__main__ as cli
        import pyspark.ml.classification as cls
        from cdc_wastewater_analysis_ml_spark.plans import ml

        out_dir = os.path.join(self.work, "ww_out")
        shutil.rmtree(out_dir, ignore_errors=True)
        argv = [csv, "--out", out_dir, "--max-iter", str(max_iter)]
        tr = spans.Tracer(self.spark, enabled=traced)
        if traced:
            self.tracer = tr
        scenarios = ml.run_reference_scenarios
        results: list = []
        printed = io.StringIO()
        error = None

        def capture(*args, **kwargs):
            tr.end(features)  # the feature phase ends where ML starts
            with tr.span("plans.ml"):
                res = scenarios(*args, **kwargs)
            results.extend(res)
            return res

        with contextlib.ExitStack() as stack:
            stack.callback(tr.close)
            stack.enter_context(mock.patch.object(ml, "run_reference_scenarios", capture))
            if traced:
                for owner, attr, name in (
                    (cli, "sink_csv", "sources.sink_csv"),
                    (ml, "split_train_test_stratified", "plans.ml.split"),
                    (ml, "fit_scaler", "plans.ml.scale_pca"),
                    (ml, "fit_variance_pca", "plans.ml.scale_pca"),
                    (ml, "train_linear_probability", "plans.ml.linear_fit"),
                    (ml, "evaluate_scored", "plans.metrics.evaluate"),
                    (cls.GBTClassifier, "fit", "plans.ml.gbt_fit"),
                ):
                    traced_fn = tr.traced(getattr(owner, attr), name)
                    stack.enter_context(mock.patch.object(owner, attr, traced_fn))
            t0 = time.perf_counter()
            root = tr.begin("pipeline")
            features = tr.begin("plans.features")
            with contextlib.redirect_stdout(printed):
                try:
                    cli.main(argv)
                except Exception as exc:  # noqa: BLE001 - a failed run, reported
                    error = f"{type(exc).__name__}: {str(exc)[:300]}"
            tr.end(root)
            wall = time.perf_counter() - t0
        tr.collect_jobs()
        if error is not None:
            self.outcome("ww_pipeline", [error])
            return wall, None
        m = re.search(r"model-ready rows: (\d+)", printed.getvalue())
        return wall, {
            "model_ready_rows": int(m.group(1)) if m else None,
            "written_rows": _csv_rows(os.path.join(out_dir, "processed_csv")),
            "results": {
                r.model: {"accuracy": r.accuracy, "roc_auc": r.roc_auc,
                          "average_precision": r.average_precision}
                for r in results
            },
        }

    def layer_pipeline(self, wall: float) -> None:
        tr = self.tracer
        L = self.layers

        def named(prefix: str) -> list:
            return [s for s in tr.spans if s.name == prefix]

        def dur(spans) -> float:
            return sum(s.end - s.start for s in spans)

        def jobs(spans) -> int:
            return sum(len(s.jobs) for s in spans)

        evaluate = [x for s in named("plans.metrics.evaluate") for x in tr.subtree(s)]
        ml_all = [x for s in named("plans.ml") for x in tr.subtree(s)]
        feats = [x for s in named("plans.features") for x in tr.subtree(s)]
        sink = [x for s in named("sources.sink_csv") for x in tr.subtree(s)]
        L["plans.features.s"] = dur(named("plans.features"))
        L["plans.features.jobs"] = jobs(feats)
        L["plans.ml.split_s"] = dur(named("plans.ml.split"))
        L["plans.ml.scale_pca_s"] = dur(named("plans.ml.scale_pca"))
        L["plans.ml.gbt_fit_s"] = dur(named("plans.ml.gbt_fit"))
        L["plans.ml.linear_fit_s"] = dur(named("plans.ml.linear_fit"))
        L["plans.ml.jobs"] = jobs(ml_all) - jobs(evaluate)
        L["plans.metrics.evaluate_s"] = dur(named("plans.metrics.evaluate"))
        L["plans.metrics.jobs"] = jobs(evaluate)
        L["sources.sink_csv_s"] = dur(named("sources.sink_csv"))
        L["sources.output_bytes"] = spans.job_stats(sink)["output_bytes"]
        st = spans.job_stats(tr.spans)
        L["operators.action_s"] = wall
        L["operators.action_gap_s"] = wall - st["job_s"]
        self._job_layers(st)
        # A second, untraced pipeline run to subtract from would cost as much
        # as the run itself and vary by more than the tracer adds, so this
        # is the tracer's own time inside the run.
        L["trace.overhead_s"] = tr.self_s

    # -- output ------------------------------------------------------------

    def report(self) -> dict:
        names = PER_LAYER if self.args.trace else END_TO_END
        values = self.layers if self.args.trace else self.metrics
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in names.items()}
        for k, m in metrics.items():
            print(f"perfbench: {k} = {m['value']:.6g} {m['unit']}")
        if not self.args.trace:
            # Printed, not bounded: the JVM's heap growth makes it vary by
            # more than any bound (see README.md).
            print(f"perfbench: peak_rss_mb = {self.layers['process.peak_rss_mb']:.6g} MB")
        n = max(self.attempted, 1)
        print(f"perfbench: error_rate = {self.failed / n:.6g} ratio "
              f"({self.failed} of {self.attempted} operations failed)")
        print(f"perfbench: samples = {self.samples}")
        for p in self.problems:
            print(f"perfbench: FAILED {p}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _noop(df) -> None:
    """Run the whole plan without collecting it: the no-op sink."""
    df.write.format("noop").mode("overwrite").save()


def _csv_rows(path: str) -> int | None:
    """Data rows written by ``sink_csv`` (every part file has a header)."""
    import csv

    try:
        parts = sorted(f for f in os.listdir(path) if f.endswith(".csv"))
    except OSError:
        return None
    rows = 0
    for f in parts:
        with open(os.path.join(path, f), newline="") as fh:
            rows += max(sum(1 for _ in csv.reader(fh)) - 1, 0)
    return rows


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["olap_mix", "ww_pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(args.expected) as fh:
        run = Run(args, json.load(fh))
    run.prepare()
    try:
        if args.workload == "olap_mix":
            run.run_mix(OLAP_MIX)
        else:
            run.run_pipeline()
        out = os.path.join(os.getcwd(), ".perfbench")
        with open(os.path.join(out, f"results-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"digests": run.results, "latency_s": run.latencies}, fh)
        if run.tracer is not None:
            run.tracer.dump(
                os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "evicted": run.tracer.evicted,
                 "layers": run.layers},
            )
        result = run.report()
    finally:
        run.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
