"""Scale-ladder probe (VERDICT r5 task 5; machine-readable per r6 task 2):
run the flagship scale-path families at sf0.1 and at a bigger synthetic
fixture (``tools/gen_scale_fixture.py``) and record wall time + shuffle
volume per query, so the 100 TB design claims get an empirical scaling
datapoint — and emit it as ``PROBE_r{N}.json`` at the repo root so a
regression in a scaling exponent or shuffle volume is a diffable fact, not
DEVNOTES prose.

Shuffle bytes come from the Spark UI REST API (this probe builds its own
session with the UI enabled; the engine default keeps it off), summed over
the stages that ran during each query — deltas between snapshots.

Usage:
    python -m tools.gen_scale_fixture /tmp/spark_graft_sf1 10
    python -m tools.scale_probe [queries...]

    # 100x rung:
    SPARK_GRAFT_PROBE_BIG_LABEL=sf10 \
    SPARK_GRAFT_PROBE_BIG_DIR=/tmp/spark_graft_sf10 \
    SPARK_GRAFT_PROBE_FACTOR=100 python -m tools.scale_probe ...

Fixture-shape decision (r12, VERDICT r11 task 5): the canonical ladder
MIGRATES to 32-part-file production-shaped fixtures from r13 on.  The
single-file fixtures trip ``fan_out``'s files<parallelism repartition
guard — a no-op on any real multi-file table — and the guard's exchanges
were measured at ~10% (dedup_lsh_verified) to ~34%
(pipeline_incremental_ingest) of the committed probe bytes, distorting
exactly the exponents the ladder exists to keep honest.  r12 is the
dual-record round: PROBE_r12.json is the LAST single-file record (directly
comparable to r01-r11) and PROBE_MULTIFILE_r12.json is the first
multi-file record (the r13+ baseline).  Multi-file rungs:
    python -m tools.gen_scale_fixture /tmp/spark_graft_sf01_mf 1 0 32
    python -m tools.gen_scale_fixture /tmp/spark_graft_sf10_mf 100 0 32
    SPARK_GRAFT_PROBE_SMALL_LABEL=sf0.1mf \
    SPARK_GRAFT_PROBE_SMALL_DIR=/tmp/spark_graft_sf01_mf \
    SPARK_GRAFT_PROBE_BIG_LABEL=sf10mf \
    SPARK_GRAFT_PROBE_BIG_DIR=/tmp/spark_graft_sf10_mf \
    SPARK_GRAFT_PROBE_FACTOR=100 \
    SPARK_GRAFT_PROBE_OUT=PROBE_MULTIFILE_r{N}.json python -m tools.scale_probe

Three-rung protocol (r13, VERDICT r12 task 2): the mf SMALL rung sits at
the broadcast floor (e.g. dedup_lsh_verified shuffles 0.1 MB there), so a
single 100× byte exponent reads the floor constant, not the slope — r12's
2.15/2.00 "exponents" on the two heavy dedup queries were exactly that
artifact.  Record TWO files per round: the canonical PROBE_r{N}.json
(sf0.1mf → sf10mf, factor 100; regression-compares bytes against the
previous round) and PROBE_MIDRUNG_r{N}.json (sf1mf → sf10mf, factor 10;
``gen_scale_fixture /tmp/spark_graft_sf1_mf 10 0 32``), and quote the
mid→big segment as the honest asymptotic byte exponent once the small
rung has left the floor.
"""

from __future__ import annotations

import gc
import json
import math
import os
import sys
import time
import urllib.request
from pathlib import Path

from pyspark.sql import SparkSession

from cdc_wastewater_analysis_ml_spark.session import LAUNCH_CONFS, RUNTIME_CONFS

#: The 9-family ladder recorded in DEVNOTES (r6) — the default probe set.
DEFAULT_QUERIES = [
    "dedup_lsh_verified",
    "dedup_cluster_cc",
    "corpus_contamination",
    "sim_ivf_index_persisted",
    "corpus_pack_sequences",
    "corpus_pack_greedy",
    "corpus_unigram_logprob",
    "corpus_tfidf_top_terms",
    "corpus_shard_assign",
    "dedup_substring_kgram",
    "pipeline_corpus_curation",
    # r7: the delta-vs-store ingest shape — r7's worst scaler (exponent
    # 0.89/0.90 both vocab regimes).  r8 diagnosed the real causes
    # (registry-layer cache-scope drop + zero-reuse persists + cache-race)
    # and fixed them: exponent 0.56-0.59, walls 6.3-6.7x lower.  Keep
    # probed as the regression guard for exactly that class of bug.
    "dedup_incremental_near",
    # r8: multi-table OR-amplified RHP-LSH (the repaired ANN-LSH knob).
    "sim_cosine_lsh_multi",
    # r8 session 2: CCNet line-level dedup — the digest-keyed count +
    # broadcast-anti-join + pos-sorted reassembly pipeline; probed because
    # the reassembly shuffle is the only corpus-sized exchange and must
    # stay the only one.
    "corpus_line_dedup",
    # r9: the daily-crawl composite (line-clean vs store → exact vs store →
    # near vs store → quality → pack) — every stage delta-driven; the probe
    # guards that NO stage smuggles in a corpus-sized exchange as the store
    # grows 100×.  (Not in bench.py HEADLINE: the driver record is 1 query
    # from its length horizon, and this query's story is scale.)
    "pipeline_incremental_ingest",
    # r10: the composite's store-refresh artifact (full-outer digest merge,
    # the exchange-free-capable plan) — probed so the refresh stays a
    # digest-width shuffle as the store grows.
    "pipeline_ingest_store_refresh",
]
# NOT in the ladder: dedup_ngram_jaccard.  Standalone exact Jaccard is
# BY CONTRACT quadratic in docs sharing a shingle (its docstring: at scale
# it runs AFTER an LSH candidate filter), and the canonical sf10 rung's
# saturated 31-word vocabulary makes every shingle hot — the r11 attempt
# to ladder it ran the self-join into the ground (~10^10 intermediate
# rows), which measures the contract, not a regression.  Its digest-key
# win is recorded at the sf1 and ov100 rungs instead (DEVNOTES r11).

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/spark_graft_sf1"
BIG_LABEL = os.environ.get("SPARK_GRAFT_PROBE_BIG_LABEL", "sf1")
BIG_DIR = os.environ.get("SPARK_GRAFT_PROBE_BIG_DIR", SF1)
#: Non-default small rungs (e.g. the open-vocab experiment pairs ov1 with
#: ov100, and the r13+ canonical multi-file ladder itself) MUST also
#: override SPARK_GRAFT_PROBE_OUT; tests/test_probe_contract.py binds the
#: canonical PROBE_r{N}.json record to small == "sf0.1" through r12 and
#: small == "sf0.1mf" from r13 on (the r12 fixture decision).
SMALL_LABEL = os.environ.get("SPARK_GRAFT_PROBE_SMALL_LABEL", "sf0.1")
SMALL_DIR = os.environ.get("SPARK_GRAFT_PROBE_SMALL_DIR", SF01)
OUT_NAME = os.environ.get("SPARK_GRAFT_PROBE_OUT")
FACTOR = float(os.environ.get("SPARK_GRAFT_PROBE_FACTOR", "10"))
if FACTOR <= 1:
    raise SystemExit("SPARK_GRAFT_PROBE_FACTOR must be > 1")
if BIG_LABEL == SMALL_LABEL:
    raise SystemExit("SPARK_GRAFT_PROBE_BIG_LABEL must differ from the small label")
if SMALL_LABEL != "sf0.1" and not OUT_NAME:
    raise SystemExit(
        "a non-sf0.1 small rung needs SPARK_GRAFT_PROBE_OUT (the canonical "
        "PROBE_r{N}.json record is contract-bound to small == sf0.1)"
    )


def build_session(app_name: str = "scale_probe", port: int = 4049) -> SparkSession:
    """Probe session: local[32], UI enabled for the REST stage counters,
    and the launch and runtime confs of ``get_spark``.  Shared with
    ``stage_profile`` so both measure one session shape."""
    b = (
        SparkSession.builder.appName(app_name)
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        # Local mode runs all 32 executor threads inside the driver JVM,
        # and the 15-query ladder accumulates block-manager state across
        # the 100× rung: at 8g the r9 re-run hit UNABLE_TO_ACQUIRE_MEMORY
        # (execution memory, not storage) 11 queries in.  16g is harness
        # capacity for one shared local JVM — cluster executors own their
        # heaps, so this is not part of any operator's scale claim.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_PROBE_DRIVER_MEM", "16g"),
        )
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(port))
    )
    for k, v in {**LAUNCH_CONFS, **RUNTIME_CONFS}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def rest_shuffle_totals(spark: SparkSession) -> tuple[int, int]:
    """Total (write, read) shuffle bytes over completed stages, via the
    session's OWN UI REST endpoint — ``uiWebUrl`` is the actually-bound
    address, so a port taken by a neighbor (spark.port.maxRetries bumps
    the bind) can no longer point the counter at a dead endpoint (r11
    review; previously a hardcoded localhost:4049)."""
    app_id = spark.sparkContext.applicationId
    base = spark.sparkContext.uiWebUrl
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_record(
    results: dict[str, list[dict]],
    names: list[str],
    big_label: str,
    factor: float,
    small_label: str = "sf0.1",
) -> dict:
    """Pure assembly of the PROBE record from per-(query@sf) run lists.

    ``results`` maps ``"{name}@sf0.1"`` / ``"{name}@{big_label}"`` to the
    list of per-run dicts (``sec`` / ``shuffle_write_mb`` /
    ``shuffle_read_mb``).  Exponents use the LAST (steady-state) run of
    each pair: exponent = log(wall ratio) / log(factor); an exponent of 1
    is linear scaling on fixed cores, < 1 sublinear.
    """
    record: dict = {
        "small": small_label,
        "big": big_label,
        "factor": factor,
        "queries": {},
    }
    for name in names:
        a_runs = results.get(f"{name}@{small_label}")
        b_runs = results.get(f"{name}@{big_label}")
        if not a_runs or not b_runs:
            continue
        a, b = a_runs[-1], b_runs[-1]
        ratio = b["sec"] / max(a["sec"], 1e-9)
        # Byte exponent (r9 VERDICT task 3): for iterative shapes the wall
        # is machine-phase noisy while shuffle bytes are deterministic
        # (four r9 cluster_cc runs: walls 111-193 s, bytes byte-identical)
        # — the byte exponent is the trustworthy scaling metric there.
        # None when the small rung shuffles < 0.1 MB (a log of ~zero).
        bw_ratio = (
            b["shuffle_write_mb"] / a["shuffle_write_mb"]
            if a["shuffle_write_mb"] >= 0.1
            else None
        )
        record["queries"][name] = {
            "small_sec": a["sec"],
            "big_sec": b["sec"],
            "small_shuffle_write_mb": a["shuffle_write_mb"],
            "big_shuffle_write_mb": b["shuffle_write_mb"],
            "small_shuffle_read_mb": a["shuffle_read_mb"],
            "big_shuffle_read_mb": b["shuffle_read_mb"],
            "wall_ratio": round(ratio, 2),
            "exponent": round(math.log(ratio) / math.log(factor), 3),
            "byte_exponent": (
                round(math.log(bw_ratio) / math.log(factor), 3)
                if bw_ratio
                else None
            ),
            "runs_small": a_runs,
            "runs_big": b_runs,
        }
    return record


def probe_path(root: Path) -> Path:
    """PROBE_r{N}.json for the round currently being built (marker-derived,
    same epoch rule as the staleness audit)."""
    from tools.staleness import current_round

    return root / f"PROBE_r{current_round(root):02d}.json"


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = build_session()

    from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES

    # warm-up: JVM codegen + Python worker pools on the tiny fixture
    _force(QUERIES["flagship_weekly_detection_rate"](spark, "/root/testdata/sf0.001"))
    _force(QUERIES["sim_cosine_topk"](spark, "/root/testdata/sf0.001"))

    results: dict[str, list[dict]] = {}
    for sf_label, sf_dir in ((SMALL_LABEL, SMALL_DIR), (BIG_LABEL, BIG_DIR)):
        for name in names:
            runs = []
            for i in range(2):
                gc.collect()
                w0, r0 = rest_shuffle_totals(spark)
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                _force(df)
                dt = time.perf_counter() - t0
                time.sleep(0.5)  # let the status store catch up
                w1, r1 = rest_shuffle_totals(spark)
                runs.append(
                    {
                        "sec": round(dt, 2),
                        "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
                        "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
                    }
                )
                del df
            results[f"{name}@{sf_label}"] = runs
            print(json.dumps({f"{name}@{sf_label}": runs}), flush=True)

    record = build_record(results, names, BIG_LABEL, FACTOR, SMALL_LABEL)
    root = Path(__file__).resolve().parent.parent
    if OUT_NAME:
        # Expand a literal {N} or {N:02d} token to the zero-padded current
        # round (probe_path's two-digit convention), so the documented
        # SPARK_GRAFT_PROBE_OUT=PROBE_MULTIFILE_r{N}.json recipe round-stamps
        # itself instead of writing a literal '{N}' filename (r12 review;
        # ADVICE r12: the {N:02d} spelling previously survived as literal
        # text in the filename).
        from tools.staleness import current_round

        stamp = f"{current_round(root):02d}"
        out = root / OUT_NAME.replace("{N:02d}", stamp).replace("{N}", stamp)
    else:
        out = probe_path(root)
    # Merge-don't-clobber: partial probe invocations (one family at a time)
    # accumulate into the same round file.
    if out.exists():
        prior = json.loads(out.read_text())
        if (
            isinstance(prior, dict)
            and prior.get("small") == record["small"]
            and prior.get("big") == record["big"]
            and prior.get("factor") == record["factor"]
        ):
            merged = dict(prior.get("queries", {}))
            merged.update(record["queries"])
            record["queries"] = merged
    out.write_text(json.dumps(record, indent=1) + "\n")

    print(
        f"\n== scaling (steady-state run 2, {BIG_LABEL} vs {SMALL_LABEL})"
        f" -> {out.name} =="
    )
    for name, q in record["queries"].items():
        print(
            f"{name}: {q['small_sec']}s -> {q['big_sec']}s "
            f"(x{q['wall_ratio']}, exponent {q['exponent']}); shuffle write "
            f"{q['small_shuffle_write_mb']} -> {q['big_shuffle_write_mb']} MB, "
            f"read {q['small_shuffle_read_mb']} -> {q['big_shuffle_read_mb']} MB"
        )


if __name__ == "__main__":
    main()
