"""One-command reference-equivalent pipeline (≙ running ``codes.py`` end to
end): ingest → feature engineering (EP1) → EDA aggregates (EP2) → 4-scenario
ML train/evaluate (EP3) → processed CSV + results table.

Usage:
    python -m cdc_wastewater_analysis_ml_spark INPUT [--out DIR] [--max-iter N]
           [--corrected] [--csv | --parquet]

INPUT is a ``wastewater_samples`` CSV (like the reference's
``CDC_Wastewater_Data_for_Influenza_A.csv``) or parquet.  ``--corrected``
switches on the leakage/ordering fixes SURVEY §7 documents (default preserves
the reference's observed semantics).  A synthetic input can be generated with
``python -m tools.wastewater_fixture OUT_DIR [N_ROWS]``.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from .operators import aggregates as A
from .operators import relational as R
from .plans import ml
from .plans.features import engineer_features, model_ready
from .schema import LABEL_COLUMN, MODEL_FEATURES, WASTEWATER_SCHEMA
from .session import get_spark
from .sources import scan_csv, scan_parquet, sink_csv


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cdc_wastewater_analysis_ml_spark")
    p.add_argument("input")
    p.add_argument("--out", default="pipeline_out")
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--corrected", action="store_true")
    p.add_argument("--parquet", action="store_true", help="input is parquet")
    args = p.parse_args(argv)

    spark = get_spark("wastewater-pipeline")

    # EP1 — ingest + feature engineering (codes.py:21-111)
    raw = (
        scan_parquet(spark, args.input)
        if args.parquet
        else scan_csv(spark, args.input, schema=WASTEWATER_SCHEMA)
    )
    engineered = engineer_features(
        raw, corrected_flowpop_indicator=args.corrected
    ).persist()

    try:
        # EP2 — EDA aggregates (codes.py:113-173); .show() ≙ the reference's plots
        print("== weekly mean log concentration (codes.py:117-120)")
        A.agg_mean_resampled(
            engineered.na.drop(subset=["sample_collect_date"]),
            "sample_collect_date",
            "log_pcr_target_conc",
        ).orderBy("week_start").show(8, truncate=False)

        print("== monthly detection rate (codes.py:141-158)")
        flagged = engineered.na.drop(subset=["collection_month"])
        A.agg_conditional_rate(
            flagged.withColumn("flag", F.col("influenza_a_detected")),
            "collection_month",
            "flag",
        ).orderBy("collection_month").show(12)

        print("== top-10 jurisdictions by sample count (codes.py:160-173)")
        R.topk_categories(engineered, "wwtp_jurisdiction", 10).show()

        # EP3 — 4-scenario ML comparison (codes.py:180-309)
        model_df = model_ready(engineered)
        n = model_df.count()
        print(f"== model-ready rows: {n} (reference: 212,401 on the real CSV)")
        results = ml.run_reference_scenarios(
            model_df, MODEL_FEATURES, LABEL_COLUMN, seed=42, max_iter=args.max_iter
        )
        print("== results (codes.py:309)")
        header = f"{'model':34} {'accuracy':>9} {'roc_auc':>9} {'avg_prec':>9}"
        print(header)
        for r in results:
            print(
                f"{r.model:34} {r.accuracy:9.4f} {r.roc_auc:9.4f} "
                f"{r.average_precision:9.4f}"
            )

        # sink ≙ df.to_csv(out, index=False) (codes.py:177)
        # Written from the cache, then released: unpersisting first would make
        # the sink re-parse the input and re-run EP1.
        sink_csv(engineered, f"{args.out}/processed_csv")
        print(f"== processed table written to {args.out}/processed_csv")
    finally:
        engineered.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
