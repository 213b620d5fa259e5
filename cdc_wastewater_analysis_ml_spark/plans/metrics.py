"""Evaluation-metric operators in relational form (SURVEY §2.10).

The reference computes these with sklearn calls (codes.py:268-296); the engine
expresses each as a pure DataFrame aggregation so they are (a) distributed,
(b) oracle-checkable in SQL, and (c) reusable on any (label, score) relation,
not just MLlib output.

Scale shape: everything first collapses to one row per *distinct score*
(grouped agg, map-side combinable).  The cumulative TP/FP pass over that
per-threshold relation is a TWO-PHASE prefix sum — range-repartition by
descending threshold, cumsum within each partition, then add broadcast
per-partition offsets — so no single task ever materializes the whole
threshold relation, even for raw continuous scores (#thresholds ≈ #rows).
The only residual global window runs over ≤ #shuffle-partitions offset rows.
AUC / AP need no window at all: the per-threshold deltas (pos, n − pos) are
already in the grouped relation, so the trapezoid / step terms are row-wise
expressions followed by a plain sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def metric_accuracy(df: DataFrame, label: str, pred: str, out: str = "accuracy") -> DataFrame:
    """mean(pred == label) ≙ ``accuracy_score`` (codes.py:268)."""
    return df.select(
        F.avg((F.col(pred) == F.col(label)).cast("double")).alias(out)
    )


def metric_confusion_matrix(df: DataFrame, label: str, pred: str) -> DataFrame:
    """(label, pred) cell counts ≙ ``confusion_matrix`` (codes.py:296).

    Long form (one row per cell) rather than pivot: stable schema regardless
    of which classes appear, and directly SQL-comparable.
    """
    return df.groupBy(label, pred).agg(F.count(F.lit(1)).alias("cnt"))


def metric_classification_report(
    df: DataFrame, label: str, pred: str, include_averages: bool = True
) -> DataFrame:
    """Per-class precision/recall/F1/support plus sklearn's ``macro avg`` /
    ``weighted avg`` rows ≙ ``classification_report`` (codes.py:294), derived
    from confusion counts.

    ``klass`` is a string column so the average rows share the schema with
    the per-class rows (sklearn's dict output does the same).  The average
    rows fold the per-class relation (≤ #classes rows) with a melt +
    grouped weighted mean — macro weight 1, weighted weight = support.

    One data pass: the confusion relation (≤ #classes² rows) is frozen with
    a lazy ``localCheckpoint`` before fan-out.  Without it Catalyst pushes a
    different projection/filter into each of the 6+ consuming branches
    (support / predicted / tp / the average copies), the exchange subtrees
    diverge, and the full input is re-scanned per branch — the exact
    re-scan-per-consumer trap ``binary_curve`` solves the same way.
    """
    cells = metric_confusion_matrix(df, label, pred).localCheckpoint(eager=False)
    base = (
        cells.groupBy(F.col(label).alias("klass"))
        .agg(F.sum("cnt").alias("support"))
        .join(
            cells.groupBy(F.col(pred).alias("klass")).agg(
                F.sum("cnt").alias("predicted")
            ),
            on="klass",
            how="full",
        )
        .join(
            cells.filter(F.col(label) == F.col(pred))
            .groupBy(F.col(label).alias("klass"))
            .agg(F.sum("cnt").alias("tp")),
            on="klass",
            how="left",
        )
        .na.fill({"support": 0, "predicted": 0, "tp": 0})
    )
    precision = F.when(F.col("predicted") > 0, F.col("tp") / F.col("predicted")).otherwise(0.0)
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(0.0)
    f1 = F.when(
        (precision + recall) > 0, 2 * precision * recall / (precision + recall)
    ).otherwise(0.0)
    per_class = base.select(
        F.col("klass").cast("string").alias("klass"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        "support",
    )
    if not include_averages:
        return per_class
    # Melt each class row into a macro copy (weight 1) and a weighted copy
    # (weight = support), then one grouped weighted mean per average kind.
    tagged = base.select(
        F.explode(F.array(F.lit("macro avg"), F.lit("weighted avg"))).alias("klass"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        "support",
    )
    w = F.when(F.col("klass") == "macro avg", F.lit(1.0)).otherwise(
        F.col("support").cast("double")
    )
    averages = tagged.groupBy("klass").agg(
        (F.sum(F.col("precision") * w) / F.sum(w)).alias("precision"),
        (F.sum(F.col("recall") * w) / F.sum(w)).alias("recall"),
        (F.sum(F.col("f1") * w) / F.sum(w)).alias("f1"),
        F.sum("support").alias("support"),
    )
    return per_class.unionByName(averages)


def binary_curve(
    df: DataFrame,
    label: str,
    score: str,
    num_partitions: int | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Cumulative confusion stats at every distinct score threshold.

    The shared building block of ROC / PR / AUC / AP (codes.py:270,288):
    group rows by score (ONE shuffle over the raw data, partial-agg
    combinable), then cumulative TP/FP by descending score as a distributed
    two-phase prefix sum:

    1. range-repartition the per-threshold relation on ``threshold DESC`` and
       freeze the partition assignment (lazy ``localCheckpoint`` — both
       consumers below must see the SAME partitioning, and a re-executed
       range exchange re-samples its boundaries);
    2. cumulative sums *within* each partition (Window partitioned by the
       range-partition id — parallel, bounded state);
    3. per-partition totals → prefix offsets via a window over ≤
       ``num_partitions`` rows (the only global window, bounded by cluster
       config, never by data), broadcast-joined back.

    Integer tp/fp are exact regardless of where range boundaries land, so the
    result is identical to the single-window form while scaling to raw
    continuous scores (#thresholds ≈ #rows).  Columns: threshold, n, pos,
    tp, fp, tpr, fpr, precision, recall (+ ``__pos_total``/``__neg_total``
    when ``with_totals=True``, so AUC/AP can stay window-free).

    Fault-tolerance note: ``localCheckpoint`` blocks are NOT replicated — on
    a real cluster, losing an executor mid-job fails the job (it is re-run,
    never silently corrupted).  The checkpoint exists only to freeze the
    range-partition assignment so both downstream consumers see identical
    ``spark_partition_id`` values; a re-executed range exchange re-samples
    its boundaries.  Accepted tradeoff: a deterministic bucket key would
    need an extra percentile pass over the same relation every run.
    """
    per_score = df.groupBy(F.col(score).alias("threshold")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label).cast("long")).alias("pos"),
    )
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    part = (
        per_score.repartitionByRange(num_partitions, F.desc("threshold"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_in = Window.partitionBy("__pid").orderBy(F.desc("threshold")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_in = part.select(
        "threshold",
        "n",
        "pos",
        "__pid",
        F.sum("pos").over(w_in).alias("__tp_in"),
        F.sum(F.col("n") - F.col("pos")).over(w_in).alias("__fp_in"),
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = part.groupBy("__pid").agg(
        F.sum("pos").alias("__pid_pos"),
        F.sum(F.col("n") - F.col("pos")).alias("__pid_neg"),
    ).select(
        "__pid",
        F.coalesce(F.sum("__pid_pos").over(w_off), F.lit(0)).alias("__tp_off"),
        F.coalesce(F.sum("__pid_neg").over(w_off), F.lit(0)).alias("__fp_off"),
    )
    cum = cum_in.join(F.broadcast(offsets), "__pid").select(
        "threshold",
        "n",
        "pos",
        (F.col("__tp_in") + F.col("__tp_off")).alias("tp"),
        (F.col("__fp_in") + F.col("__fp_off")).alias("fp"),
    )
    # Collision-proof aliases: bare "P"/"N" collide case-insensitively with
    # the per-threshold "n" under Spark's default spark.sql.caseSensitive=false.
    # Totals come from the checkpointed per-threshold relation, NOT the raw
    # input — summing ``df`` directly would be a second full scan of the data
    # (2× the I/O at scale); ``part`` is already materialized and ≤ #distinct
    # scores rows, and Σpos / Σ(n−pos) over it are the same exact integers.
    totals = part.select(
        F.sum("pos").alias("__pos_total"),
        F.sum(F.col("n") - F.col("pos")).alias("__neg_total"),
    )
    cols = [
        F.col("threshold"),
        F.col("n"),
        F.col("pos"),
        F.col("tp"),
        F.col("fp"),
        (F.col("tp") / F.col("__pos_total")).alias("tpr"),
        (F.col("fp") / F.col("__neg_total")).alias("fpr"),
        (F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        (F.col("tp") / F.col("__pos_total")).alias("recall"),
    ]
    if with_totals:
        cols += [F.col("__pos_total"), F.col("__neg_total")]
    return cum.crossJoin(F.broadcast(totals)).select(*cols)


def roc_auc_term() -> Column:
    """Trapezoid area over [prev, cur] for one ``binary_curve(...,
    with_totals=True)`` row; ROC-AUC is its plain ``sum``.

    Because tp/fp are cumulative by descending threshold, each curve row
    already knows its predecessor point — ``prev_tp = tp − pos``,
    ``prev_fp = fp − (n − pos)``.  The first (highest) threshold has prev =
    (0, 0), which IS sklearn's prepended threshold=inf point.
    """
    prev_tp = F.col("tp") - F.col("pos")
    prev_fp = F.col("fp") - (F.col("n") - F.col("pos"))
    return (
        (F.col("fp") - prev_fp)
        / F.col("__neg_total")
        * (F.col("tp") + prev_tp)
        / (2.0 * F.col("__pos_total"))
    )


def average_precision_term() -> Column:
    """Step-AP term (Rₙ−Rₙ₋₁)·Pₙ for one ``binary_curve(...,
    with_totals=True)`` row; AP is its plain ``sum``.  Rₙ−Rₙ₋₁ = pos /
    P_total (recall's delta is exactly this row's positive count), so no lag
    window is needed."""
    return F.col("pos") / F.col("__pos_total") * F.col("precision")


def metric_roc_auc(df: DataFrame, label: str, score: str, out: str = "roc_auc") -> DataFrame:
    """Trapezoidal AUC over the ROC curve ≙ ``auc(fpr, tpr)`` (codes.py:271).

    Window-free: the trapezoid per threshold is the row-wise
    :func:`roc_auc_term`, and AUC is one ``sum``.  No global window, no
    single-task pass over the per-threshold relation (#thresholds ≈ #rows
    for continuous scores).
    """
    curve = binary_curve(df, label, score, with_totals=True)
    return curve.select(roc_auc_term().alias("area")).select(F.sum("area").alias(out))


def metric_average_precision(
    df: DataFrame, label: str, score: str, out: str = "average_precision"
) -> DataFrame:
    """Step-interpolated AP = Σ (Rₙ−Rₙ₋₁)·Pₙ ≙ ``average_precision_score``
    (codes.py:269).  NOT the trapezoidal ``areaUnderPR`` — SURVEY §2.10 pins
    the sklearn step form; MLlib's evaluator is only an approximation of it.

    Window-free: the row-wise :func:`average_precision_term` followed by one
    ``sum`` — no lag window.
    """
    curve = binary_curve(df, label, score, with_totals=True)
    return curve.select(average_precision_term().alias("contrib")).select(
        F.sum("contrib").alias(out)
    )


def metric_roc_auc_average_precision(df: DataFrame, label: str, score: str) -> DataFrame:
    """ROC-AUC and step-AP in one row (columns ``roc_auc``,
    ``average_precision``), summed over ONE threshold curve.

    :func:`metric_roc_auc` and :func:`metric_average_precision` each build
    their own ``binary_curve`` (a range repartition with its sampling job, a
    checkpoint, the prefix-sum window, offsets and totals); a caller that
    needs both pays for that twice.  Here both terms are summed in one
    aggregate over the same curve rows and the same partitioning, so each
    value is bit-identical to its single-metric query.
    """
    curve = binary_curve(df, label, score, with_totals=True)
    return curve.select(
        F.sum(roc_auc_term()).alias("roc_auc"),
        F.sum(average_precision_term()).alias("average_precision"),
    )
