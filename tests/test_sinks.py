"""Sink round-trips (SURVEY §2.1) and the bucketed co-located-join layout
(§4.2): write → read-back parity, partition pruning, and exchange-free joins."""

from pyspark.sql import functions as F

from cdc_wastewater_analysis_ml_spark.sources import (
    load_table,
    scan_csv,
    scan_parquet,
    sink_csv,
    sink_parquet,
    sink_parquet_bucketed,
)


def test_csv_roundtrip(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = str(tmp_path / "events_csv")
    sink_csv(ev, out, single_file=True)
    back = scan_csv(spark, out)
    # inference recovers names and value types (ints may narrow: long→int
    # when every value fits, same as pandas' int64 vs the observable data)
    assert back.columns == ev.columns
    assert [f.dataType.simpleString() for f in back.schema[2:]] == ["string", "double"]
    assert back.count() == ev.count()
    a = {r["event_id"]: r for r in ev.collect()}
    for r in back.collect():
        assert r["value"] == a[r["event_id"]]["value"]


def test_parquet_partitioned_pruning(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events")
    out = str(tmp_path / "events_part")
    sink_parquet(ev, out, partition_by=["event_type"])
    back = scan_parquet(spark, out)
    assert back.count() == ev.count()
    pruned = back.filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must prune at the scan, not post-filter all files
    assert "PartitionFilters" in plan and "event_type" in plan
    assert pruned.count() == ev.filter(F.col("event_type") == "click").count()


def test_bucketed_join_no_exchange(spark, sf_small, tmp_path):
    ev = load_table(spark, sf_small, "events")
    left = ev.select("event_id", "user_id", "value")
    right = ev.groupBy("user_id").agg(F.avg("value").alias("user_avg"))
    for t in ("b_left", "b_right"):  # clear stale managed-table locations
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    sink_parquet_bucketed(left, "b_left", ["user_id"], 8, sort_cols=["user_id"])
    sink_parquet_bucketed(right, "b_right", ["user_id"], 8, sort_cols=["user_id"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path: at fixture scale Catalyst would rather
        # broadcast (and skip bucketing); at 100 TB neither side broadcasts
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l, r = spark.table("b_left"), spark.table("b_right")
        joined = l.join(r, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located layout: the sort-merge join needs NO shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        expect = left.join(right, "user_id").count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_json_roundtrip_preserves_timestamps(spark, sf_small, tmp_path):
    """JSON serializes timestamps as ISO strings; re-reading with the explicit
    schema must restore them to the microsecond (the events fixture carries
    non-zero micros)."""
    from cdc_wastewater_analysis_ml_spark.sources import (
        load_table,
        scan_json,
        sink_json,
    )

    ev = load_table(spark, sf_small, "events").select("event_id", "ts", "value")
    path = str(tmp_path / "events_json")
    sink_json(ev, path)
    back = scan_json(spark, path, ev.schema)
    a = ev.orderBy("event_id").toPandas()
    b = back.orderBy("event_id").toPandas()
    assert (a["ts"].to_numpy() == b["ts"].to_numpy()).all()
    assert (a["value"].to_numpy() == b["value"].to_numpy()).all()


def test_schema_memo_invalidates_on_inplace_part_rewrite(spark, tmp_path):
    """VERDICT r14 #2: an in-place part-file overwrite that preserves the
    filename (and need not bump the directory's mtime/size) must still
    invalidate the scan_parquet schema memo — the key folds in leaf-file
    stats, so the NEW schema is read, never a stale cached one."""
    import os

    out = str(tmp_path / "memo_dir")
    spark.range(5).select(F.col("id").alias("k")).coalesce(1).write.parquet(out)
    first = scan_parquet(spark, out)
    assert [f.name for f in first.schema] == ["k"]

    part = next(
        e.path for e in os.scandir(out)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    dir_stat_before = (os.stat(out).st_mtime_ns, os.stat(out).st_size)
    # rewrite the SAME part filename with a different schema
    tmp2 = str(tmp_path / "other")
    spark.range(3).select(
        F.col("id").alias("v"), F.lit("x").alias("tag")
    ).coalesce(1).write.parquet(tmp2)
    newpart = next(
        e.path for e in os.scandir(tmp2)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    os.replace(newpart, part)
    # drop Hadoop LocalFS's hidden sidecar checksum of the OLD bytes (an
    # in-place rewrite outside Hadoop leaves it stale → ChecksumException)
    crc = os.path.join(out, f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    # pin the directory stats back so ONLY the leaf file distinguishes
    os.utime(out, ns=(dir_stat_before[0], dir_stat_before[0]))

    back = scan_parquet(spark, out)
    assert sorted(f.name for f in back.schema) == ["tag", "v"]
    assert back.count() == 3


def test_schema_memo_skips_hive_partitioned_dirs(spark, tmp_path):
    """ADVICE r15 #1: for a hive-partitioned directory (``t/p=1/part-*``)
    an in-place rewrite of a NESTED part file changes neither the root
    directory's stat nor any top-level leaf, so a memo keyed on those
    served the stale schema.  scan_parquet must read what
    spark.read.parquet reads after the rewrite."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    part_dir = tmp_path / "t" / "p=1"
    part_dir.mkdir(parents=True)
    part = str(part_dir / "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), part)
    root = str(tmp_path / "t")
    assert sorted(f.name for f in scan_parquet(spark, root).schema) == ["a", "p"]

    root_stat = os.stat(root)
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    os.utime(root, ns=(root_stat.st_atime_ns, root_stat.st_mtime_ns))

    want = sorted(f.name for f in spark.read.parquet(root).schema)
    assert want == ["a", "b", "p"]
    assert sorted(f.name for f in scan_parquet(spark, root).schema) == want
