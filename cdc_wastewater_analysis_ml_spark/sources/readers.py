"""Sources: CSV / Parquet scans and fixture-table loaders.

Reference behavior reproduced
-----------------------------
- ``scan_csv``: ``pd.read_csv(file, low_memory=False)`` (codes.py:21) — header
  row, full-file schema inference, empty fields → null.  Spark's two-pass
  ``inferSchema`` matches the observable behavior.  At scale, schema inference
  is a full extra scan, so production callers pass an explicit ``schema``.
- ``scan_parquet``: the engine's primary columnar substrate (driver fixtures,
  TESTDATA.md).  Parquet gives free predicate pushdown + column pruning via
  Catalyst — the two optimizations the reference lacks entirely (SURVEY §4.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

#: Fixture tables generated by the driver (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    infer: bool = True,
) -> DataFrame:
    """CSV scan ≙ ``pd.read_csv(..., low_memory=False)`` (codes.py:21).

    With ``schema`` given, the inference pass is skipped (the 100 TB path —
    inference re-reads the whole input before the real scan).
    """
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


#: r14 (opt): memoized parquet schemas.  Without an explicit schema every
#: ``spark.read.parquet`` runs a driver-side footer-inference job (~45 ms);
#: a 6-table TPC-H query paid six of them on EVERY build (driver-serial, so
#: it caps scale-out exactly like any other fixed driver cost).  The key
#: includes mtime+size so a rewritten path (test tmp dirs, refreshed
#: fixtures) can never serve a stale schema; non-local paths (os.stat
#: fails) skip the cache.  This memoizes METADATA only — every run still
#: computes results from the parquet bytes.
#:
#: r15 (VERDICT r14 #2): for DIRECTORY-shaped parquet paths the key also
#: folds in the leaf data files' (name, mtime_ns, size) — an in-place
#: part-file overwrite that keeps the filename need not bump the
#: directory's own mtime or size, so the r14 dir-stat key could serve a
#: stale schema across a schema-changing rewrite in a long-lived session.
#: A directory with SUBDIRECTORIES (hive partitions, ``p=1/part-*``)
#: skips the memo: a nested rewrite changes neither the root's stat nor
#: any top-level leaf, and a parent directory's mtime does not reflect
#: changes below its direct children.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _schema_cache_key(path: str) -> tuple | None:
    """Stat-derived invalidation key for ``path``, or None (skip cache)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key: tuple = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        try:
            leaves = []
            with os.scandir(path) as it:
                for e in it:
                    if e.is_dir():
                        return None
                    # data files only: _SUCCESS/._committed markers churn
                    # without schema meaning.
                    if e.is_file() and not e.name.startswith(("_", ".")):
                        est = e.stat()
                        leaves.append((e.name, est.st_mtime_ns, est.st_size))
            key += tuple(sorted(leaves))
        except OSError:
            return None
    return key


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with pushdown/pruning (engine substrate, TESTDATA.md)."""
    key = _schema_cache_key(path)
    if key is None:
        return spark.read.parquet(path)
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def scan_json(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Line-delimited JSON scan.  Without ``schema``, inference is a full
    extra pass over the text (same contract as :func:`scan_csv`) — the
    100 TB path always passes the schema."""
    reader = spark.read.option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    )  # micros — Spark's default truncates to millis (see sink_json)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — pushdown/pruning like parquet."""
    return spark.read.orc(path)


#: Event-time columns whose parquet physical type has varied across driver
#: fixture generations: TIMESTAMP(NANOS) (Spark reads as long via
#: ``spark.sql.legacy.parquet.nanosAsLong``) and plain micros with
#: isAdjustedToUTC=false (Spark 4 infers TIMESTAMP_NTZ).  The loader
#: normalizes BOTH to session-zone TimestampType (UTC per RUNTIME_CONFS) so
#: every downstream epoch cast / watermark / window sees one type,
#: value-identical to DuckDB's naive reading of the same column.
_EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _normalize_event_time(df: DataFrame, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for c in _EVENT_TIME_COLS.get(name, ()):
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):  # TIMESTAMP(NANOS) read as long
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, TimestampNTZType):  # micros, no UTC flag
            # wall values re-tagged as UTC instants — identical arithmetic
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from an sf directory."""
    apply_runtime_confs(spark)
    df = scan_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return _normalize_event_time(df, name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register them as temp views (SQL access)."""
    apply_runtime_confs(spark)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Guarantee minimum map-side parallelism for compute-bound stages.

    Local fixture files are single-row-group parquet, so the scan yields ONE
    split and every downstream hash/shingle/score expression runs on one core.
    On a real cluster the scan is already split (``maxPartitionBytes``), in
    which case this is a no-op — the guard only repartitions when the input
    has fewer source files than the session's parallelism.  Round-robin
    repartition is safe here: every caller is order-insensitive (hash, score,
    groupBy, join).

    The guard reads ``inputFiles()`` (a listing on the analyzed plan), NOT
    ``df.rdd.getNumPartitions()`` — the RDD conversion forces full physical
    planning and breaks under Spark Connect.  File count is a conservative
    proxy for split count (a giant multi-row-group file under-counts and
    triggers a redundant repartition — harmless; many files ≥ parallelism is
    the no-op cluster case).
    """
    spark = df.sparkSession
    try:
        target = partitions or spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext on the client
        target = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        n_sources = len(df.inputFiles())
    except Exception:  # non-file relations (rate source, in-memory)
        n_sources = 0
    if n_sources < target:
        return df.repartition(target)
    return df
