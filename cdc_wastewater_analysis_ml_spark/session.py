"""SparkSession construction with scale-oriented defaults.

The reference executes eagerly on one thread with no partitioning
(``codes.py:21`` onward).  This engine instead declares lazy DataFrame plans
and relies on Catalyst + AQE; the session defaults below are the knobs that
matter at cluster scale and are harmless in local mode:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- ``spark.sql.session.timeZone=UTC`` — pins event-time semantics so weekly /
  monthly bucketing is reproducible across machines (and matches DuckDB's
  naive-timestamp reading of the same parquet).
- Arrow enabled — every pandas interchange (createDataFrame/toPandas and all
  pandas UDFs) is batch-columnar, not row-pickled.
- ``spark.sql.codegen.cache.maxEntries`` sized to a registry sweep — see
  :data:`CODEGEN_CACHE_ENTRIES`.  Spark's default of 100 is smaller than
  the 211 classes one pass over the 17 ``olap_mix`` queries generates, so
  the LRU evicted each class before the pass came round to it again: every
  warm pass recompiled ~210 classes in Janino and HotSpot JIT-compiled them
  from scratch.  With the cache sized, a second pass compiles 0 classes,
  and the benchmark's ``olap_mix`` ``cpu_s`` per pass fell from 32.6 to
  23.5 s (medians of ten pairs, ``local[4]`` on a 4-vCPU host; DEVNOTES
  r17).

A local session this module launches starts its driver JVM from a dynamic
class-data-sharing archive (JEP 350) kept in the user cache, and records one
at JVM exit when none exists yet — see :func:`_class_data_launch`.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import warnings
import weakref
from typing import NamedTuple

from pyspark.sql import SparkSession

# Runtime-settable confs that query functions may re-assert on a session the
# caller (e.g. the verify driver) constructed without our builder.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS), which
    # Spark cannot read natively; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE change the OUTPUT partitioning of cached plans (default false
    # for plan-reuse conservatism).  The dedup/similarity family persists
    # its shingle/banded/edge intermediates, and with this off the cache-
    # materialization stages keep the static shuffle-partition count while
    # everything else coalesces — measured on pipeline_corpus_curation at
    # sf0.1: median 5.3 s (spikes to 10.9) → stable 4.5 s.  Results are
    # partition-layout invariant by house rule (tests/
    # test_partition_invariance.py), so the physical change is observable
    # only as speed.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Conservative AUTO-broadcast thresholds, both static and AQE-runtime.
    # Every size signal Spark's automatic decisions read is COMPRESSED —
    # parquet file stats for the static planner, shuffle block sizes for
    # AQE — and text-derived relations (docs, shingles, token arrays,
    # exploded or not) dictionary-compress 20-40×, so a "≤64 MB" side can
    # be a multi-GB in-memory build.  The r7 sf10 probe OOMed exactly this
    # way THREE times: static plan broadcasting a 58 MB-on-disk corpus
    # derivation, AQE broadcasting a 51 MB-compressed array relation, AQE
    # broadcasting the exploded verify rows.  4 MB × ~40× worst-case
    # expansion ≈ 160 MB build — safe on any sane executor.  Known-small
    # dimension joins are UNAFFECTED: the house rule broadcasts dims with
    # an explicit F.broadcast() hint (plan-tested), which ignores both
    # thresholds; genuinely tiny unhinted sides (≤4 MB compressed) still
    # auto-broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(4 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(4 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r14 (opt): PySpark 4's DataFrame-debugging hook walks a Python
    # traceback and makes an extra py4j round trip on EVERY DataFrame API
    # call to enrich error messages with the Python call site (~3 ms/call;
    # measured 0.65 s of the 1.33 s plan-construction time of
    # dedup_lsh_verified alone).  That cost is pure single-threaded DRIVER
    # time, paid per query build at every scale and every core count —
    # exactly the serial fraction that caps scale-out.  Error behavior is
    # unchanged except the message no longer names the Python line.
    # NB: pyspark caches this flag per process at the FIRST wrapped call,
    # so it must be set before any DataFrame op; get_spark() sessions get
    # it at build, and apply_runtime_confs() asserts it early (every
    # loader runs it) for driver-owned sessions.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: Entries of Spark's generated-class cache (``spark.sql.codegen.cache.
#: maxEntries``, a static conf, default 100) in sessions :func:`get_spark`
#: launches.  A query shape's whole-stage and expression classes then
#: compile once per session, and the JIT code built from them survives
#: between passes.  Building each of the 171 registry queries twice at
#: sf0.001 compiles 2,131 classes in one session; this holds that sweep,
#: rounded up to a power of two, for ~15 MB more metaspace (DEVNOTES r17).
CODEGEN_CACHE_ENTRIES = 4096

#: Static confs set on the JVM :func:`get_spark` launches and on the probe
#: sessions under ``tools/``.  Static: a live session cannot take them, so
#: they are not in ``RUNTIME_CONFS``.
LAUNCH_CONFS: dict[str, str] = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
}


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled in Janino so far: the sample
    count of Spark's ``CodegenMetrics`` compilation-time histogram.  A cache
    hit in the generated-class cache adds nothing; reading it runs no job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


#: Shared by the signature default and the reuse-warning comparison below —
#: two hardcoded copies could drift, making every default-argument call
#: warn spuriously (r10 review).
_DEFAULT_APP_NAME = "cdc-wastewater-analysis-ml-spark"


def get_spark(
    app_name: str = _DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Reuse is conf-preserving: when a session is already live (a caller's
    notebook, the verify driver, a composed pipeline), only the
    result-affecting RUNTIME_CONFS are asserted on it — ``app_name``,
    ``master`` and ``shuffle_partitions`` are defaults for a session this
    call CREATES, never overrides of one the caller owns.  The previous
    ``builder.getOrCreate()``-only form silently re-applied every builder
    conf onto a live session (``getOrCreate`` sets them as runtime confs),
    so embedding the CLI in an existing session renamed it and reset its
    shuffle parallelism — observed as an order-dependent plan change in the
    test suite (a 32-partition leak re-shuffling an 8-bucket store side).

    Only a session this call launches gets :data:`LAUNCH_CONFS`: a reused
    live session keeps its own codegen cache size (a static conf), and a
    Spark Connect server owns its confs.
    """
    # A session created in another thread is reusable but not "active" in
    # this one; builder.getOrCreate() below would find and clobber it, so
    # fall back to Spark's process-wide instantiated-session handle.
    active = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None  # private; absent on Connect
    )
    if active is not None:
        try:
            alive = active.sparkContext._jsc is not None
        except Exception:  # Spark Connect: no sparkContext, but live if listed
            alive = True
        if alive:
            # Reuse drops any explicitly-passed build args by design — but
            # silently, which strands a caller who asked for different
            # parallelism (r9 ADVICE).  Warn when a NON-DEFAULT request
            # differs from what the live session actually runs.
            requested = {
                "spark.sql.shuffle.partitions": (
                    None if shuffle_partitions is None else str(shuffle_partitions)
                ),
                "spark.master": master,
                # app_name defaults to a concrete string rather than None:
                # only a caller who CHANGED it asked for anything (r10
                # review — the third silently-dropped build arg).
                "spark.app.name": (
                    app_name if app_name != _DEFAULT_APP_NAME else None
                ),
            }
            for conf, want in requested.items():
                if want is None:
                    continue
                try:
                    have = active.conf.get(conf)
                except Exception:  # conf unreadable (Connect) — nothing to compare
                    continue
                if have != want:
                    warnings.warn(
                        f"get_spark: reusing the live SparkSession, ignoring "
                        f"explicit {conf}={want!r} (session has {have!r}); "
                        "stop the session first to rebuild with new settings",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            apply_runtime_confs(active)
            return active
    # SPARK_REMOTE names a Spark Connect server: pyspark refuses a master
    # next to it, and the server owns its driver's launch confs.
    remote = master is None and "SPARK_REMOTE" in os.environ
    if master is None and not remote:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = SparkSession.builder.appName(app_name)
    if not remote:
        builder = (
            builder.master(master)
            .config("spark.driver.memory", driver_memory)
            .config("spark.ui.enabled", "false")
        )
        for k, v in LAUNCH_CONFS.items():
            builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    ).config("spark.sql.parquet.filterPushdown", "true")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    launch = None if remote else _class_data_launch(master, driver_memory)
    if launch is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.extraJavaOptions", launch.java_opts)
        # For the launch only: the JVM reads SPARK_CONF_DIR from the
        # environment pyspark copies when it starts spark-submit.
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        from pyspark import SparkContext

        # A Connect session launches no local gateway, hence no dump.
        proc = getattr(SparkContext._gateway, "proc", None)
        if launch.dump_to is not None and proc is not None:
            atexit.register(_promote_archive, proc, launch.dump_to, os.getpid())
    apply_runtime_confs(spark)
    return spark


#: JVM logging of the class-data tags goes to stdout, and a dump writes
#: thousands of ``[warning][cds]`` lines there; both launches silence it.
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"

#: Set, any of these changes the driver's classpath, its conf or how the
#: driver is launched, so the archive's preconditions cannot be vouched for.
_LAUNCH_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT",
    # Spark Connect: getOrCreate returns a remote session, no local driver.
    "SPARK_REMOTE",
    "SPARK_CONNECT_MODE_ENABLED",
    "SPARK_LOCAL_REMOTE",
    "SPARK_API_MODE",
)

#: How long interpreter exit waits for the driver JVM to write its archive
#: (stopping a ``ww_pipeline`` session took 18.5 s with the dump, about 1 s
#: without, on a 4-vCPU host).
_DUMP_WAIT_S = 300

#: Archives kept in the cache, counting the one just recorded.  A new
#: ``java`` build, jar set or heap flag gives a new key; a promotion keeps
#: the most recently used archives of other keys up to this count and
#: deletes the rest, so superseded archives do not pile up.
_KEEP_ARCHIVES = 2


class _ClassDataLaunch(NamedTuple):
    java_opts: str  # spark.driver.extraJavaOptions for this launch
    conf_dir: str  # empty SPARK_CONF_DIR for this launch
    dump_to: str | None  # private file the JVM dumps to; None = archive in use


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _class_data_launch(master: str, driver_memory: str) -> _ClassDataLaunch | None:
    """JVM flags that start a new local driver from the cached class-data
    archive, or record it at exit; None when the session must start as
    before.

    The archive about halves the session start (traced ``ww_pipeline`` on
    a 4-vCPU host: 5.6 → 3.1 s).  The JVM validates an archive against the
    ``java`` build and the launch classpath, so the file name is keyed on
    those plus the heap flag: ``<key>.<size>.jsa``.  Two JVM behaviours
    shape the bookkeeping:

    - A dump aborts when any classpath entry is a non-empty directory, and
      Spark puts its conf dir first.  An unset ``SPARK_CONF_DIR`` whose
      default dir holds only ``*.template`` files (which Spark never reads)
      is swapped for an empty dir in the cache for the launch; any real
      conf file, Hadoop/YARN conf or extra classpath skips the archive.
    - A truncated archive crashes the JVM (SIGBUS), so the JVM dumps to a
      private ``<key>.<pid>.tmp`` that :func:`_promote_archive` renames
      into place only after the JVM exited with status 0, recording the
      size in the name; an archive whose size does not match is deleted.

    The gain needs an archive that survives from one process to the next.
    The first session per cache and key pays for the dump instead (slower
    start, and its process waits for the dump at exit); an environment
    that starts every run with an empty cache pays it on every run.
    """
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if master != "local" and not master.startswith("local["):
        return None
    # A JVM already running in this process would ignore the flags.
    if SparkContext._gateway is not None or any(map(os.environ.get, _LAUNCH_ENV)):
        return None
    spark_home = _find_spark_home()
    default_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(default_conf) and not all(
        n.endswith(".template") for n in os.listdir(default_conf)
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cds = os.path.join(os.path.abspath(cache), "spark-graft", "cds")
    # extraJavaOptions is split on whitespace and quotes.
    if java is None or any(c in cds for c in " \t\n'\"\\"):
        return None
    conf_dir = os.path.join(cds, "conf")
    jars_dir = os.path.join(spark_home, "jars")
    try:
        java = os.path.realpath(java)
        st = os.stat(java)
        jars = sorted((e.name, e.stat().st_size) for e in os.scandir(jars_dir))
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cds, os.W_OK | os.X_OK):
            return None
        classpath = os.pathsep.join([conf_dir + os.sep, os.path.join(jars_dir, "*")])
        heap = f"-Xmx{driver_memory}"
        validated = [java, st.st_size, st.st_mtime_ns, jars, classpath, heap]
        key = hashlib.sha256(json.dumps(validated).encode()).hexdigest()[:16]
        archive = None
        for entry in os.scandir(cds):
            parts = entry.name.split(".")
            if len(parts) != 3 or not parts[1].isdigit():
                continue
            if parts[2] == "tmp" and not _pid_alive(int(parts[1])):
                os.unlink(entry.path)
            elif parts[2] == "jsa" and parts[0] == key:
                if archive is None and entry.stat().st_size == int(parts[1]):
                    archive = entry.path
                else:
                    os.unlink(entry.path)
        if archive is not None:
            with contextlib.suppress(OSError):  # the mtime records the last use
                os.utime(archive)
    except OSError:
        return None
    if archive is not None:
        return _ClassDataLaunch(
            f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", conf_dir, None
        )
    dump_to = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return _ClassDataLaunch(
        f"-XX:ArchiveClassesAtExit={dump_to} {_CDS_QUIET}", conf_dir, dump_to
    )


def _promote_archive(proc: subprocess.Popen, dump_to: str, owner: int) -> None:
    """At interpreter exit: end the driver JVM, wait for its dump, and move
    the dump into place only if the JVM exited with status 0.

    Closing the gateway's stdin is how pyspark's JVM learns its Python
    driver is gone.  A JVM still dumping after the wait keeps its private
    file, which a later session deletes once this process is gone."""
    # A forked child inherits the hook but not the JVM (its poll() reads 0).
    if os.getpid() != owner:
        return
    try:
        if proc.poll() is None:
            from pyspark import SparkContext

            # Stopped first, the context's accumulator server is not left
            # to print an EOFError traceback when the JVM goes away.
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            proc.stdin.close()
            proc.wait(timeout=_DUMP_WAIT_S)
    except (OSError, subprocess.TimeoutExpired):
        return
    try:
        size = os.path.getsize(dump_to)
        if proc.returncode != 0 or size == 0:
            os.unlink(dump_to)
            return
        cds, name = os.path.split(dump_to)
        key = name.split(".")[0]
        final = f"{key}.{size}.jsa"
        os.replace(dump_to, os.path.join(cds, final))
        archives = [e for e in os.scandir(cds) if e.name.endswith(".jsa")]
        # Other archives of this key are stale; of other keys' archives,
        # the most recently used stay.
        stale = [e for e in archives if e.name.startswith(key + ".") and e.name != final]
        others = sorted(
            (e for e in archives if not e.name.startswith(key + ".")),
            key=lambda e: e.stat().st_mtime,
            reverse=True,
        )
        for entry in stale + others[_KEEP_ARCHIVES - 1:]:
            os.unlink(entry.path)
    except OSError:
        pass


#: Sessions already asserted — ``spark.conf.set`` is one py4j round trip per
#: conf, and the table loaders call :func:`apply_runtime_confs` on EVERY
#: load, so re-asserting the same values cost ~40 round trips of serial
#: driver time per query build (r15 opt).  Weak identity keys: a new wrapper
#: for the same JVM session (e.g. foreachBatch micro-batches) just misses
#: and re-applies — the pre-memo behavior, never stale.
_RUNTIME_CONFS_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def apply_runtime_confs(spark: SparkSession) -> None:
    """Assert the runtime-settable confs on an externally built session.

    Safe/idempotent: only touches confs that can change after JVM start.
    Called by the table loaders so driver-owned sessions get deterministic
    time-zone and AQE behavior too.  Applied once per session object —
    nothing in the engine mutates these confs afterwards, so one assertion
    pins them for the session's lifetime.
    """
    try:
        if spark in _RUNTIME_CONFS_APPLIED:
            return
    except TypeError:  # pragma: no cover - unhashable session type
        pass
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static on some builds
            pass
    try:
        _RUNTIME_CONFS_APPLIED.add(spark)
    except TypeError:  # pragma: no cover - weakref/hash unsupported
        pass
