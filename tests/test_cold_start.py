"""The driver JVM's class-data archive (``session._class_data_launch``).

Each test launches fresh Python processes — the suite's own session already
has a JVM, which no flag can change — with ``XDG_CACHE_HOME`` pointed at a
temporary directory.  One module-scoped CLI run records the archive; the
tests then start further processes against that cache."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from cdc_wastewater_analysis_ml_spark.session import (
    LAUNCH_CONFS,
    _LAUNCH_ENV,
    _promote_archive,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CSV = os.path.join(ROOT, "fixtures", "wastewater_samples.csv")

# Starts a session, runs one job and prints the JVM's class-data flags.
PROBE = """
import json
from cdc_wastewater_analysis_ml_spark.session import get_spark
spark = get_spark("cds-probe", master="local[1]")
assert spark.range(3).count() == 3
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print(json.dumps([a for a in args if a.startswith("-XX:") and "Archive" in a]))
"""


def _env(cache, **extra):
    env = {k: v for k, v in os.environ.items() if k not in _LAUNCH_ENV}
    env.update(XDG_CACHE_HOME=str(cache), PYTHONPATH=ROOT, **extra)
    return env


def _run(args, env, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def _probe(cache, **extra) -> list[str]:
    return json.loads(_run(["-c", PROBE], _env(cache, **extra)).splitlines()[-1])


def _cli(cache, out) -> str:
    return _run(
        ["-m", "cdc_wastewater_analysis_ml_spark", CSV, "--out", str(out),
         "--max-iter", "2"],
        _env(cache),
    )


def _cds_files(cache):
    d = cache / "spark-graft" / "cds"
    return sorted(p for p in d.iterdir() if p.is_file())


def _assert_cds_quiet(stdout: str):
    noisy = [ln for ln in stdout.splitlines() if "[cds" in ln or "[warning]" in ln]
    assert not noisy, noisy[:5]


@pytest.fixture(scope="module")
def primed(tmp_path_factory):
    """A cache whose archive was recorded by one CLI run (the dump run)."""
    conf = os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("Spark's default conf dir holds a real conf file")
    cache = tmp_path_factory.mktemp("xdg")
    stdout = _cli(cache, tmp_path_factory.mktemp("out"))
    return cache, stdout


def test_first_process_promotes_a_complete_archive(primed):
    cache, _ = primed
    files = _cds_files(cache)
    assert [p.suffix for p in files] == [".jsa"], files  # no *.tmp left
    key, size, _ = files[0].name.split(".")
    assert files[0].stat().st_size == int(size) > 0
    # The dynamic-archive magic (0xf00baba8, little-endian).
    assert files[0].read_bytes()[:4] == bytes.fromhex("a8ab0bf0")


def test_second_process_starts_from_the_archive(primed):
    cache, _ = primed
    (archive,) = _cds_files(cache)
    assert _probe(cache) == [f"-XX:SharedArchiveFile={archive}"]


def test_cli_prints_no_class_data_log_on_dump_or_use(primed, tmp_path):
    cache, dump_stdout = primed
    assert "== results" in dump_stdout
    _assert_cds_quiet(dump_stdout)
    use_stdout = _cli(cache, tmp_path / "out")
    assert "== results" in use_stdout
    _assert_cds_quiet(use_stdout)


def test_truncated_archive_is_discarded(primed):
    """A JVM mapping a truncated archive dies with SIGBUS; the recorded size
    must keep such a file from ever reaching the JVM.  The process starts
    unshared, records a fresh archive and leaves the cache primed."""
    cache, _ = primed
    (archive,) = _cds_files(cache)
    data = archive.read_bytes()
    archive.unlink()
    archive.write_bytes(data[: len(data) // 2])
    flags = _probe(cache)
    assert len(flags) == 1 and flags[0].startswith("-XX:ArchiveClassesAtExit=")
    (fresh,) = _cds_files(cache)
    assert fresh.stat().st_size == int(fresh.name.split(".")[1])


def test_real_spark_conf_file_disables_the_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    cache = tmp_path / "xdg"
    assert _probe(cache, SPARK_CONF_DIR=str(conf)) == []
    assert not (cache / "spark-graft").exists()


# Starts no JVM: captures the options get_spark hands to getOrCreate.
CONNECT_PROBE = """
import json
from pyspark.errors import PySparkImportError, PySparkRuntimeError
from pyspark.sql import SparkSession
from cdc_wastewater_analysis_ml_spark.session import _class_data_launch, get_spark

class Captured(Exception):
    pass

def capture(builder):
    raise Captured(json.dumps(builder._options))

SparkSession.Builder.getOrCreate = capture
try:
    get_spark("connect-probe")
except Captured as exc:
    options = json.loads(str(exc))
    flags = [k for k in options if "JavaOptions" in k]
except (PySparkImportError, PySparkRuntimeError) as exc:  # refused before any launch
    options = flags = exc.getCondition()
print(json.dumps([flags, _class_data_launch("local[*]", "8g") is None, options]))
"""


@pytest.mark.parametrize("var,value", [
    ("SPARK_REMOTE", "sc://localhost:15002"),
    ("SPARK_CONNECT_MODE_ENABLED", "1"),
    ("SPARK_LOCAL_REMOTE", "1"),
    ("SPARK_API_MODE", "connect"),
])
def test_spark_connect_gets_no_class_data_flags(tmp_path, var, value):
    """Any of these makes getOrCreate return a Connect session: no local
    driver JVM is launched, so flags would only reach the server.  Where
    pyspark refuses before any launch (no Connect client installed), no
    flags are built either.  ``SPARK_REMOTE`` must reach getOrCreate: the
    builder holds no master, which pyspark refuses next to it, and no
    launch conf such as the codegen cache size, which the server owns."""
    cache = tmp_path / "xdg"
    out = _run(["-c", CONNECT_PROBE], _env(cache, **{var: value}))
    flags, no_launch, options = json.loads(out.splitlines()[-1])
    assert (flags == [] or isinstance(flags, str)) and no_launch, flags
    if var == "SPARK_REMOTE":
        assert isinstance(options, dict), options
        assert flags == [] and "spark.master" not in options, options
        assert not set(LAUNCH_CONFS) & set(options), options
    assert not (cache / "spark-graft").exists()
    # The same probe without the variable does pass the flags.
    out = _run(["-c", CONNECT_PROBE], _env(cache))
    flags, no_launch, options = json.loads(out.splitlines()[-1])
    assert [flags, no_launch] == [["spark.driver.extraJavaOptions"], False]
    assert options["spark.master"].startswith("local[")
    assert {k: options[k] for k in LAUNCH_CONFS} == LAUNCH_CONFS


def test_only_a_clean_jvm_exit_promotes_the_dump(tmp_path):
    """A promotion also deletes the key's previous archive and keeps, of
    other keys' archives (an older ``java`` build or heap flag), only the
    most recently used."""

    class Exited:  # a driver JVM that already exited with ``returncode``
        def __init__(self, returncode):
            self.returncode = returncode

        def poll(self):
            return self.returncode

    dump = tmp_path / "k.123.tmp"
    dump.write_bytes(b"x" * 10)
    _promote_archive(Exited(1), str(dump), os.getpid())
    assert list(tmp_path.iterdir()) == []
    dump.write_bytes(b"x" * 10)
    # name → last use (mtime); k.7 is the key's previous archive.
    for name, used in {"a.7.jsa": 2000, "b.7.jsa": 1000, "k.7.jsa": 3000}.items():
        (tmp_path / name).write_bytes(b"y" * 7)
        os.utime(tmp_path / name, (used, used))
    _promote_archive(Exited(0), str(dump), os.getpid())
    assert sorted(p.name for p in tmp_path.iterdir()) == ["a.7.jsa", "k.10.jsa"]
