"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``cdc_wastewater_analysis_ml_spark``; this module
re-exports the registry (``plans/registry.py``) with one twist: the driver
verifies a bounded prefix of ``queries()`` per round (r1 recorded exactly the
first 50 dict entries), so the ordering below puts the queries with the
LEAST-RECENT certifying driver row first.  Every query still appears; only the
order rotates, so over successive rounds the whole registry accumulates hard
CORRECTNESS coverage instead of re-spending the budget on the same prefix.

Staleness is computed, not registered.  A green row of
``CORRECTNESS_r{N}.json`` certifies a query only while the query's call-path
fingerprint (``tools/staleness.py``: a hash of the AST of every top-level
definition its ``@register`` function reaches) equals the fingerprint it had
in round N.  ``FINGERPRINTS.json`` holds those per-round snapshots, computed
on each round's verdict commit.  After a verdict round, regenerate it with
``python -m tools.staleness``; ``tests/test_staleness_registration.py``
fails while a round lacks its snapshot.  This module never calls git: the
current fingerprints are computed inside ``queries()``.  If the manifest is
missing or unreadable, or fingerprinting raises, every query is stale — the
safe direction, since re-verifying costs budget and never hides a change.
"""

from __future__ import annotations

import json
import re
import warnings
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from cdc_wastewater_analysis_ml_spark.plans import registry

_ROOT = Path(__file__).resolve().parent


def _current_fingerprints() -> dict[str, str] | None:
    """query -> call-path fingerprint of the imported package; None when it
    cannot be computed (every query is then stale)."""
    try:
        from tools.staleness import fingerprints

        return fingerprints(Path(registry.__file__).resolve().parents[2])
    except Exception as exc:  # the contract must hold; a stale order is safe
        warnings.warn(
            f"call-path fingerprints unavailable, every query is stale: {exc!r}"
        )
        return None


def _last_green_round(root: Path, current: dict[str, str] | None) -> dict[str, int]:
    """name -> latest round whose fully-green CORRECTNESS row (from the
    driver-committed ``CORRECTNESS_r*.json`` files in ``root``) still
    certifies the query: its fingerprint in that round's snapshot in
    ``root/FINGERPRINTS.json`` equals ``current``."""
    if current is None:
        return {}
    try:
        snapshots = json.loads((root / "FINGERPRINTS.json").read_text())
    except (OSError, ValueError):
        return {}
    if not isinstance(snapshots, dict):
        return {}
    green: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        snapshot = snapshots.get(str(rnd))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict) or not isinstance(snapshot, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err in (None, ""):
                # Hard green: at least one positive *_match signal required
                # (a partially-written row with no match fields must NOT
                # count as verified), and no negative one.
                matches = [v for k, v in row.items() if k.endswith("_match")]
                if not any(v is True for v in matches):
                    continue
                if any(v is False for v in matches):
                    continue
            elif err == "no_oracle":
                # Rows-only query: the driver ran it and got a row count —
                # that IS its strongest available signal; count it so these
                # rotate like the rest instead of pinning the queue head.
                if row.get("spark_rows") is None:
                    continue
            else:
                continue
            fingerprint = current.get(name)
            if fingerprint is None or snapshot.get(name) != fingerprint:
                continue  # the code changed since round N verified it
            green[name] = max(green.get(name, -1), rnd)
    return green


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: weekly detection-rate trend
    (scan → binary label → event-time weekly bucket → fused rate agg → sort).
    """
    return registry.QUERIES["flagship_weekly_detection_rate"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, least-recently
    certified first (see module docstring)."""
    green = _last_green_round(_ROOT, _current_fingerprints())
    names = list(registry.QUERIES)
    index = {n: i for i, n in enumerate(names)}
    ordered = sorted(names, key=lambda n: (green.get(n, -1), index[n]))
    return {n: registry.QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; ops without a SQL equivalent are
    omitted (driver records a rows-only check for those)."""
    return {k: v for k, v in registry.ORACLES.items() if v is not None}
